package perfbench

import org.apache.spark.sql.types._

import graft.schema.FieldCatalog

/** Seeded PurpleAir multi-sensor payloads and the answers the program must
  * give for them.
  *
  * A payload is the columnar `GET /v1/sensors` envelope: a `fields` list
  * (`sensor_index` plus every [[FieldCatalog]] field under its wire name)
  * and one `data` row per sensor, each value in its wire type (JSON numbers
  * for numeric and epoch fields, JSON strings for text). Every value is a
  * pure function of (seed, poll, sensor, field), so the same seed yields
  * byte-identical payloads, and the expected answers below are computed
  * from the same functions without Spark.
  */
final case class Payloads(seed: Long, sensors: Int, polls: Int,
    startEpoch: Long, spacingSeconds: Long) {
  import Payloads._

  val sensorIds: IndexedSeq[Int] =
    (0 until sensors).map(i => 1000 + i * 7 + (mix(seed, 0, i, 0) % 5).toInt)

  def pollEpoch(poll: Int): Long = startEpoch + poll * spacingSeconds

  def sensorName(sensor: Int): String = s"Station ${sensorIds(sensor)} #${mix(seed, 1, sensor, 0) % 97}"

  /** The wire value of one catalog field as its JSON token. */
  def wire(poll: Int, sensor: Int, fieldIdx: Int): String = {
    val f = FieldCatalog.fields(fieldIdx)
    val h = mix(seed, poll + 2, sensor, fieldIdx + 1)
    f.apiName match {
      case "name" => quote(sensorName(sensor))
      case "uptime" => (86400L + poll * spacingSeconds + sensor).toString
      case "last_seen" | "last_modified" => (pollEpoch(poll) - (h % 300)).toString
      case "date_created" => (startEpoch - 86400L * (1 + sensor % 400)).toString
      case _ => f.dataType match {
        case DoubleType => decimal1(h % 200000L)
        case IntegerType => (h % 1000L).toString
        case LongType => (h % 1000000L).toString
        case StringType => quote(s"${f.apiName.take(3)}-${h % 1000}")
        case TimestampType => (pollEpoch(poll) - (h % 3600)).toString
        case other => sys.error(s"no generator for $other")
      }
    }
  }

  /** The conformed value `wire` turns into after `Transforms.conform`. */
  def typed(poll: Int, sensor: Int, fieldIdx: Int): Any = {
    val f = FieldCatalog.fields(fieldIdx)
    val w = wire(poll, sensor, fieldIdx)
    f.dataType match {
      case DoubleType => w.toDouble
      case IntegerType => w.toInt
      case LongType => w.toLong
      case StringType => unquote(w)
      case TimestampType => w.toLong
      case other => sys.error(s"no conformed form for $other")
    }
  }

  /** One poll's payload, as the API returns it. */
  def payload(poll: Int): String = {
    val t = pollEpoch(poll)
    val sb = new java.lang.StringBuilder(sensors * 900)
    sb.append("{\"api_version\":\"V1.0.11-0.0.49\",\"time_stamp\":").append(t + 5)
      .append(",\"data_time_stamp\":").append(t)
      .append(",\"max_age\":604800,\"firmware_default_version\":\"7.02\",\"fields\":[\"sensor_index\"")
    FieldCatalog.fields.foreach(f => sb.append(",\"").append(f.apiName).append('"'))
    sb.append("],\"data\":[")
    var s = 0
    while (s < sensors) {
      if (s > 0) sb.append(',')
      sb.append('[').append(sensorIds(s))
      var i = 0
      while (i < FieldCatalog.fields.size) { sb.append(',').append(wire(poll, s, i)); i += 1 }
      sb.append(']')
      s += 1
    }
    sb.append("]}").toString
  }

  /** The request's field list, as `runStream` reads it from the config. */
  def requestedFields: Seq[String] = "sensor_index" +: FieldCatalog.fields.map(_.apiName)

  // ------------------------------------------------------- expected answers

  /** Per-poll key summary every fan-out table must show:
    * (epoch, rows, distinct sensors, sum of sensor ids). */
  def expectedKeys(pollsLanded: Int): Seq[KeySummary] = {
    val n = sensors.toLong
    val sum = sensorIds.map(_.toLong).sum
    (0 until pollsLanded).map(p => KeySummary(pollEpoch(p), n, n, sum))
  }

  private lazy val pm25Idx = FieldCatalog.fields.indexWhere(_.colName == "pm2_5")

  /** Hourly rollup rows that are final once `pollsLanded` polls have been
    * read: buckets whose end lies at or before the watermark (newest event
    * − 2 h, `ContinuousAggregate.hourly`'s delay). */
  def expectedHourly(pollsLanded: Int): Seq[HourlyRow] = {
    val watermark = pollEpoch(pollsLanded - 1) - 2 * 3600L
    val byBucket = (0 until pollsLanded).groupBy(p => Math.floorDiv(pollEpoch(p), 3600L) * 3600L)
    byBucket.toSeq.filter { case (b, _) => b + 3600L <= watermark }.flatMap { case (b, ps) =>
      (0 until sensors).map { s =>
        val vals = ps.map(p => BigDecimal(wire(p, s, pm25Idx)))
        HourlyRow(b, sensorIds(s), sensorName(s), ps.size.toLong,
          vals.sum.toDouble, vals.max.toDouble)
      }
    }.sortBy(r => (r.bucket, r.sensor))
  }

  /** `Dashboard.panel` once `landed` polls have landed: per-bucket max of
    * every numeric measure of `group` for one sensor over `[from, until)`.
    * Rows: bucket epoch, then maxima. */
  def expectedPanel(group: String, sensor: Int, from: Long, until: Long,
      intervalSeconds: Long, landed: Int): Seq[Seq[Any]] = {
    val measures = panelMeasures(group).map(c => FieldCatalog.fields.indexWhere(_.colName == c))
    (0 until landed).filter(p => pollEpoch(p) >= from && pollEpoch(p) < until)
      .groupBy(p => Math.floorDiv(pollEpoch(p), intervalSeconds) * intervalSeconds)
      .toSeq.sortBy(_._1).map { case (b, ps) =>
        b +: measures.map { i =>
          ps.map(p => typed(p, sensor, i)).reduce(maxOf)
        }
      }
  }

  /** `Dashboard.rawPanel` over the station table once `landed` polls have
    * landed. */
  def expectedRaw(columns: Seq[String], sensor: Int, from: Long, until: Long,
      landed: Int): Seq[Seq[Any]] = {
    val idx = columns.map(c => FieldCatalog.fields.indexWhere(_.colName == c))
    (0 until landed).filter(p => pollEpoch(p) >= from && pollEpoch(p) < until)
      .map(p => pollEpoch(p) +: idx.map(i => typed(p, sensor, i)))
  }

  /** `Dashboard.sensorDirectory`: (sensor_index, name, combo) by sensor. */
  def expectedDirectory: Seq[Seq[Any]] =
    (0 until sensors).map(s => Seq(sensorIds(s), sensorName(s), s"${sensorName(s)}, ${sensorIds(s)}"))
      .sortBy(_.head.asInstanceOf[Int])
}

final case class KeySummary(epoch: Long, rows: Long, distinct: Long, sensorSum: Long)

final case class HourlyRow(bucket: Long, sensor: Int, name: String, n: Long,
    sum: Double, max: Double)

object Payloads {
  /** splitmix64 over the four coordinates; non-negative. */
  def mix(a: Long, b: Long, c: Long, d: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L +
      c * 0x94D049BB133111EBL + d * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  /** `k / 10` with one decimal, written without floating point. */
  def decimal1(k: Long): String = s"${k / 10}.${k % 10}"

  def quote(s: String): String = "\"" + s + "\""
  def unquote(s: String): String = s.substring(1, s.length - 1)

  def panelMeasures(group: String): Seq[String] =
    FieldCatalog.groupCols(group).filter(c => FieldCatalog.byColName(c).dataType match {
      case DoubleType | IntegerType | LongType => true
      case _ => false
    })

  private def maxOf(a: Any, b: Any): Any = (a, b) match {
    case (x: Double, y: Double) => math.max(x, y)
    case (x: Int, y: Int) => math.max(x, y)
    case (x: Long, y: Long) => math.max(x, y)
    case _ => sys.error(s"incomparable $a, $b")
  }
}
