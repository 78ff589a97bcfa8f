package graft.sources

import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one genuinely custom source: a rate-limited polling
  * Structured Streaming source (`format("purpleair")`), re-expressing the
  * reference's S5 poll loop (`PurpleAirDataLogger.py:101-215`) as a DSv2
  * `MicroBatchStream`:
  *
  *  - **offset** = the `modified_since` cursor (F3/T4): each micro-batch
  *    covers `(fromCursor, toCursor]`; restart resumes from the committed
  *    cursor in the checkpoint — exactly the reference's "use the previous
  *    call's time_stamp" semantics, but exactly-once.
  *  - **rate limit** (S5): `latestOffset` refuses to advance until
  *    `minPollIntervalSeconds` has elapsed; the option is validated ≥ 60
  *    like the reference's setter (`PurpleAirDataLogger.py:52-65`).
  *  - **pluggable transport**: a [[SensorFetcher]] implementation class is
  *    named by option; executors instantiate it reflectively. The HTTP
  *    fetcher mirrors the reference's URL building and error mapping (S7);
  *    [[FileReplayFetcher]] replays captured payload files for tests and
  *    backfills.
  *
  * The wire schema is deliberately raw — `(poll_cursor LONG, payload_json
  * STRING)` — so all parsing/flattening stays in Catalyst via
  * [[PollingSource.parseSingle]] (`from_json` + `Transforms.flattenSingle`),
  * codegen'd and prunable, rather than opaque in the connector.
  */
object PollingSource {
  val format = "purpleair"

  val wireSchema: StructType = StructType(Seq(
    StructField("poll_cursor", LongType, nullable = false),
    StructField("payload_json", StringType, nullable = true)))

  object Options {
    val FetcherClass = "fetcher.class"
    val MinPollIntervalSeconds = "minPollIntervalSeconds"
    val AllowFastPolling = "allowFastPolling" // tests only
    val StartCursor = "startCursor"
  }

  /** Parse raw wire rows into flat readings using a nested payload schema
    * (as inferred from sample payloads, FIXTURES.md §1). */
  def parseSingle(wire: DataFrame, payloadSchema: StructType): DataFrame = {
    val parsed = wire
      .select(from_json(col("payload_json"), payloadSchema).as("r"))
      .select("r.*")
    graft.transform.Transforms.flattenSingle(parsed)
  }

  /** Parse columnar multi-sensor wire rows (`fields` ∥ `data` arrays,
    * FIXTURES.md §2) into one stringly-typed row per sensor; `conform`
    * casts downstream, like the reference's CAST-on-INSERT. */
  def parseMulti(wire: DataFrame, requestedFields: Seq[String]): DataFrame = {
    val parsed = wire
      .select(from_json(col("payload_json"),
        graft.model.ApiPayloadSchema.multiSensor).as("r"))
      .select("r.data_time_stamp", "r.fields", "r.data")
    graft.transform.Transforms.zipMulti(parsed, requestedFields)
  }

  /** Parse columnar HISTORIC wire rows (`sensors/{index}/history`
    * responses): one stringly-typed row per historic reading, keyed by
    * the row's own `time_stamp` field (promoted to `data_time_stamp`)
    * and the envelope's `sensor_index` — the backfill twin of
    * [[parseMulti]]. `conform` casts downstream. */
  def parseHistoric(wire: DataFrame, requestedFields: Seq[String]): DataFrame = {
    val wanted = requestedFields.filterNot(_ == "time_stamp")
    wire
      .select(from_json(col("payload_json"),
        graft.model.ApiPayloadSchema.historic).as("r"))
      .select(col("r.sensor_index"), col("r.fields"),
        explode(col("r.data")).as("row_values"))
      .withColumn("kv", map_from_arrays(col("fields"), col("row_values")))
      .select(col("kv").getItem("time_stamp").as("data_time_stamp") +:
        col("sensor_index") +:
        wanted.map(f => col("kv").getItem(f).as(f)): _*)
  }
}

/** Transport abstraction: how one micro-batch's payloads are obtained.
  * Implementations must be deterministic given (fromCursor, toCursor]. */
trait SensorFetcher extends Serializable {
  /** Option validation + auth handshake (S4); called once, driver-side. */
  def validate(options: Map[String, String]): Unit = ()
  /** Newest available cursor ≥ `current`; driver-side, cheap. */
  def latestCursor(current: Long, options: Map[String, String]): Long
  /** Payloads in `(fromCursor, toCursor]`, each tagged with its cursor. */
  def fetch(fromCursor: Long, toCursor: Long,
      options: Map[String, String]): Seq[(Long, String)]
}

/** Replays `*.json` payload files from a directory, one file per cursor
  * step, in sorted order — the test/backfill transport. A missing or
  * non-directory `replay.dir` fails [[validate]], naming the path. */
class FileReplayFetcher extends SensorFetcher {
  private def files(options: Map[String, String]) = {
    val dir = new java.io.File(options.getOrElse("replay.dir",
      sys.error("replay.dir option required for FileReplayFetcher")))
    val listed = dir.listFiles((_, n) => n.endsWith(".json"))
    require(listed != null, s"replay.dir $dir is missing or not a directory")
    listed.sortBy(_.getName)
  }
  override def validate(options: Map[String, String]): Unit = {
    val _ = files(options)
  }
  override def latestCursor(current: Long, options: Map[String, String]): Long =
    files(options).length.toLong
  override def fetch(from: Long, to: Long,
      options: Map[String, String]): Seq[(Long, String)] =
    files(options).zipWithIndex
      .filter { case (_, i) => i >= from && i < to }
      .map { case (f, i) =>
        (i + 1L, new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
      }.toSeq
}

/** HTTP transport skeleton mirroring the reference's request builder and
  * error mapping (`PurpleAirAPI.py:307-346`): 200/201 pass, 400/403/404 →
  * error. Cursor = epoch seconds used as `modified_since`. Untested here
  * (no egress); [[buildUrl]] is pure and covered by unit tests.
  *
  * Fetch honors the `(fromCursor, toCursor]` contract where the API can
  * express it: the multi-sensor endpoint (no `sensor.index` option) gets
  * `modified_since=from`, the reference's incremental-watermark parameter
  * (`PurpleAirAPI.py:203-207`). The single-sensor endpoint has no such
  * parameter — each poll returns the sensor's current state, so the
  * cursor only bounds WHEN we poll, not what the server replays. */
class HttpPollingFetcher extends SensorFetcher {
  import HttpPollingFetcher._
  override def validate(options: Map[String, String]): Unit = {
    require(options.contains("api.key"), "api.key option required")
    // Reference fires GET /v1/keys at construction (S4); same here.
    val _ = get(s"${base(options)}/keys", options)
  }
  override def latestCursor(current: Long, options: Map[String, String]): Long =
    System.currentTimeMillis() / 1000
  override def fetch(from: Long, to: Long,
      options: Map[String, String]): Seq[(Long, String)] =
    Seq((to, get(urlFor(from, options), options)))

  /** Pure URL construction for one `(from, to]` fetch — split out so the
    * offline test suite can pin the query-string contract.
    *
    * Three arms, mirroring the reference client's three GETs:
    *  - single-sensor current state (`request_sensor_data`,
    *    `PurpleAirAPI.py:81-175`);
    *  - single-sensor HISTORY (`request_sensor_historic_data`,
    *    `PurpleAirAPI.py:244-305`) when any `history.*` option is set:
    *    `start_timestamp`/`end_timestamp` are half-open `[start, end)`
    *    server-side and `average` ∈ {0,10,30,60,360,1440} minutes — the
    *    server-side twin of [[graft.queries.TimeSeries.historicAverage]].
    *    The reference also marshals `modified_since := end_timestamp`
    *    (`PurpleAirAPI.py:302`) — an evident copy-paste slip (the history
    *    endpoint takes no such parameter); we implement the intent, not
    *    the bug.
    *  - multi-sensor scan (`request_multiple_sensors_data`,
    *    `PurpleAirAPI.py:177-243`) with ALL nine optional parameters
    *    marshalled server-side: filtering in the engine after the fetch
    *    (r8 state for location_type/max_age/bbox) wastes the API quota
    *    and bandwidth those parameters exist to save.
    */
  def urlFor(from: Long, options: Map[String, String]): String =
    options.get("sensor.index") match {
      case Some(idx)
          if options.contains("history.start") ||
            options.contains("history.end") ||
            options.contains("history.average") =>
        buildUrl(s"${base(options)}/sensors/$idx/history",
          Seq("fields" -> options.get("fields").orNull,
              "read_key" -> options.get("read.key").orNull,
              "start_timestamp" -> options.get("history.start").orNull,
              "end_timestamp" -> options.get("history.end").orNull,
              "average" -> options.get("history.average").orNull))
      case Some(idx) =>
        buildUrl(s"${base(options)}/sensors/$idx",
          Seq("read_key" -> options.get("read.key").orNull,
              "fields" -> options.get("fields").orNull))
      case None =>
        buildUrl(s"${base(options)}/sensors/",
          Seq("fields" -> options.get("fields").orNull,
              "location_type" -> options.get("location.type").orNull,
              "read_keys" -> options.get("read.keys").orNull,
              "show_only" -> options.get("show.only").orNull,
              "modified_since" -> (if (from > 0) from.toString else null),
              "max_age" -> options.get("max.age").orNull,
              "nwlng" -> options.get("bbox.nwlng").orNull,
              "nwlat" -> options.get("bbox.nwlat").orNull,
              "selng" -> options.get("bbox.selng").orNull,
              "selat" -> options.get("bbox.selat").orNull))
    }
  private def get(url: String, options: Map[String, String]): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setConnectTimeout(ConnectTimeoutMs)
      conn.setReadTimeout(ReadTimeoutMs)
      conn.setRequestProperty("X-API-Key", options("api.key"))
      val code = conn.getResponseCode
      if (!SuccessCodes.contains(code)) {
        Option(conn.getErrorStream).foreach(_.close())
        val kind = if (ErrorCodes.contains(code)) "client error" else "error"
        throw new RuntimeException(
          s"PurpleAir request failed: $kind HTTP $code for $url")
      }
      val in = conn.getInputStream
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    } finally conn.disconnect()
  }
}

object HttpPollingFetcher {
  val SuccessCodes = Set(200, 201)
  val ErrorCodes = Set(400, 403, 404)
  /** Fixed so a stalled server fails one poll instead of hanging the
    * stream; the read bound stays under the 65 s poll cadence. */
  val ConnectTimeoutMs = 10000
  val ReadTimeoutMs = 30000
  private def base(options: Map[String, String]) =
    options.getOrElse("api.base", "https://api.purpleair.com/v1")
  /** `?k=v&k2=v2` for non-null params, like `PurpleAirAPI.py:317-329`
    * (minus its always-true `dict is not {}` quirk). Ordered pairs, not a
    * Map: the query-string contract pins parameter ORDER too, and Scala's
    * immutable Map stops preserving insertion order above 4 entries. */
  def buildUrl(endpoint: String, params: Seq[(String, String)]): String = {
    val qs = params.collect { case (k, v) if v != null => s"$k=$v" }
    if (qs.isEmpty) endpoint else qs.mkString(s"$endpoint?", "&", "")
  }
}

// ---------------------------------------------------------------- DSv2 glue

class PurpleAirSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = PollingSource.format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PollingSource.wireSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PurpleAirTable(properties)
}

class PurpleAirTable(properties: util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "purpleair_poll"
  override def schema(): StructType = PollingSource.wireSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PollingSource.wireSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PollingMicroBatchStream(options.asCaseSensitiveMap())
      }
    }
}

case class PollOffset(cursor: Long) extends Offset {
  override def json(): String = s"""{"cursor":$cursor}"""
}

class PollingMicroBatchStream(props: util.Map[String, String])
    extends MicroBatchStream {
  import scala.jdk.CollectionConverters._
  private val options = props.asScala.toMap
  private val fetcherClass = options.getOrElse(PollingSource.Options.FetcherClass,
    classOf[HttpPollingFetcher].getName)
  private val minInterval =
    options.getOrElse(PollingSource.Options.MinPollIntervalSeconds, "65").toLong
  private val fastPolling =
    options.getOrElse(PollingSource.Options.AllowFastPolling, "false").toBoolean
  require(fastPolling || minInterval >= 60,
    s"minPollIntervalSeconds must be >= 60 (got $minInterval) — the reference " +
      "rejects faster polling (PurpleAirDataLogger.py:52-65)")

  // Validated when the stream is created, so a bad option fails the query
  // before its first trigger.
  @transient private val fetcher: SensorFetcher = {
    val f = Class.forName(fetcherClass).getDeclaredConstructor()
      .newInstance().asInstanceOf[SensorFetcher]
    f.validate(options)
    f
  }
  @transient private var lastAdvanceNanos = 0L
  @transient private var lastIssued: PollOffset = _
  // Highest cursor seen in the checkpoint's offset log. Spark calls
  // deserializeOffset while restoring committed offsets on restart, so
  // tracking the max here seeds the poll cursor from the checkpoint —
  // without it a restarted query would derive `current` from the static
  // startCursor option and re-cover already-committed ground.
  @transient private var restoredCursor = Long.MinValue

  override def initialOffset(): Offset =
    PollOffset(options.getOrElse(PollingSource.Options.StartCursor, "0").toLong)

  override def latestOffset(): Offset = {
    val now = System.nanoTime()
    val elapsed = (now - lastAdvanceNanos) / 1e9
    if (lastIssued != null && !fastPolling && elapsed < minInterval) lastIssued
    else {
      val current = Seq(
        if (lastIssued == null) Long.MinValue else lastIssued.cursor,
        restoredCursor,
        initialOffset().asInstanceOf[PollOffset].cursor).max
      lastIssued = PollOffset(fetcher.latestCursor(current, options))
      lastAdvanceNanos = now
      lastIssued
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val c = """"cursor"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"bad offset json: $json"))
    restoredCursor = math.max(restoredCursor, c)
    PollOffset(c)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PollOffset].cursor
    val e = end.asInstanceOf[PollOffset].cursor
    if (e <= s) Array.empty
    else Array(PollInputPartition(s, e, options, fetcherClass))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[PollInputPartition]
        new PartitionReader[InternalRow] {
          private val fetcher = Class.forName(p.fetcherClass)
            .getDeclaredConstructor().newInstance().asInstanceOf[SensorFetcher]
          private val it = fetcher.fetch(p.from, p.to, p.options).iterator
          private var current: (Long, String) = _
          override def next(): Boolean = { val h = it.hasNext; if (h) current = it.next(); h }
          override def get(): InternalRow =
            new GenericInternalRow(Array[Any](current._1,
              UTF8String.fromString(current._2)))
          override def close(): Unit = ()
        }
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class PollInputPartition(from: Long, to: Long,
    options: Map[String, String], fetcherClass: String) extends InputPartition
