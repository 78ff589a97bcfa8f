package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.FieldCatalog

/** Each output check passes on the model's own answer and catches a
  * planted duplicate or missing row. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val payloads = Payloads(9, sensors = 5, polls = 8, startEpoch = 1709251200L,
    spacingSeconds = 2700L)

  /** A fan-out table's key columns for `polls` polls, as the sink lands them. */
  private def keyTable(rows: Seq[(Long, Int)]) = {
    import spark.implicits._
    rows.toDF("epoch", FieldCatalog.keySensor)
      .selectExpr(s"timestamp_seconds(epoch) as ${FieldCatalog.keyTimestamp}", FieldCatalog.keySensor)
  }

  private val keys: Seq[(Long, Int)] =
    for (p <- 0 until 4; s <- 0 until 5) yield (payloads.pollEpoch(p), payloads.sensorIds(s))

  test("fan-out keys: exact, duplicated, missing") {
    val expected = payloads.expectedKeys(4)
    assert(Checks.keys(Checks.summarizeKeys(keyTable(keys)), expected).isEmpty)
    val dup = keys :+ keys(7)
    assert(Checks.keys(Checks.summarizeKeys(keyTable(dup)), expected) == Seq(keys(7)._1))
    val missing = keys.patch(12, Nil, 1)
    assert(Checks.keys(Checks.summarizeKeys(keyTable(missing)), expected) == Seq(keys(12)._1))
    // a sensor id swapped for another keeps the count but not the key set
    val swapped = keys.updated(3, (keys(3)._1, 999999))
    assert(Checks.keys(Checks.summarizeKeys(keyTable(swapped)), expected) == Seq(keys(3)._1))
  }

  test("hourly rollup: exact, duplicated, missing") {
    val model = payloads.expectedHourly(8)
    assert(model.nonEmpty)
    import spark.implicits._
    def table(rows: Seq[HourlyRow]) = rows.toDF()
      .selectExpr("timestamp_seconds(bucket) as bucket_ts", "sensor as sensor_index", "name",
        "n", "sum as sum_value", "max as max_value")
    assert(Checks.hourly(Checks.hourlyRows(table(model)), model).isEmpty)
    assert(Checks.hourly(Checks.hourlyRows(table(model :+ model.head)), model) == Seq(model.head.bucket))
    assert(Checks.hourly(Checks.hourlyRows(table(model.tail)), model) == Seq(model.head.bucket))
  }

  test("dashboard answers: exact, duplicated, missing") {
    val from = payloads.pollEpoch(0)
    val raw = payloads.expectedRaw(Seq("name", "rssi"), 2, from, from + 3 * 2700L, landed = 8)
    assert(raw.size == 3)
    assert(Checks.rows(raw, raw).isEmpty)
    assert(Checks.rows(raw :+ raw.last, raw).isDefined)
    assert(Checks.rows(raw.init, raw).isDefined)
    val panel = payloads.expectedPanel(FieldCatalog.Groups.Pm2_5, 2, from, from + 8 * 2700L, 3600L,
      landed = 8)
    assert(Checks.rows(panel.patch(1, Nil, 1), panel).isDefined)
  }

  test("registry row counts: equal, one row more, one row fewer, unrecorded") {
    assert(Checks.rowCount(25, Some(25)).isEmpty)
    assert(Checks.rowCount(26, Some(25)).isDefined)
    assert(Checks.rowCount(24, Some(25)).isDefined)
    assert(Checks.rowCount(25, None).isDefined)
  }
}
