package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.FieldCatalog
import graft.transform.Transforms

/** The correctness core: flatten → conform → split → recombine over the
  * single-channel and full-env dual-channel hardware variants. Shape checks
  * read the committed synthetic payloads; checks on the real readings'
  * values read the reference samples (see [[Payloads]]). */
class TransformsSpec extends SparkSpec {

  private def read(path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)

  private lazy val dual = read(Payloads.dualChannelFullEnv)
  private lazy val single = read(Payloads.singleChannel)
  private lazy val realDual = read(s"${Payloads.ReferenceSamples}/" +
    "3.0+OPENLOG+31037 MB+DS3231+BME280+BME680+PMSX003-A+PMSX003-B.json")
  private lazy val realSingle =
    read(s"${Payloads.ReferenceSamples}/1.0+1M+PMSX003-O.json")

  test("flattenSingle: stats structs flatten with the reference's naming") {
    Payloads.assumeReferenceSamples()
    val flat = Transforms.flattenSingle(realDual)
    val row = flat.select(col("data_time_stamp"), col("sensor_index"),
      col("`pm2.5`"), col("`stats_pm2.5`"), col("`pm2.5_10minute`"),
      col("`pm2.5_10minute_a`"), col("`pm2.5_10minute_b`"),
      col("`pm2.5_a`"), col("`pm2.5_b`"),
      col("time_stamp_a"), col("time_stamp_b")).head()
    assert(row.getLong(0) == 1658811226L)
    assert(row.getLong(1) == 147883L)
    assert(row.getDouble(2) == 8.2) // sensor.pm2.5
    assert(row.getDouble(3) == 8.2) // stats.pm2.5 (same, per PurpleAir)
    assert(row.getDouble(4) == 8.4) // stats.pm2.5_10minute
  }

  test("flattenSingle: single-channel hardware (no stats_b, no env) still flattens") {
    Payloads.assumeReferenceSamples()
    val flat = Transforms.flattenSingle(realSingle)
    assert(!flat.columns.contains("pm2.5_10minute_b"))
    assert(!flat.columns.contains("humidity"))
    assert(flat.select("sensor_index").head().getLong(0) == 53L)
  }

  test("conform: 117 columns, catalog order, missing fields null") {
    val conformed = Transforms.conform(Transforms.flattenSingle(single))
    assert(conformed.columns.length == 117)
    assert(conformed.columns.take(2).toSeq ==
      Seq("data_time_stamp", "sensor_index"))
    // single-channel: humidity and channel-B stats absent → null
    val r = conformed.select("humidity", "pm2_5_10minute_b", "pm2_5").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(!r.isNullAt(2))
  }

  test("conform compat mode: reference null-defaults (0/0.0/empty)") {
    val conformed =
      Transforms.conform(Transforms.flattenSingle(single), compatNulls = true)
    val r = conformed.select("humidity", "pm2_5_10minute_b", "name").head()
    assert(r.getInt(0) == 0)
    assert(r.getDouble(1) == 0.0)
    assert(r.getString(2) != "") // present field untouched
  }

  test("conform: epoch fields become UTC timestamps") {
    Payloads.assumeReferenceSamples()
    val conformed = Transforms.conform(Transforms.flattenSingle(realDual))
    val r = conformed.select("data_time_stamp", "last_seen").head()
    assert(r.getTimestamp(0).toInstant.getEpochSecond == 1658811226L)
    assert(!r.isNullAt(1))
  }

  test("conform is idempotent on already-normalized input") {
    val once = Transforms.conform(Transforms.flattenSingle(dual))
    val twice = Transforms.conform(once)
    assert(once.schema == twice.schema)
    assert(once.collect().toSeq == twice.collect().toSeq)
  }

  test("verticalSplit: 9 groups, key repeated, reference column counts") {
    val parts = Transforms.verticalSplit(
      Transforms.conform(Transforms.flattenSingle(dual)))
    assert(parts.keySet == FieldCatalog.Groups.all.toSet)
    val expected = Map(
      FieldCatalog.Groups.Station -> 27, FieldCatalog.Groups.Environmental -> 9,
      FieldCatalog.Groups.Miscellaneous -> 5, FieldCatalog.Groups.Pm1_0 -> 9,
      FieldCatalog.Groups.Pm2_5 -> 12, FieldCatalog.Groups.Pm2_5Pseudo -> 18,
      FieldCatalog.Groups.Pm10_0 -> 9, FieldCatalog.Groups.ParticleCount -> 18,
      FieldCatalog.Groups.Thingspeak -> 8)
    expected.foreach { case (g, n) =>
      assert(parts(g).columns.length == n + 2, g)
      assert(parts(g).columns.take(2).toSeq ==
        Seq("data_time_stamp", "sensor_index"), g)
    }
  }

  test("recombine: split → join round-trips the full reading") {
    val conformed = Transforms.conform(Transforms.flattenSingle(dual))
    val back = Transforms.recombine(Transforms.verticalSplit(conformed))
    assert(back.columns.sorted.toSeq == conformed.columns.sorted.toSeq)
    val a = conformed.select(conformed.columns.sorted.map(col): _*).head()
    val b = back.select(back.columns.sorted.map(col): _*).head()
    assert(a == b)
  }

  test("dedupByKey keeps first row per composite key") {
    import spark.implicits._
    val df = Seq(
      (1L, 10, "first"), (1L, 10, "dupe"), (2L, 10, "other"))
      .toDF("epoch", "sensor_index", "tag")
      .withColumn("data_time_stamp", timestamp_seconds(col("epoch")))
    val out = Transforms.dedupByKey(df, "tag")
    assert(out.count() == 2)
    assert(out.filter(col("epoch") === 1L).select("tag").head().getString(0)
      == "dupe") // "dupe" < "first" alphabetically
  }

  test("zipMulti: positional fields×data zip") {
    import spark.implicits._
    val payload = Seq(
      (1659710232L, Seq("sensor_index", "name"),
        Seq(Seq("131075", "Mariners Bluff"), Seq("131079", "BRSKBV-outside")))
    ).toDF("data_time_stamp", "fields", "data")
    val rows = Transforms.zipMulti(payload, Seq("sensor_index", "name"))
      .orderBy("sensor_index").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "131075")
    assert(rows(0).getString(2) == "Mariners Bluff")
  }

  test("normalize covers the reference rename table") {
    assert(FieldCatalog.normalize("pm2.5") == "pm2_5")
    assert(FieldCatalog.normalize("pm10.0_cf_1_b") == "pm10_0_cf_1_b")
    assert(FieldCatalog.normalize("0.3_um_count") == "um_count_0_3")
    assert(FieldCatalog.normalize("0.3_um_count_a") == "um_count_a_0_3")
    assert(FieldCatalog.normalize("10.0_um_count_b") == "um_count_b_10_0")
    assert(FieldCatalog.normalize("humidity") == "humidity")
    // bijective over the catalog
    assert(FieldCatalog.fields.map(_.colName).distinct.size == 115)
  }
}
