package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.FieldCatalog.{keySensor, keyTimestamp}

/** The reference's continuous aggregate (SURVEY §2.4 A2 + §2.7 T5):
  * TimescaleDB's `sensor_index_and_name_1hour_aggregate`, an hourly
  * rollup refreshed from the rows that land in the hypertable, with a
  * retention horizon (`PurpleAirPSQLQueryStatements.py:557-589`).
  *
  * The logger keeps it on its one streaming query: after the nine tables
  * of micro-batch `b` commit, the fan-out's `foreachBatch` calls
  * [[writeRun]] on the readings `b` landed, and a replay of `b` rewrites
  * that run; [[readHourly]] merges the runs. So the rollup counts exactly
  * the readings the nine tables hold and, as with TimescaleDB's real-time
  * aggregates, an hour's row shows as soon as a batch lands a reading in
  * it: no watermark drops a late reading, no streaming state is kept.
  * An aggregate directory an older streaming file sink wrote (it holds
  * `_spark_metadata`) is another layout; move it aside first.
  */
object ContinuousAggregate {

  /** Hourly rollup per key: reading count, exact sum and max of
    * `measure`. On a batch frame the watermark is ignored; on a stream,
    * `outputMode("append")` emits each hour once its watermark passes. */
  def hourly(
      readings: DataFrame, ts: String, keys: Seq[String],
      measure: String, watermarkDelay: String = "2 hours"): DataFrame =
    readings
      .withWatermark(ts, watermarkDelay)
      .groupBy(window(col(ts), "1 hour") +: keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        exactSum(col(measure)).as("sum_value"),
        max(col(measure)).as("max_value"))
      .select(col("window.start").as("bucket_ts") +: keys.map(col) :+
        col("n") :+ col("sum_value") :+ col("max_value"): _*)

  // Each run's sum is a 6-decimal value held in a double, so re-summing
  // the runs' sums as decimals gives the one-pass sum bit for bit.
  private def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Writes micro-batch `batchId`'s share of the rollup: [[hourly]] of
    * `pm2_5` per `(sensor_index, name)` over `landed`, the readings the
    * batch landed, as `<aggDir>/date=<D>/batch=<batchId>`. What an
    * earlier attempt of the batch wrote is deleted first, so a replay
    * leaves one copy. */
  def writeRun(landed: DataFrame, aggDir: String, batchId: Long): Unit = {
    val runs = new org.apache.hadoop.fs.Path(s"$aggDir/date=*/batch=$batchId")
    val fs = runs.getFileSystem(landed.sparkSession.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(runs)).foreach(_.foreach(s => fs.delete(s.getPath, true)))
    hourly(landed, keyTimestamp, Seq(keySensor, "name"), "pm2_5")
      .withColumn("date", to_date(col("bucket_ts")))
      .withColumn("batch", lit(batchId.toString))
      .write.mode(SaveMode.Append).partitionBy("date", "batch")
      .parquet(aggDir)
  }

  /** The rollup as one row per `(bucket_ts, sensor_index, name)`: the
    * runs [[writeRun]] wrote, merged by summing `n` and `sum_value` and
    * taking the max of `max_value`. The schema is declared, so building
    * the reader runs no inference job. */
  def readHourly(spark: SparkSession, aggDir: String): DataFrame =
    spark.read.schema("bucket_ts TIMESTAMP, sensor_index INT, name STRING, " +
        "n BIGINT, sum_value DOUBLE, max_value DOUBLE, date DATE, batch STRING")
      .parquet(aggDir)
      .groupBy("bucket_ts", keySensor, "name")
      .agg(sum("n").as("n"), exactSum(col("sum_value")).as("sum_value"),
        max("max_value").as("max_value"))

  /** T5 retention policy: drop buckets older than `retainHours` relative
    * to `asOf`. On a partitioned sink this is a partition drop, not a scan
    * — see [[retentionDrop]]. */
  def retentionTrim(agg: DataFrame, asOf: java.sql.Timestamp,
      retainHours: Int = 8): DataFrame =
    agg.filter(col("bucket_ts") >=
      lit(new java.sql.Timestamp(asOf.getTime - retainHours * 3600L * 1000L)))

  /** T5 at scale: physically drop `date=` partition directories of a
    * date-partitioned aggregate sink whose ENTIRE day lies past the
    * retention horizon — pure directory deletes, no scan (the reference's
    * `add_retention_policy` is likewise a chunk drop). Conservative: a
    * partition is only dropped when every bucket it can contain is
    * expired, i.e. its date is strictly before the cutoff's date; the
    * cutoff-day remainder stays until the next day boundary (readers
    * apply [[retentionTrim]] for exact semantics). Returns partitions
    * dropped. */
  def retentionDrop(spark: SparkSession, aggDir: String,
      asOf: java.sql.Timestamp, retainHours: Int = 8): Int = {
    val dir = new org.apache.hadoop.fs.Path(aggDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val cutoffDate = java.time.Instant
      .ofEpochMilli(asOf.getTime - retainHours * 3600L * 1000L)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val dropped = fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .filter { s =>
        val d = java.time.LocalDate.parse(s.getPath.getName.stripPrefix("date="))
        d.isBefore(cutoffDate)
      }
    dropped.foreach(s => fs.delete(s.getPath, true))
    dropped.length
  }
}
