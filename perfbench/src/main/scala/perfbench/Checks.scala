package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.schema.FieldCatalog

/** Output checks. Each returns `None` when the output matches the model,
  * else a short description of the first mismatches. */
object Checks {

  /** Per-poll key summary of one fan-out table. */
  def summarizeKeys(table: DataFrame): Seq[KeySummary] =
    summarizeKeys(Seq("table" -> table)).getOrElse("table", Nil)

  /** Per-poll key summaries of several tables, in one Spark job. */
  def summarizeKeys(tables: Seq[(String, DataFrame)]): Map[String, Seq[KeySummary]] =
    tables.map { case (name, t) =>
      t.select(lit(name).as("table"), col(FieldCatalog.keyTimestamp), col(FieldCatalog.keySensor))
    }.reduce(_ unionByName _)
      .groupBy(col("table"), col(FieldCatalog.keyTimestamp))
      .agg(count(lit(1)), countDistinct(col(FieldCatalog.keySensor)),
        sum(col(FieldCatalog.keySensor).cast("long")))
      .collect().toSeq
      .groupBy(_.getString(0))
      .map { case (name, rows) => name -> rows.map(r =>
        KeySummary(r.getTimestamp(1).getTime / 1000L, r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_.epoch) }

  /** Exactly the expected sensors at exactly the expected polls, each key
    * once. Returns the epochs that disagree. */
  def keys(observed: Seq[KeySummary], expected: Seq[KeySummary]): Seq[Long] = {
    val obs = observed.map(k => k.epoch -> k).toMap
    val exp = expected.map(k => k.epoch -> k).toMap
    (obs.keySet ++ exp.keySet).toSeq.sorted.filter(e => obs.get(e) != exp.get(e))
  }

  def hourlyRows(agg: DataFrame): Seq[HourlyRow] =
    agg.select("bucket_ts", "sensor_index", "name", "n", "sum_value", "max_value")
      .collect().toSeq
      .map(r => HourlyRow(r.getTimestamp(0).getTime / 1000L, r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(r => (r.bucket, r.sensor))

  /** Hourly buckets (epochs) whose rows differ from the model, including
    * duplicated or missing rows. */
  def hourly(observed: Seq[HourlyRow], expected: Seq[HourlyRow]): Seq[Long] = {
    val obs = observed.groupBy(_.bucket)
    val exp = expected.groupBy(_.bucket)
    (obs.keySet ++ exp.keySet).toSeq.sorted
      .filter(b => obs.getOrElse(b, Nil).sortBy(_.sensor) != exp.getOrElse(b, Nil).sortBy(_.sensor))
  }

  /** Collected rows with timestamps as epoch seconds, for comparison. */
  def normalize(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.getTime / 1000L
      case t: java.time.Instant => t.getEpochSecond
      case other => other
    })

  /** Ordered row-for-row equality. */
  def rows(observed: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] =
    if (observed == expected) None
    else {
      val firstDiff = observed.zipAll(expected, null, null).indexWhere { case (a, b) => a != b }
      Some(s"${observed.size} rows vs ${expected.size} expected; first difference at row $firstDiff: " +
        s"${observed.lift(firstDiff).getOrElse("-")} vs ${expected.lift(firstDiff).getOrElse("-")}")
    }

  def rowCount(observed: Long, expected: Option[Long]): Option[String] = expected match {
    case None => Some(s"no recorded row count (got $observed)")
    case Some(e) if e != observed => Some(s"$observed rows vs $e recorded")
    case _ => None
  }
}
