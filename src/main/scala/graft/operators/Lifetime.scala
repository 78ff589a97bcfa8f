package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-lifetime control for eagerly-materialized (`localCheckpoint`)
  * intermediate results.
  *
  * Why this exists: several operators in this library materialize small
  * intermediates eagerly — candidate pair sets, per-round edge sets,
  * quantized side tables — so a cached upstream can be released before
  * returning, or so an iterative plan's lineage stays flat. A local
  * checkpoint's blocks, however, are only reclaimed when the GC finalizes
  * the backing RDD and the async `ContextCleaner` notices; in a
  * long-lived session (the 100 TB target is exactly that: one driver
  * running thousands of queries) superseded checkpoints accumulate in the
  * block manager faster than GC returns them. These helpers release the
  * blocks deterministically the moment an intermediate is provably dead.
  *
  * Ownership contract used across the operators:
  *  - checkpoints that only ever feed OTHER stages inside the same
  *    operator call are freed by that operator (via [[seal]]) once the
  *    final result is materialized;
  *  - a checkpointed RESULT belongs to the caller — release it with
  *    [[free]] when done, or [[sweep]] the session between queries, as
  *    the mains do.
  */
object Lifetime {

  /** The RDDs physically backing `df` — its plan's `LogicalRDD` leaves.
    * For a `localCheckpoint`ed frame this is exactly the checkpoint's
    * block-backed RDD. */
  private def backingRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Release the checkpoint blocks behind `df`. Safe ONLY once nothing
    * will execute `df`'s plan again: a local checkpoint truncates
    * lineage, so an unpersisted one cannot be recomputed. Non-blocking —
    * the block manager reclaims asynchronously, but the RDD leaves the
    * persistent-RDD registry immediately. */
  def free(dfs: DataFrame*): Unit =
    dfs.foreach(df => backingRdds(df).foreach(_.unpersist(blocking = false)))

  /** Eagerly materialize `result` as its own local checkpoint, then
    * release every checkpoint in `intermediates` — they are dead once the
    * result holds its own blocks. Returns the sealed result (whose
    * checkpoint the CALLER owns, per the contract above).
    *
    * The checkpoint's jobs carry the caller's `file:line` as their call
    * site, so their stages (AQE's included, which otherwise name a
    * `CompletableFuture` frame) say which operator line ran them. */
  def seal(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val sc = result.sparkSession.sparkContext
    val previous = sc.getLocalProperty(CallSiteShort)
    new Throwable().getStackTrace
      .find(!_.getClassName.startsWith(getClass.getName))
      .foreach(f =>
        sc.setCallSite(s"seal at ${f.getFileName}:${f.getLineNumber}"))
    val out =
      try result.localCheckpoint(true)
      finally sc.setLocalProperty(CallSiteShort, previous)
    free(intermediates: _*)
    out
  }

  /** The local property behind `SparkContext.setCallSite`. */
  private val CallSiteShort = "callSite.short"

  /** Session-level hygiene for the caller-owned results above: unpersists
    * every persisted RDD of the session, blocking, and clears the SQL
    * cache. For a main between two queries, never inside an operator:
    * whatever the session still reads from a swept checkpoint fails. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
