package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** The one eager primitive of the operators: [[seal]] materializes a frame
  * as a local checkpoint, names the jobs that compute it and releases the
  * checkpoints it supersedes. No other code calls `localCheckpoint`.
  *
  * Why release matters: a local checkpoint's blocks are only reclaimed
  * when the GC finalizes the backing RDD and the async `ContextCleaner`
  * notices; in a long-lived session (one driver running thousands of
  * queries) superseded checkpoints accumulate in the block manager faster
  * than GC returns them. [[seal]] releases them the moment they are
  * provably dead.
  *
  * Where an operator seals — three classes, one rule each:
  *  - iteration state (a loop's per-round frame: connected components,
  *    k-core, HITS, label propagation, the BFS frontier, the IVF split
  *    loop): `active = Lifetime.seal(next, active)` keeps the plan
  *    constant-size in the round count and frees the round it replaces;
  *  - an operator result: `try Lifetime.seal(out) finally x.unpersist()`
  *    — the result is eager, so its caches are released before returning
  *    and the caller owns the sealed result (released by a [[sweep]]
  *    between queries, as the mains do);
  *  - an intermediate read by two consumers of one plan (a diamond) or a
  *    loop's seed: not sealed. Recomputation is Spark's default, exchange
  *    reuse shares the common subtree, and the enclosing seal runs the
  *    plan once. An intermediate is sealed only where a `graft.Profile`
  *    pair shows the plan would otherwise recompute a corpus-sized
  *    subtree; each such seal says why in a comment.
  */
object Lifetime {

  /** The RDD holding `df`'s own blocks: a sealed frame, or a projection,
    * filter or alias of one. A derived frame (a join, an aggregate, a
    * loop's lazy seed) gives `None`: it never frees a checkpoint it reads. */
  private def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => strip(child)
      case Filter(_, child) => strip(child)
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }
  }

  /** Eagerly materialize `result` as its own local checkpoint, then
    * release the checkpoint behind each of `intermediates` — they are dead
    * once the result holds its own blocks (a lineage truncated by a local
    * checkpoint cannot be recomputed, so pass only frames nothing will
    * execute again). Returns the sealed result, which the CALLER owns.
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
    intermediates.flatMap(backingRdd).foreach(_.unpersist(blocking = false))
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
