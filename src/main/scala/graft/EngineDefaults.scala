package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session defaults shared by every driver-facing main
  * (Bench / Verify / Stages / PlanDump / rehearsal mains, the logger and
  * dashboard CLIs).
  *
  * Round-13 optimization findings (OPTIMIZATION_r13.md, measured on the
  * 57-query alphabetical-prefix subset bench at sf0.1):
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default 100): the registry
  *    holds 261 query shapes × ~10-25 whole-stage-codegen units each, so
  *    the 100-entry JVM-wide cache thrashes — EVERY query re-runs Janino
  *    compilation for its whole plan on EVERY execution, single-threaded
  *    on the driver while all executor threads sit parked (thread dumps:
  *    32/32 executors idle, main inside codegen). Raising the cache to
  *    cover the inventory cut the 57-query pass 132 s → 56 s. This is a
  *    driver-JVM property, not a local[32] artifact: any production
  *    driver serving a query inventory larger than ~100 codegen units
  *    pays the same recompilation tax per query. 8192 entries ≈ the full
  *    261-query inventory with margin; compiled-class footprint is
  *    metaspace-bounded (~tens of KB per unit).
  *
  * Round-14 change: round 13 ALSO floored
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` at 64 KB to
  * stop AQE from coalescing compute-dense, byte-sparse reduce stages to
  * 2-3 tasks. That global knob widened EVERY byte-sparse exchange —
  * including the memory-heavy dedup hash aggregates — and is the prime
  * suspect in the round-13 32-core driver-bench DNF (pathological pass-2
  * excursions concentrated on exactly those queries under the fixed 8 GB
  * heap). Round 14 removes the floor (back to Spark's 1 MB default) and
  * instead pins the width STRUCTURALLY at the stages where compute
  * density is known — see [[graft.operators.Par]] — so every other
  * exchange keeps the byte-driven coalescing that bounds concurrent
  * memory. The env override remains for per-deployment tuning.
  *
  * The `file:` scheme resolves to [[graft.sinks.ForkFreeLocalFileSystem]]
  * (and its `FileContext` twin): Hadoop's local filesystem minus the
  * `chmod`/`readlink` process forks it falls back to without libhadoop,
  * which were a large share of a logger poll's fixed write cost.
  */
object EngineDefaults {
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val b1 = b
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sinks.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sinks.ForkFreeLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
    sys.env.get("SPARK_GRAFT_MIN_PARTITION_SIZE") match {
      case Some(v) => b1.config(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", v)
      case None => b1
    }
  }
}
