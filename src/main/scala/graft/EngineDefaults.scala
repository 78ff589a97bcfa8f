package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session settings; [[builder]] builds every session: `Bench`,
  * `Verify`, `Profile`, the rehearsal mains, both CLIs and the tests.
  *
  * The codegen cache holds 8192 entries, not Spark's 100: the registry's
  * 261 query shapes carry 10-25 whole-stage-codegen units each, so a
  * 100-entry cache makes every execution re-run Janino for its whole plan
  * on one thread while the executors wait (OPTIMIZATION_r13.md: a 57-query
  * pass at sf0.1 went from 132 s to 56 s). Compiled classes cost tens of
  * KB each.
  *
  * There is no global AQE `coalescePartitions.minPartitionSize` floor: it
  * widens every byte-sparse exchange, the memory-heavy dedup aggregates
  * included, and a 64 KB floor kept the 32-core bench from finishing.
  * [[graft.operators.Par]] pins the width only at compute-dense stages.
  *
  * Join strategy is AQE's runtime choice, under
  * `spark.sql.adaptive.autoBroadcastJoinThreshold`: operators hint a
  * broadcast only where the build side is bounded by construction.
  *
  * `file:` resolves to [[graft.sinks.ForkFreeLocalFileSystem]] (and its
  * `FileContext` twin): Hadoop's local filesystem without the `chmod` /
  * `readlink` forks it falls back to without libhadoop.
  */
object EngineDefaults {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl",
        classOf[graft.sinks.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sinks.ForkFreeLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", "8192")

  /** Threads of a local session: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A session builder with the engine defaults, `cpus` shuffle
    * partitions, AQE with partition coalescing, UTC, and no UI unless
    * `ui`. The master is `master`, else `local[cpus]`; a master that
    * spark-submit set (the `spark.master` property) wins over both. */
  def builder(appName: String, cpus: Int, master: Option[String] = None,
      ui: Boolean = false): SparkSession.Builder = {
    val b = apply(SparkSession.builder())
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val b1 = if (ui) b else b.config("spark.ui.enabled", "false")
    if (sys.props.contains("spark.master")) b1
    else b1.master(master.getOrElse(s"local[$cpus]"))
  }
}
