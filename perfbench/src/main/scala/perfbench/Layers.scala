package perfbench

/** The per-layer metric catalog: every name a traced run reports, with its
  * unit. A workload that leaves a layer idle reports 0 for that layer's
  * metrics; `LAYERS.md` says which workload moves each one. */
object Layers {
  val all: Seq[String] = Seq("sources", "transform", "sinks", "streaming", "queries", "operators")

  val catalog: Seq[(String, String)] = Seq(
    "sources.fetch_calls_per_poll" -> "count",
    "sources.fetch_ms_p50" -> "ms",
    "sources.fetch_bytes_per_poll" -> "B",
    "streaming.fanout.add_batch_ms_p50" -> "ms",
    "streaming.fanout.planning_ms_p50" -> "ms",
    "streaming.fanout.log_commit_ms_p50" -> "ms",
    "streaming.hourly.add_batch_ms_p50" -> "ms",
    "streaming.hourly.state_rows_max" -> "count",
    "streaming.hourly.state_bytes_max" -> "B",
    "streaming.hourly.rows_dropped_by_watermark" -> "count",
    "transform.scan_stage_ms_per_poll" -> "ms",
    "sinks.jobs_per_poll" -> "count",
    "sinks.tasks_per_poll" -> "count",
    "sinks.files_written_per_poll" -> "count",
    "sinks.shuffle_bytes_per_poll" -> "B",
    "sinks.executor_cpu_ms_per_poll" -> "ms",
    "sinks.read_table_ms_p50" -> "ms",
    "sinks.runs_per_table" -> "count",
    "sinks.files_per_table" -> "count",
    "sinks.runs_per_table_compacted" -> "count",
    "sinks.files_per_table_compacted" -> "count",
    "sinks.compact_bytes_rewritten" -> "B",
    "queries.panel_exec_ms_p50" -> "ms",
    "queries.files_read_per_panel" -> "count",
    "queries.rows_read_per_row_returned" -> "ratio",
    "operators.construct_s" -> "s",
    "operators.execute_s" -> "s",
    "operators.persisted_rdds_per_query" -> "count",
    "operators.jobs_per_query" -> "count",
    "operators.shuffle_bytes" -> "B",
    "operators.spill_bytes" -> "B",
    "operators.gc_ms" -> "ms") ++
    RegistryWorkload.Modules.map(m => s"operators.${m}_s" -> "s") ++
    RegistryWorkload.Queries.map(q => s"operators.${q}_s" -> "s") ++ Seq(
    "ingest.trigger_p50_ms" -> "ms",
    "ingest.readings_per_s" -> "1/s",
    "ingest.api_calls_per_poll" -> "count",
    "ingest.bytes_per_reading" -> "B",
    "dashboard.panel_p50_ms" -> "ms",
    "dashboard.compacted_panel_p50_ms" -> "ms",
    "dashboard.compact_s" -> "s",
    "registry.total_s" -> "s",
    "registry.geomean_ms" -> "ms",
    "ops_failed_frac" -> "ratio") ++
    all.map(l => s"$l.self_ms" -> "ms") ++
    Main.Overhead.map(m => s"overhead.$m" -> Main.EndToEnd.toMap.apply(m))

  private val units = catalog.toMap

  def unitOf(name: String): String = units(name)

  /** The catalog's names; a reported name outside it is a bug. */
  def metricNames(reported: Seq[String]): Seq[String] = {
    val unknown = reported.filterNot(units.contains)
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
    catalog.map(_._1)
  }
}
