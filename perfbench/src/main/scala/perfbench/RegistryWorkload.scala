package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** `registry`: a fixed list of `SparkEntry.queries`, each pass in an order
  * permuted by the seed, over the committed test tables in `data`. Each query is timed
  * as `fn(spark, dir)` plus `.count()`; persisted RDDs are swept outside the
  * timed region, as `graft.Bench` does, and warm-up passes over the same
  * tables run in set-up so JIT and codegen do not land on the
  * measurement. Passes repeat until the run's seconds are spent (at least
  * three); each query reports its median. The ingest path is idle here. */
final class RegistryWorkload(data: Path) extends Workload {
  import RegistryWorkload._

  val name = "registry"
  private lazy val registry = graft.SparkEntry.queries
  private lazy val expectedRows: Map[String, Long] = {
    val f = data.resolve(RowsFile)
    val text = if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8") else ""
    """"(\w+)"\s*:\s*(\d+)""".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  private def sweep(ctx: Ctx): Int = {
    val persisted = ctx.spark.sparkContext.getPersistentRDDs
    persisted.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
    persisted.size
  }

  def setup(ctx: Ctx): Unit = {
    val missing = Queries.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    (1 to WarmupPasses).foreach { _ =>
      Queries.foreach { q =>
        registry(q)(ctx.spark, data.toString).count()
        sweep(ctx)
      }
    }
    reclaim()
  }

  /** Outside the timed region, at each pass boundary as `graft.Bench`
    * does: a collection lets Spark's cleaner drop the passes' dead
    * shuffle and broadcast state, and the pause lets it finish before the
    * next query. */
  private def reclaim(): Unit = {
    System.gc()
    Thread.sleep(500)
  }

  def measure(ctx: Ctx, untraced: Outcome, traced: Option[Outcome]): Unit = {
    passes(ctx, untraced)
    traced.foreach { t =>
      ctx.tracer.enabled = true
      passes(ctx, t)
    }
  }

  /** Passes over the seed's order while the next one still fits in the
    * run's seconds (at least `MinPasses`). */
  private def passes(ctx: Ctx, out: Outcome): Unit = {
    val tr = ctx.tracer
    val traced = tr.enabled
    val dir = data.toString
    if (traced) ctx.jobs.reset()
    HeapTracker.reset()
    // Each pass runs its own seeded order, so a query's median is not tied
    // to the one neighbour that precedes it in every pass.
    val rnd = new scala.util.Random(ctx.seed)
    val times = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
    val execTimes = mutable.LinkedHashMap.empty[String, List[Double]].withDefaultValue(Nil)
    val construct = mutable.ArrayBuffer.empty[Double]
    val execute = mutable.ArrayBuffer.empty[Double]
    val persisted = mutable.ArrayBuffer.empty[Int]
    val failures = mutable.LinkedHashMap.empty[String, String]
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val gc0 = HeapTracker.gcMillis()
    val start = System.nanoTime()
    var passes = 0
    var lastNs = 0L
    while (passes < MinPasses || System.nanoTime() - start + lastNs <= ctx.seconds * 1e9) {
      val p0 = System.nanoTime()
      rnd.shuffle(Queries).foreach { q =>
        val t0 = System.nanoTime()
        val counted =
          try tr.span("operators", q) {
            val df = tr.span("operators", "construct")(registry(q)(ctx.spark, dir))
            val t1 = System.nanoTime()
            val n = tr.span("operators", "execute")(df.count())
            construct += (t1 - t0) / 1e9
            execute += (System.nanoTime() - t1) / 1e9
            execTimes(q) = (System.nanoTime() - t1) / 1e9 :: execTimes(q)
            Right(n)
          } catch { case e: Exception => Left(e.toString) }
        val sec = (System.nanoTime() - t0) / 1e9
        counted match {
          case Right(n) =>
            counts(q) = n
            Checks.rowCount(n, expectedRows.get(q)) match {
              case None => times(q) = sec :: times(q)
              case Some(msg) => failures(q) = msg
            }
          case Left(msg) => failures(q) = msg
        }
        persisted += sweep(ctx)
      }
      lastNs = System.nanoTime() - p0
      passes += 1
      reclaim()
    }
    val gcMs = HeapTracker.gcMillis() - gc0

    out.attempted += passes.toLong * Queries.size
    out.failed += failures.size.toLong * passes
    out.check("row counts equal the recorded counts",
      failures.headOption.map { case (q, m) => s"${failures.size} queries; $q: $m" })
    out.notes += Queries.filter(counts.contains).map(q => s"\"$q\": ${counts(q)}")
      .mkString("row counts {", ", ", "}")
    val perQuery = Queries.filter(times.contains).map(q => q -> Stats.median(times(q)))
    val secs = perQuery.map(_._2)
    val total = secs.sum
    // Each query's median over the passes, then the geometric mean over
    // queries: the queries differ in cost by an order of magnitude, so a
    // median across them would be whichever query sits in the middle.
    // With every query failing there is nothing to time; the result then
    // reads 0 and says it is not correct.
    val geomeanMs = if (secs.isEmpty) 0.0 else Stats.geomean(secs) * 1000
    val execGeomeanMs =
      if (secs.isEmpty) 0.0 else Stats.geomean(perQuery.map { case (q, _) => Stats.median(execTimes(q)) }) * 1000
    out.endToEnd("latency_ms") = (geomeanMs, "ms")
    out.endToEnd("throughput_per_s") = (if (secs.isEmpty) 0.0 else perQuery.size / total, "1/s")
    out.endToEnd("read_ms") = (execGeomeanMs, "ms")
    out.endToEnd("peak_heap_mb") = (HeapTracker.peakMb(), "MB")
    out.notes += f"passes=$passes queries=${perQuery.size} registry.total_s=$total%.3f " +
      f"registry.geomean_ms=$geomeanMs%.2f"

    if (traced) {
      ctx.jobs.drain(ctx.spark.sparkContext)
      val (jobs, stages) = ctx.jobs.snapshot()
      val ran = stages.values.filter(_.tasks > 0)
      val n = (passes * Queries.size).toDouble
      out.layer("operators.construct_s", construct.sum / passes, "s")
      out.layer("operators.execute_s", execute.sum / passes, "s")
      out.layer("operators.persisted_rdds_per_query", persisted.sum / n, "count")
      out.layer("operators.jobs_per_query", jobs.size / n, "count")
      out.layer("operators.shuffle_bytes", ran.map(_.shuffleWrite).sum.toDouble / passes, "B")
      out.layer("operators.spill_bytes", ran.map(_.spill).sum.toDouble / passes, "B")
      out.layer("operators.gc_ms", gcMs.toDouble / passes, "ms")
      Modules.foreach { m =>
        out.layer(s"operators.${m}_s", perQuery.filter(q => moduleOf(q._1) == m).map(_._2).sum, "s")
      }
      perQuery.foreach { case (q, s) => out.layer(s"operators.${q}_s", s, "s") }
      out.layer("registry.total_s", total, "s")
      out.layer("registry.geomean_ms", geomeanMs, "ms")
    }
  }
}

object RegistryWorkload {
  /** Row counts of every listed query over the committed tables, recorded
    * from the program as the benchmark was defined. */
  val RowsFile = "registry_rows.json"

  /** Pair and graph kernels the roadmap targets, the PurpleAir query
    * surface, and a representative of each other module: about 4 s per
    * warm pass on four cores, so the warm-up and three measured passes fit
    * one run. */
  val Queries: Seq[String] = Seq(
    "q_dedup_prefix_salted", "q_dedup_minhash", "q_graph_bfs", "q_sim_topk_cosine",
    "q_text_tfidf", "q_embed_kmeans", "q_a1_downsample_max", "q_j1_recombine", "q_er_blocked")

  /** Passes per measurement, at the least: each query reports its median. */
  val MinPasses = 3
  /** Warm-up passes in set-up: after one, the measured passes still run
    * measurably faster pass after pass. */
  val WarmupPasses = 2

  val Modules: Seq[String] = Seq("dedup", "graph", "sim", "text", "embed", "paper", "other")

  private val Module = "q_(dedup|graph|sim|text|embed)_.*".r
  private val Paper = "q_(a\\d|s3|f|j\\d|o1|t3|x|layout)_.*".r

  def moduleOf(q: String): String = q match {
    case Module(m) => m
    case Paper(_) => "paper"
    case _ => "other"
  }
}
