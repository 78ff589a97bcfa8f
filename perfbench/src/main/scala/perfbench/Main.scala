package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val work: Path) {
  val tracer = new Tracer
  val progress = new ProgressListener
  spark.streams.addListener(progress)
  lazy val jobs: JobListener = {
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    l
  }
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** What a workload reports: end-to-end metrics (the untraced
  * measurement), per-layer metrics (the traced one, when asked for), the
  * output checks, and operation counts. */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
  var attempted = 0L
  var failed = 0L
  /** Workload-specific figures printed in the report only. */
  val notes = mutable.ArrayBuffer.empty[String]

  def check(name: String, result: Option[String]): Boolean = {
    checks += name -> result
    result.isEmpty
  }
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
}

trait Workload {
  def name: String
  /** Everything before the first timed operation. */
  def setup(ctx: Ctx): Unit
  /** Measures into `untraced` with tracing off; then, when `traced` is
    * given, measures again with tracing on (`ctx.tracer.enabled`), so the
    * two differ by the tracing overhead only. */
  def measure(ctx: Ctx, untraced: Outcome, traced: Option[Outcome]): Unit
}

/** `perfbench.Main --workload <ingest|dashboard|registry> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --data <dir>`: sets up the
  * workload, measures it, checks its outputs, and prints one JSON result
  * as the last line of stdout (the human-readable report goes to stderr).
  * With `--trace 1` the workload is measured twice in the same process,
  * first untraced and then traced, and the result carries the per-layer
  * metrics plus the tracing overhead (traced minus untraced). */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "throughput_per_s" -> "1/s",
    "read_ms" -> "ms", "peak_heap_mb" -> "MB")

  /** End-to-end metrics whose tracing overhead a traced run reports: all
    * but set-up, which the two measurements share. */
  val Overhead: Seq[String] = EndToEnd.map(_._1).filterNot(_ == "setup_s")

  def main(args: Array[String]): Unit = {
    // Set-up time counts from the JVM's start, not from here.
    val startedS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opts.get("workload") match {
      case Some("logger") => new LoggerWorkload
      case Some("registry") => new RegistryWorkload(
        Paths.get(opts.getOrElse("data", sys.error("--data required"))))
      case other => sys.error(s"unknown workload $other")
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts.getOrElse("work", ".bench_work/run")))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.EngineDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, work)
    val code =
      try {
        workload.setup(ctx)
        val setupS = startedS + (System.nanoTime() - t0) / 1e9
        val out = new Outcome
        val traced = if (trace) Some(new Outcome) else None
        workload.measure(ctx, out, traced)
        out.endToEnd("setup_s") = (setupS, "s")
        traced.foreach { t =>
          t.layers.foreach { case (k, v) => out.layers(k) = v }
          Overhead.foreach { m =>
            out.layer(s"overhead.$m", t.endToEnd(m)._1 - out.endToEnd(m)._1, out.endToEnd(m)._2)
          }
          val self = ctx.tracer.selfMsByLayer()
          Layers.all.foreach(l => out.layer(s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
          out.checks ++= t.checks.map { case (n, r) => s"traced: $n" -> r }
          out.notes ++= t.notes.map("traced: " + _)
          out.attempted += t.attempted
          out.failed += t.failed
          out.layer("ops_failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio")
          val tracePath = work.getParent.resolve("traces").resolve(s"${workload.name}-seed$seed.json")
          ctx.tracer.write(tracePath)
          out.notes += s"trace: ${ctx.tracer.all.size} spans written to $tracePath"
        }
        report(workload.name, seed, out)
        println(result(out, trace))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${workload.name} failed: $e")
          e.printStackTrace()
          1
      } finally {
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        spark.stop()
      }
    System.out.flush()
    sys.exit(code)
  }

  private def result(out: Outcome, trace: Boolean): String = {
    val metrics =
      if (!trace) EndToEnd.map { case (n, _) => n -> out.endToEnd(n) }
      else Layers.metricNames(out.layers.keys.toSeq).map(n => n -> out.layers.getOrElse(n, (0.0, Layers.unitOf(n))))
    val body = metrics.map { case (n, (v, u)) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    val correct = out.failed == 0 && out.checks.forall(_._2.isEmpty)
    s"""{"correct":$correct,"attempted":${math.max(1L, out.attempted)},"failed":${out.failed},"metrics":{$body}}"""
  }

  private def report(workload: String, seed: Long, out: Outcome): Unit = {
    val err = System.err
    err.println(s"== perfbench $workload seed=$seed")
    out.endToEnd.foreach { case (n, (v, u)) => err.println(f"  $n%-44s ${Json.num(v)}%16s $u") }
    out.layers.foreach { case (n, (v, u)) => err.println(f"  $n%-44s ${Json.num(v)}%16s $u") }
    out.notes.foreach(n => err.println(s"  $n"))
    err.println(f"  ops_failed_frac ${out.failed.toDouble / math.max(1L, out.attempted)}%.4f " +
      s"(${out.failed} of ${out.attempted})")
    out.checks.foreach { case (n, r) =>
      err.println(s"  check $n: ${r.map("FAIL " + _).getOrElse("pass")}") }
  }
}
