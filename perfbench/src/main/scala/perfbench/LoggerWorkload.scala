package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.Dashboard
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink
import graft.sources.PollingSource
import graft.streaming.ContinuousAggregate
import graft.transform.Transforms

/** `logger`: the paper's system as it runs — poll, conform, 9-way fan-out
  * plus the hourly continuous aggregate, then dashboard reads over what
  * landed.
  *
  * Ingest is the data path of `DataLoggerCli.runStream`, replayed in a
  * closed loop: two streaming queries read the one poll source, as
  * `runStream` builds them — the `FanOutSink.stream` fan-out and the
  * `ContinuousAggregate.hourly` parquet sink — with compaction off, the CLI
  * default. The composition is rebuilt here from the same public calls
  * because `runStream` cannot trigger faster than every 60 s; the only
  * differences are `allowFastPolling` on the source, a zero trigger
  * interval, and the [[CountingReplayFetcher]] transport. The queries
  * start in set-up and read `WarmupPolls` polls there, so the measurement
  * sees the logger as it runs for days: started, warm, one poll per
  * trigger.
  *
  * The dashboard then reads the layout the streaming sink left (one
  * `batch=<id>` run per trigger): a load is the 9 group panels, the
  * station raw panel and the sensor directory for one seeded sensor,
  * range and interval, each request from `FanOutSink.readTable` (as
  * `DashboardCli` does) through `collect`. One timed `compactAll` follows,
  * then the same loads again over the compacted layout: a write-side
  * layout change shows here twice, as write cost and as read cost. */
final class LoggerWorkload extends Workload {
  import LoggerWorkload._

  val name = "logger"
  private var payloads: Payloads = _
  private var maxPolls = 0
  private var base: Path = _
  private var fanout: StreamingQuery = _
  private var hourly: StreamingQuery = _

  private def outDir: Path = base.resolve("out")

  def setup(ctx: Ctx): Unit = {
    // Enough polls that the source never runs dry before a deadline, for
    // the untraced and the traced measurement alike.
    maxPolls = WarmupPolls + 2 * (math.max(4, (ctx.seconds / MinTriggerSeconds).toInt) + 2)
    payloads = Payloads(ctx.seed, Sensors, maxPolls, StartEpoch + (ctx.seed % 97) * 86400L,
      SpacingSeconds)
    val replayDir = ctx.dir("replay")
    java.util.stream.IntStream.range(0, maxPolls).parallel().forEach { p =>
      val _ = Files.write(replayDir.resolve(f"poll-$p%05d.json"), payloads.payload(p).getBytes("UTF-8"))
    }
    base = ctx.dir("logger")
    ReplayGate.open(polls = WarmupPolls, streams = 2)
    val spark = ctx.spark
    val wire = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass, classOf[CountingReplayFetcher].getName)
      .option(PollingSource.Options.MinPollIntervalSeconds, "65")
      .option(PollingSource.Options.AllowFastPolling, "true")
      .option("replay.dir", replayDir.toString)
      .load()
    val conformed = Transforms.conform(PollingSource.parseMulti(wire, payloads.requestedFields))
    fanout = FanOutSink.stream(conformed, outDir.toString,
      base.resolve("checkpoint").toString, format = "parquet",
      trigger = Trigger.ProcessingTime(0L), compactEveryBatches = 0)
    hourly = ContinuousAggregate
      .hourly(conformed, "data_time_stamp", Seq("sensor_index", "name"), "pm2_5")
      .withColumn("date", to_date(col("bucket_ts")))
      .writeStream
      .option("checkpointLocation", base.resolve("checkpoint_hourly").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .format("parquet")
      .partitionBy("date")
      .option("path", base.resolve("hourly").toString)
      .start()
    fanout.processAllAvailable()
    hourly.processAllAvailable()
    // The read path warms on a load over the warm-up polls; reading
    // leaves the layout as it is.
    loads(ctx.seed + 1, 1, WarmupPolls).head.foreach(r => request(ctx, r))
  }

  def measure(ctx: Ctx, untraced: Outcome, traced: Option[Outcome]): Unit = {
    HeapTracker.reset()
    ingest(ctx, untraced)
    val landed = ReplayGate.polls.toInt
    val plan = loads(ctx.seed, 1000, landed)
    val before = readPhase(ctx, plan, untraced)
    untraced.endToEnd("peak_heap_mb") = (HeapTracker.peakMb(), "MB")

    // With tracing on, the traced reads see the same layout as the
    // untraced ones; compaction and the compacted reads are traced; the
    // traced ingest lands on the compacted layout last.
    traced.foreach { _ =>
      ctx.tracer.enabled = true
      HeapTracker.reset()
    }
    val beforeTraced = traced.map(t => readPhase(ctx, plan.take(before.size), t))
    val report = traced.getOrElse(untraced)
    val tableDirs = FieldCatalog.Groups.all.map(outDir.resolve)
    val runsBefore = tableDirs.map(Disk.runs(_).size).sum.toDouble / tableDirs.size
    val filesBefore = tableDirs.map(Disk.dataFiles(_).size).sum.toDouble / tableDirs.size
    val c0 = System.nanoTime()
    ctx.tracer.span("sinks", "compactAll")(FanOutSink.compactAll(ctx.spark, outDir.toString))
    val compactS = (System.nanoTime() - c0) / 1e9
    val after = plan.take(before.size).map(_.map(r => r -> request(ctx, r)))
    val latAfter = after.flatten.map(_._2.ms)

    // Checks: every answer equals the model, before and after compaction,
    // and compaction changes no answer.
    val phases = Seq("uncompacted" -> before, "compacted" -> after) ++
      beforeTraced.map(b => "uncompacted traced" -> b)
    val wrong = phases.flatMap { case (phase, ls) =>
      ls.flatten.flatMap { case (r, a) =>
        Checks.rows(a.rows, expected(r, landed)).map(m => s"$phase ${r.kind} ${r.group} sensor ${r.sensor}: $m")
      }
    }
    val changed = before.flatten.zip(after.flatten).count { case ((_, a), (_, b)) => a.rows != b.rows }
    report.attempted += after.flatten.size
    report.failed += wrong.size + changed
    report.check("dashboard answers equal the model", wrong.headOption.map(m => s"${wrong.size} requests; $m"))
    report.check("dashboard answers unchanged by compaction",
      if (changed == 0) None else Some(s"$changed requests differ"))
    report.notes += f"dashboard: compact $compactS%.3f s, compacted p50 ${Stats.median(latAfter)}%.1f ms " +
      f"over ${latAfter.size} requests; runs per table $runsBefore%.1f -> " +
      f"${tableDirs.map(Disk.runs(_).size).sum.toDouble / tableDirs.size}%.1f"
    report.notes += p90Note("dashboard.compacted_panel_p90_ms", latAfter)

    traced.foreach { t =>
      val answers = beforeTraced.get.flatten.map(_._2)
      val runsAfter = tableDirs.map(Disk.runs(_).size).sum.toDouble / tableDirs.size
      val filesAfter = tableDirs.map(Disk.dataFiles(_).size).sum.toDouble / tableDirs.size
      t.layer("sinks.read_table_ms_p50", Stats.median(answers.map(_.readMs)), "ms")
      t.layer("sinks.runs_per_table", runsBefore, "count")
      t.layer("sinks.files_per_table", filesBefore, "count")
      t.layer("sinks.runs_per_table_compacted", runsAfter, "count")
      t.layer("sinks.files_per_table_compacted", filesAfter, "count")
      t.layer("sinks.compact_bytes_rewritten", tableDirs.flatMap(Disk.runs)
        .filter(_.getFileName.toString.startsWith("batch=c")).map(Disk.dataBytes).sum.toDouble, "B")
      t.layer("queries.panel_exec_ms_p50", Stats.median(answers.map(_.execMs)), "ms")
      t.layer("queries.files_read_per_panel", Stats.mean(answers.map(_.files.toDouble)), "count")
      t.layer("queries.rows_read_per_row_returned",
        answers.map(_.rowsRead).sum.toDouble / math.max(1, answers.map(_.rows.size).sum), "ratio")
      t.layer("dashboard.panel_p50_ms", t.endToEnd("read_ms")._1, "ms")
      t.layer("dashboard.compacted_panel_p50_ms", Stats.median(latAfter), "ms")
      t.layer("dashboard.compact_s", compactS, "s")
      ingest(ctx, t)
      t.endToEnd("peak_heap_mb") = (HeapTracker.peakMb(), "MB")
    }
  }

  // ------------------------------------------------------------ ingest

  /** Lets the running queries poll for `ctx.seconds`, then drains them;
    * reports trigger latency and throughput into `out` and checks every
    * table and the rollup against the model. */
  private def ingest(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val traced = ctx.tracer.enabled
    if (traced) ctx.jobs.reset()
    val first = ReplayGate.polls.toInt
    val fanId = fanout.id.toString
    val hourId = hourly.id.toString
    val seenBefore = ctx.progress.of(hourId).size
    val t0 = System.nanoTime()
    ReplayGate.extend(ctx.seconds, maxPolls)
    val failure =
      try {
        Thread.sleep(ctx.seconds * 1000L)
        fanout.processAllAvailable()
        hourly.processAllAvailable()
        None
      } catch { case e: Exception => Some(e.toString) }
    val total = ReplayGate.polls.toInt
    val polls = total - first
    val readings = polls.toLong * Sensors
    out.attempted += polls
    failure.foreach { f =>
      out.check("streaming queries run", Some(f))
      out.failed += polls
    }

    // A fan-out batch is one poll, so batch ids are poll indices; the
    // rollup also runs batches without data when its watermark moves.
    ctx.progress.awaitBatch(fanId, total - 1L, 30000L)
    ctx.progress.awaitBatch(hourId, total - 1L, 30000L)
    val fan = ctx.progress.of(fanId).filter(p => p.batchId >= first && p.inputRows > 0)
    val hour = ctx.progress.of(hourId).drop(seenBefore)
    def end(p: Progress) = p.startMs + p.durations.getOrElse("triggerExecution", 0L)
    val trig = fan.map(p => (end(p) - p.startMs).toDouble)
    // From the first measured trigger to the last one that landed data.
    val landing = fan ++ hour.filter(_.inputRows > 0)
    val wallS = (landing.map(end).max - landing.map(_.startMs).min) / 1000.0
    val p50 = Stats.median(trig)
    out.endToEnd("latency_ms") = (p50, "ms")
    out.endToEnd("throughput_per_s") = (readings / wallS, "1/s")
    out.notes += trig.map(t => f"$t%.0f").mkString("fan-out triggers (ms): ", " ", "")
    out.notes += hour.map(p => s"${p.durations.getOrElse("triggerExecution", 0L)}/${p.inputRows}")
      .mkString("hourly triggers (ms/rows): ", " ", "")
    out.notes += f"ingest: polls=$polls (after $first) readings=$readings wall=$wallS%.3f s " +
      f"(deadline to drained ${(System.nanoTime() - t0) / 1e9 - ctx.seconds}%.3f s)"
    out.notes += p90Note("ingest.trigger_p90_ms", trig)

    // Output checks over every poll landed so far: each table holds
    // polls × sensors keys, once each; the finalized hourly rows equal the
    // model.
    val expectedKeys = payloads.expectedKeys(total)
    val badPolls = mutable.Set.empty[Long]
    val summaries = Checks.summarizeKeys(FieldCatalog.Groups.all.map(g =>
      g -> FanOutSink.readTable(spark, outDir.toString, g)))
    FieldCatalog.Groups.all.foreach { g =>
      val bad = Checks.keys(summaries.getOrElse(g, Nil), expectedKeys)
      badPolls ++= bad
      out.check(s"$g keys", if (bad.isEmpty) None else Some(s"polls at epochs ${bad.take(5).mkString(",")} differ"))
    }
    val hourlyDir = base.resolve("hourly")
    val hourlyObserved =
      if (Disk.dataFiles(hourlyDir).isEmpty) Nil
      else Checks.hourlyRows(spark.read.parquet(hourlyDir.toString))
    val hourlyExpected = payloads.expectedHourly(total)
    val badBuckets = Checks.hourly(hourlyObserved, hourlyExpected)
    out.check("hourly rollup", if (badBuckets.isEmpty) None
      else Some(s"buckets ${badBuckets.take(5).mkString(",")} differ"))
    badBuckets.foreach(b => badPolls ++= (0 until total).map(payloads.pollEpoch)
      .filter(e => e >= b && e < b + 3600L))
    out.notes += s"hourly rows ${hourlyObserved.size} (model ${hourlyExpected.size}, " +
      s"${hourlyExpected.map(_.bucket).distinct.size} finalized buckets)"
    if (failure.isEmpty) out.failed += badPolls.count(e => e >= payloads.pollEpoch(first))

    val apiCalls = ReplayGate.fetchLog.size.toDouble / polls
    val bytesPerReading = (Disk.dataBytes(outDir) + Disk.dataBytes(hourlyDir)).toDouble /
      (total.toLong * Sensors)
    out.notes += f"ingest.api_calls_per_poll $apiCalls%.3f, ingest.bytes_per_reading $bytesPerReading%.2f B"
    if (traced) {
      ctx.jobs.drain(spark.sparkContext)
      ingestLayers(ctx, out, fanId, hourId, fan, hour, polls, total)
      out.layer("ingest.trigger_p50_ms", p50, "ms")
      out.layer("ingest.readings_per_s", readings / wallS, "1/s")
      out.layer("ingest.api_calls_per_poll", apiCalls, "count")
      out.layer("ingest.bytes_per_reading", bytesPerReading, "B")
    }
  }

  private def ingestLayers(ctx: Ctx, out: Outcome, fanId: String, hourId: String,
      fan: Seq[Progress], hour: Seq[Progress],
      polls: Int, total: Int): Unit = {
    val fetches = ReplayGate.fetchLog
    out.layer("sources.fetch_calls_per_poll", fetches.size.toDouble / polls, "count")
    out.layer("sources.fetch_ms_p50", Stats.median(fetches.map(f => (f.endUs - f.startUs) / 1000.0)), "ms")
    out.layer("sources.fetch_bytes_per_poll", fetches.map(_.bytes).sum.toDouble / polls, "B")

    def d(p: Progress, k: String) = p.durations.getOrElse(k, 0L).toDouble
    out.layer("streaming.fanout.add_batch_ms_p50", Stats.median(fan.map(d(_, "addBatch"))), "ms")
    out.layer("streaming.fanout.planning_ms_p50", Stats.median(fan.map(d(_, "queryPlanning"))), "ms")
    out.layer("streaming.fanout.log_commit_ms_p50",
      Stats.median(fan.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "ms")
    val hourData = hour.filter(_.inputRows > 0)
    out.layer("streaming.hourly.add_batch_ms_p50", Stats.median(hourData.map(d(_, "addBatch"))), "ms")
    out.layer("streaming.hourly.state_rows_max", hour.map(_.stateRows).max.toDouble, "count")
    out.layer("streaming.hourly.state_bytes_max", hour.map(_.stateBytes).max.toDouble, "B")
    out.layer("streaming.hourly.rows_dropped_by_watermark", hour.map(_.droppedByWatermark).sum.toDouble, "count")

    val (jobs, stages) = ctx.jobs.snapshot()
    val fanJobs = jobs.filter(_.queryId == fanId)
    val fanStages = fanJobs.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.tasks > 0)
    val scanStages = fanStages.filter(s => s.rddNames.exists(_.contains("DataSourceRDD")))
    out.layer("transform.scan_stage_ms_per_poll",
      scanStages.map(s => (s.doneMs - s.submitMs).toDouble).sum / polls, "ms")
    out.layer("sinks.jobs_per_poll", fanJobs.size.toDouble / polls, "count")
    out.layer("sinks.tasks_per_poll", fanStages.map(_.tasks).sum.toDouble / polls, "count")
    out.layer("sinks.files_written_per_poll", Disk.dataFiles(base.resolve("out")).size.toDouble / total, "count")
    out.layer("sinks.shuffle_bytes_per_poll", fanStages.map(_.shuffleWrite).sum.toDouble / polls, "B")
    out.layer("sinks.executor_cpu_ms_per_poll", fanStages.map(_.cpuNs).sum / 1e6 / polls, "ms")

    // Spans: trigger (streaming) ← job (sinks for the fan-out, streaming
    // for the rollup) ← scan stage (transform) ← fetch (sources).
    val tr = ctx.tracer
    val name = Map(fanId -> "fanout", hourId -> "hourly")
    (fan ++ hour).foreach { p =>
      tr.add(Span(s"trigger:${p.query}:${p.batchId}", s"${name(p.query)}.trigger", "streaming",
        p.startMs * 1000L, (p.startMs + d(p, "triggerExecution").toLong) * 1000L, ""))
    }
    val stageOwner = scala.collection.mutable.Map.empty[Int, String]
    jobs.filter(j => name.contains(j.queryId)).foreach { j =>
      val layer = if (j.queryId == fanId) "sinks" else "streaming"
      tr.add(Span(s"job:${j.id}", s"${name(j.queryId)}.job", layer, j.startMs * 1000L,
        j.endMs * 1000L, s"trigger:${j.queryId}:${j.batchId}"))
      j.stages.flatMap(stages.get).filter(s => s.tasks > 0 && s.rddNames.exists(_.contains("DataSourceRDD")))
        .foreach { s =>
          if (!stageOwner.contains(s.id)) {
            stageOwner(s.id) = s"job:${j.id}"
            tr.add(Span(s"stage:${s.id}", s"${name(j.queryId)}.scan_stage", "transform",
              s.submitMs * 1000L, s.doneMs * 1000L, s"job:${j.id}"))
          }
        }
    }
    fetches.foreach(f => tr.add(Span(s"fetch:${f.startUs}", "fetch", "sources", f.startUs, f.endUs,
      s"stage:${f.stageId}")))
  }

  // --------------------------------------------------------- dashboard

  /** Seeded dashboard loads over the first `landed` polls: each is the 11
    * requests for one sensor, one `RangePolls`-poll range starting at a
    * poll, and one interval. Every load reads the same number of polls, so
    * the seed moves the answers but not the amount of work. */
  private def loads(seed: Long, n: Int, landed: Int): Seq[Seq[Request]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val sensor = rnd.nextInt(Sensors)
      val from = payloads.pollEpoch(rnd.nextInt(landed - RangePolls + 1))
      val until = from + RangePolls * SpacingSeconds
      val interval = IntervalHours(rnd.nextInt(IntervalHours.size))
      FieldCatalog.Groups.all.map(g => Request(g, Panel, sensor, from, until, interval)) ++
        Seq(Request(FieldCatalog.Groups.Station, Raw, sensor, from, until, interval),
          Request(FieldCatalog.Groups.Station, Directory, sensor, from, until, interval))
    }
  }

  /** Whole loads while the next one still fits in half the run's seconds
    * (at least `MinLoads`); reports the request p50 into `out`. */
  private def readPhase(ctx: Ctx, plan: Seq[Seq[Request]], out: Outcome): Seq[Seq[(Request, Answer)]] = {
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[Seq[(Request, Answer)]]
    var lastNs = 0L
    while (done.size < MinLoads || (System.nanoTime() - t0 + lastNs <= ctx.seconds * 1e9 / 2 && done.size < plan.size)) {
      val l0 = System.nanoTime()
      done += plan(done.size).map(r => r -> request(ctx, r))
      lastNs = System.nanoTime() - l0
    }
    val lat = done.flatten.map(_._2.ms).toSeq
    out.endToEnd("read_ms") = (Stats.median(lat), "ms")
    out.attempted += lat.size
    out.notes += f"dashboard: ${done.size} loads, ${lat.size} requests, p50 ${Stats.median(lat)}%.1f ms"
    out.notes += p90Note("dashboard.panel_p90_ms", lat)
    done.toSeq
  }

  private def iso(epoch: Long): String =
    java.time.Instant.ofEpochSecond(epoch).toString.replace("T", " ").stripSuffix("Z")

  private def build(r: Request, table: DataFrame): DataFrame = r.kind match {
    case Panel => Dashboard.panel(table, r.group, s"${r.intervalHours} hours", payloads.sensorIds(r.sensor),
      iso(r.from), iso(r.until))
    case Raw => Dashboard.rawPanel(table, RawColumns, payloads.sensorIds(r.sensor), iso(r.from), iso(r.until))
    case Directory => Dashboard.sensorDirectory(table)
  }

  private def expected(r: Request, landed: Int): Seq[Seq[Any]] = r.kind match {
    case Panel => payloads.expectedPanel(r.group, r.sensor, r.from, r.until, r.intervalHours * 3600L, landed)
    case Raw => payloads.expectedRaw(RawColumns, r.sensor, r.from, r.until, landed)
    case Directory => payloads.expectedDirectory
  }

  /** One request, `readTable` through `collect`. */
  private def request(ctx: Ctx, r: Request): Answer = {
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    tr.span("queries", s"request.${r.kind}") {
      val table = tr.span("sinks", "readTable")(FanOutSink.readTable(ctx.spark, outDir.toString, r.group))
      val tRead = System.nanoTime()
      val df = build(r, table)
      val rows = tr.span("queries", "collect")(df.collect())
      val t1 = System.nanoTime()
      val scans = if (tr.enabled) scanMetrics(df.queryExecution.executedPlan) else (0L, 0L)
      Answer(Checks.normalize(rows), (t1 - t0) / 1e6, (tRead - t0) / 1e6, (t1 - tRead) / 1e6,
        scans._1, scans._2)
    }
  }

  /** (files, rows) the executed plan's file scans read. */
  private def scanMetrics(plan: SparkPlan): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(plan).collect { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }

  private def p90Note(name: String, xs: Seq[Double]): String =
    if (Stats.supported(xs.size, 0.9)) s"$name ${Stats.percentile(xs, 0.9)}"
    else s"$name n/a: ${xs.size} samples, a p90 needs 100"
}

object LoggerWorkload {
  val Sensors = 500
  /** Polls 4.5 h apart in event time: each lands in its own hourly bucket,
    * and a run's dozen polls span more than two UTC days. */
  val SpacingSeconds = 16200L
  val WarmupPolls = 3
  /** A floor on the trigger time, to size the payload pool. */
  val MinTriggerSeconds = 1.0
  /** 2024-03-01 00:00 UTC, shifted by whole days per seed. */
  val StartEpoch = 1709251200L
  val RangePolls = 3
  /** Dashboard loads per read phase, at the least. */
  val MinLoads = 1
  val IntervalHours: Seq[Int] = Seq(1, 3, 6)
  val RawColumns: Seq[String] = Seq("name", "rssi", "uptime", "firmware_version", "latitude")

  sealed trait Kind
  case object Panel extends Kind
  case object Raw extends Kind
  case object Directory extends Kind

  final case class Request(group: String, kind: Kind, sensor: Int, from: Long, until: Long,
      intervalHours: Int)
  final case class Answer(rows: Seq[Seq[Any]], ms: Double, readMs: Double, execMs: Double,
      files: Long, rowsRead: Long)
}
