package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.model.ApiPayloadSchema
import graft.sinks.FanOutSink
import graft.sources.PollingSource
import graft.transform.Transforms

/** CLI entry points mirroring the reference's three logger binaries
  * (SURVEY §3.1-3.2): parse args, XOR-validate the single-vs-multi request
  * config (S6, `PurpleAirDataLogger.py:217-245`), optionally drop existing
  * data behind an explicit gate (T8), then run the poll→flatten→conform→
  * fan-out pipeline, hourly rollup and retention included, as one
  * Structured Streaming query ([[runStream]]).
  *
  * Sink selection replaces the reference's three near-identical classes:
  * `parquet` (the scale path), `csv` (K3-compatible layout), or a JDBC URL
  * (K1/K2).
  */
object DataLoggerCli {

  case class Config(
      sink: String = "parquet",
      outDir: String = "./paa_data",
      checkpointDir: String = "./paa_checkpoint",
      singleConfig: Option[String] = None,
      multiConfig: Option[String] = None,
      apiKey: Option[String] = None,
      jdbcUser: Option[String] = None,
      jdbcPassword: Option[String] = None,
      fetcherClass: String = classOf[graft.sources.HttpPollingFetcher].getName,
      replayDir: Option[String] = None,
      pollSeconds: Long = 65L,
      compactEveryBatches: Int = 0,
      retentionHours: Int = 0,
      hourlyAggregateDir: Option[String] = None,
      dropExisting: Boolean = false,
      assumeYes: Boolean = false,
      apiBase: Option[String] = None,
      backfillStart: Option[String] = None,
      backfillEnd: Option[String] = None,
      backfillAverage: Option[String] = None,
      backfillChunkSeconds: Long = 0L)

  def parseArgs(args: Array[String]): Config = {
    def loop(c: Config, rest: List[String]): Config = rest match {
      case Nil => c
      case "-sink" :: v :: t => loop(c.copy(sink = v), t)
      case "-out_dir" :: v :: t => loop(c.copy(outDir = v), t)
      case "-checkpoint_dir" :: v :: t => loop(c.copy(checkpointDir = v), t)
      case "-paa_single_sensor_request_json_file" :: v :: t =>
        loop(c.copy(singleConfig = Some(v)), t)
      case "-paa_multiple_sensor_request_json_file" :: v :: t =>
        loop(c.copy(multiConfig = Some(v)), t)
      case "-paa_api_key" :: v :: t => loop(c.copy(apiKey = Some(v)), t)
      case "-jdbc_user" :: v :: t => loop(c.copy(jdbcUser = Some(v)), t)
      case "-jdbc_password" :: v :: t => loop(c.copy(jdbcPassword = Some(v)), t)
      case "-fetcher_class" :: v :: t => loop(c.copy(fetcherClass = v), t)
      case "-replay_dir" :: v :: t => loop(c.copy(replayDir = Some(v)), t)
      case "-poll_seconds" :: v :: t => loop(c.copy(pollSeconds = v.toLong), t)
      case "-compact_every_batches" :: v :: t =>
        loop(c.copy(compactEveryBatches = v.toInt), t)
      case "-retention_hours" :: v :: t =>
        loop(c.copy(retentionHours = v.toInt), t)
      case "-hourly_aggregate_dir" :: v :: t =>
        loop(c.copy(hourlyAggregateDir = Some(v)), t)
      case "-drop_existing" :: t => loop(c.copy(dropExisting = true), t)
      case "-yes" :: t => loop(c.copy(assumeYes = true), t)
      case "-api_base" :: v :: t => loop(c.copy(apiBase = Some(v)), t)
      case "-backfill_start" :: v :: t => loop(c.copy(backfillStart = Some(v)), t)
      case "-backfill_end" :: v :: t => loop(c.copy(backfillEnd = Some(v)), t)
      case "-backfill_average" :: v :: t =>
        loop(c.copy(backfillAverage = Some(v)), t)
      case "-backfill_chunk_seconds" :: v :: t =>
        loop(c.copy(backfillChunkSeconds = v.toLong), t)
      case other :: _ => sys.error(s"unknown argument: $other")
    }
    val c = loop(Config(), args.toList)
    // XOR dispatch, exactly like validate_parameters_and_run
    require(c.singleConfig.isDefined ^ c.multiConfig.isDefined,
      "provide exactly one of -paa_single_sensor_request_json_file / " +
        "-paa_multiple_sensor_request_json_file")
    c
  }

  /** T8: destructive reset stays behind an explicit flag AND a prompt
    * (or -yes for non-interactive use), like the reference's y/n gate. */
  def confirmDrop(c: Config): Boolean = {
    if (!c.dropExisting) false
    else if (c.assumeYes) true
    else {
      print(s"Drop all existing data under ${c.outDir}? (y/n): ")
      scala.io.StdIn.readLine() == "y"
    }
  }

  /** Historic backfill as a BATCH job (the reference's
    * `request_sensor_historic_data` use case): one fetch through the
    * configured transport's history arm, columnar parse, conform, and a
    * single fan-out write into the same layout the streaming path
    * maintains — so a new deployment stands up its history before the
    * poll loop takes over. Returns the number of readings landed. */
  def runBackfill(spark: SparkSession, c: Config): Long = {
    val cfgPath = c.singleConfig.getOrElse(
      sys.error("-backfill_* requires -paa_single_sensor_request_json_file " +
        "(history is a single-sensor endpoint)"))
    val cfg = spark.read.option("multiLine", true).json(cfgPath)
    val row = cfg.head()
    def str(name: String): Option[String] =
      if (cfg.columns.contains(name) && !row.isNullAt(row.fieldIndex(name)))
        Some(String.valueOf(row.get(row.fieldIndex(name))))
      else None
    val fields = str("fields").getOrElse(
      sys.error("request config must carry 'fields' for a history backfill"))
    val opts = (Seq(
      "sensor.index" -> str("sensor_index").getOrElse(
        sys.error("request config must carry 'sensor_index'")),
      "fields" -> fields) ++
      c.apiKey.map("api.key" -> _) ++
      str("read_key").map("read.key" -> _) ++
      c.apiBase.map("api.base" -> _) ++
      c.replayDir.map("replay.dir" -> _) ++
      c.backfillStart.map("history.start" -> _) ++
      c.backfillEnd.map("history.end" -> _) ++
      c.backfillAverage.map("history.average" -> _)).toMap
    val fetcher = Class.forName(c.fetcherClass).getDeclaredConstructor()
      .newInstance().asInstanceOf[graft.sources.SensorFetcher]
    fetcher.validate(opts)
    // The real API caps history rows per request, so a long range needs
    // windowed GETs: with -backfill_chunk_seconds, [start, end) splits
    // into half-open chunks, one fetch each (server bounds are
    // data_timestamp >= start AND < end, PurpleAirAPI.py:252-258, so
    // chunk edges never duplicate a reading); the PK dedup in writeBatch
    // collapses any server-side overlap anyway.
    val payloads =
      if (c.backfillChunkSeconds <= 0) fetcher.fetch(0L, 1L, opts)
      else (c.backfillStart, c.backfillEnd) match {
        case (Some(s), Some(e)) if s.forall(_.isDigit) && e.forall(_.isDigit) =>
          // Chunk edges must align to the averaging window: the server
          // averages within each request's [start, end) range, so an
          // unaligned edge would split one bucket into two PARTIAL
          // averages sharing a time_stamp — and the PK dedup would keep
          // one of them silently. average=0 (raw) has no buckets to cut.
          // The average must be EXPLICIT when chunking: omitted, the
          // server applies its own default window (10 min,
          // PurpleAirAPI.py:261) and the alignment check would be
          // validating against the wrong (raw) assumption.
          require(c.backfillAverage.isDefined,
            "-backfill_chunk_seconds requires an explicit " +
              "-backfill_average (0 for raw): the server averages at its " +
              "own default when omitted, and chunk edges must align to " +
              "the real window")
          val avgSec = c.backfillAverage.get.toLong * 60
          require(avgSec <= 0 || c.backfillChunkSeconds % avgSec == 0,
            s"-backfill_chunk_seconds (${c.backfillChunkSeconds}) must be " +
              s"a multiple of the averaging window ($avgSec s) or the " +
              "chunk edges would land partial averages")
          val (lo, hi, step) = (s.toLong, e.toLong, c.backfillChunkSeconds)
          (lo until hi by step).flatMap { from =>
            val to = math.min(from + step, hi)
            fetcher.fetch(0L, 1L, opts ++ Map(
              "history.start" -> from.toString, "history.end" -> to.toString))
          }
        case _ => sys.error(
          "-backfill_chunk_seconds needs numeric epoch -backfill_start " +
            "AND -backfill_end (silent single-fetch would defeat chunking)")
      }
    import spark.implicits._
    val wire = payloads.toDF("poll_cursor", "payload_json")
    val requested = fields.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val conformed = Transforms.conform(
      PollingSource.parseHistoric(wire, requested))
    val jdbcProps = new java.util.Properties()
    c.jdbcUser.foreach(jdbcProps.setProperty("user", _))
    c.jdbcPassword.foreach(jdbcProps.setProperty("password", _))
    if (c.sink.startsWith("jdbc:"))
      FanOutSink.writeBatchJdbc(conformed, c.sink, jdbcProps)
    else FanOutSink.writeBatch(conformed, c.outDir, format = c.sink)
    // what actually LANDS: the sink dedups on the composite PK, so
    // chunk-edge overlap (or a re-served payload) is not double-counted
    conformed.select("data_time_stamp", "sensor_index").distinct().count()
  }

  /** Retention ticks that failed since the JVM started. */
  val retentionFailures = new java.util.concurrent.atomic.AtomicLong()

  /** One tick of the T5 retention policy, which each micro-batch runs
    * after its rollup write: drop the date partitions past the horizon
    * from now. A failure is logged (directory, horizon, cause) and
    * counted in [[retentionFailures]]; it never fails the batch, and the
    * next batch's tick retries. */
  def retentionTick(spark: SparkSession, aggDir: String,
      retainHours: Int): Unit =
    try {
      val _ = graft.streaming.ContinuousAggregate.retentionDrop(spark, aggDir,
        new java.sql.Timestamp(System.currentTimeMillis()), retainHours)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val n = retentionFailures.incrementAndGet()
        log.warn(s"retention tick failed on $aggDir (horizon " +
          s"$retainHours h; $n failures so far)", e)
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The full reference loop as ONE streaming query: poll (S5) →
    * flatten/zip → conform → 9-way fan-out (K1–K3/O3), each micro-batch
    * then writing its run of the hourly aggregate (A2) and a retention
    * tick (T5) when configured. So a poll is one GET and a start one
    * `/keys` check. The caller owns the query: `main` awaits it, the
    * specs drive `processAllAvailable` and stop it. */
  def runStream(spark: SparkSession, c: Config)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass, c.fetcherClass)
      .option(PollingSource.Options.MinPollIntervalSeconds, c.pollSeconds.toString)
    val withOpts = Seq(
      c.apiKey.map("api.key" -> _),
      c.replayDir.map("replay.dir" -> _),
      c.singleConfig.map("request.config" -> _),
      c.multiConfig.map("request.config" -> _)
    ).flatten.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }

    val wire = withOpts.load()
    // single-sensor: nested payload → flatten; multi-sensor: columnar
    // fields×data zip (field list from the request config, like the
    // reference's required `fields` parameter)
    val flat = c.multiConfig match {
      case Some(cfgPath) =>
        val cfg = spark.read.option("multiLine", true).json(cfgPath)
        val requested = cfg.select("fields").head().getString(0)
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        PollingSource.parseMulti(wire, requested)
      case None =>
        PollingSource.parseSingle(wire, ApiPayloadSchema.singleSensor)
    }
    val conformed = Transforms.conform(flat)

    // A `jdbc:` URL in -sink routes each micro-batch through
    // FanOutSink.writeBatchJdbc (K1/K2); file formats take the
    // replay-safe batch-directory path.
    val jdbcProps = new java.util.Properties()
    c.jdbcUser.foreach(jdbcProps.setProperty("user", _))
    c.jdbcPassword.foreach(jdbcProps.setProperty("password", _))
    FanOutSink.stream(conformed, c.outDir, c.checkpointDir,
      format = c.sink,
      trigger = Trigger.ProcessingTime(s"${c.pollSeconds} seconds"),
      jdbcProperties = jdbcProps,
      compactEveryBatches = c.compactEveryBatches,
      hourlyAggregateDir = c.hourlyAggregateDir,
      afterRollup = dir =>
        if (c.retentionHours > 0) retentionTick(spark, dir, c.retentionHours))
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = graft.EngineDefaults
      .builder("purpleair-data-logger", graft.EngineDefaults.cpus(),
        master = Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")),
        ui = true)
      .getOrCreate()

    if (confirmDrop(c)) {
      val dir = new java.io.File(c.outDir)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (dir.exists()) rm(dir)
    }

    // -backfill_*: a one-shot batch job, not a streaming query (ANY
    // backfill flag selects it — a lone -backfill_chunk_seconds must
    // refuse inside runBackfill, not silently start the poll loop)
    if (c.backfillStart.isDefined || c.backfillEnd.isDefined ||
        c.backfillAverage.isDefined || c.backfillChunkSeconds > 0) {
      val n = runBackfill(spark, c)
      println(s"[backfill] landed $n readings under ${c.outDir}")
      spark.stop()
      return
    }

    runStream(spark, c).awaitTermination()
  }
}
