package graft

import org.apache.spark.sql.functions._
import graft.cli.DataLoggerCli
import graft.schema.FieldCatalog

/** CLI contract: S6 XOR config validation, T8 drop gating, and the
  * historic-backfill batch mode end-to-end against a stubbed API. */
class CliSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  test("parseArgs: single XOR multi request config (S6)") {
    intercept[IllegalArgumentException] {
      DataLoggerCli.parseArgs(Array[String]())
    }
    intercept[IllegalArgumentException] {
      DataLoggerCli.parseArgs(Array(
        "-paa_single_sensor_request_json_file", "a.json",
        "-paa_multiple_sensor_request_json_file", "b.json"))
    }
    val c = DataLoggerCli.parseArgs(Array(
      "-paa_single_sensor_request_json_file", "a.json",
      "-sink", "csv", "-poll_seconds", "120",
      "-backfill_start", "1659710000", "-backfill_end", "1659796400",
      "-backfill_average", "60", "-api_base", "http://x/v1"))
    assert(c.singleConfig.contains("a.json") && c.sink == "csv" &&
      c.pollSeconds == 120L && c.backfillStart.contains("1659710000") &&
      c.backfillAverage.contains("60") && c.apiBase.contains("http://x/v1"))
    intercept[RuntimeException] {
      DataLoggerCli.parseArgs(Array("-bogus_flag", "x"))
    }
  }

  test("confirmDrop: gated behind the flag AND -yes (T8)") {
    val base = DataLoggerCli.parseArgs(Array(
      "-paa_single_sensor_request_json_file", "a.json"))
    assert(!DataLoggerCli.confirmDrop(base))
    assert(DataLoggerCli.confirmDrop(
      base.copy(dropExisting = true, assumeYes = true)))
  }

  test("retention tick: a failure is counted and the tick returns") {
    // a partition name retention cannot parse makes the drop throw
    val agg = tmp("retention_bad")
    new java.io.File(s"$agg/date=not-a-date").mkdirs()
    val before = DataLoggerCli.retentionFailures.get()
    DataLoggerCli.retentionTick(spark, agg, retainHours = 8)
    assert(DataLoggerCli.retentionFailures.get() == before + 1)
    // a healthy tick is not counted
    val ok = tmp("retention_ok")
    DataLoggerCli.retentionTick(spark, ok, retainHours = 8)
    assert(DataLoggerCli.retentionFailures.get() == before + 1)
  }

  /** A parsed CLI config that replays `replayDir` through the hourly
    * rollup into fresh directories. */
  private def streamConfig(replayDir: String, extra: String*) = {
    val cfgDir = tmp("cli_cfg")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$cfgDir/req.json"),
      """{"sensor_index": 53, "fields": "humidity,pm2.5_atm"}""")
    // the reference loop, configured as an operator would run it (65 s
    // cadence, hourly rollup) — only the transport is the replay fetcher
    DataLoggerCli.parseArgs(Array(
      "-paa_single_sensor_request_json_file", s"$cfgDir/req.json",
      "-fetcher_class", classOf[graft.sources.FileReplayFetcher].getName,
      "-replay_dir", replayDir,
      "-out_dir", tmp("cli_out"), "-checkpoint_dir", s"${tmp("cli_cp")}/cp",
      "-sink", "parquet", "-poll_seconds", "65",
      "-hourly_aggregate_dir", s"${tmp("cli_agg")}/agg") ++ extra)
  }

  /** Hour buckets of the rollup, as epoch seconds, and whether every
    * bucket counts one reading. */
  private def hourlyBuckets(aggDir: String): (Set[Long], Boolean) = {
    val agg = graft.streaming.ContinuousAggregate.readHourly(spark, aggDir)
      .select(col("bucket_ts").cast("long"), col("n")).collect()
    (agg.map(_.getLong(0)).toSet, agg.forall(_.getLong(1) == 1L))
  }

  test("streaming e2e: poll → conform → 9-way fan-out → hourly aggregate " +
      "→ retention, one CLI invocation (S5/A2/T5/K3)") {
    // the synthetic payloads date from June 2024: a horizon from then to
    // now plus two days keeps their date partitions through each tick
    val keepAll = (System.currentTimeMillis() / 1000 - 1717243265L) / 3600 + 48
    val c = streamConfig(Payloads.fixtureDir,
      "-retention_hours", keepAll.toString)
    val aggDir = c.hourlyAggregateDir.get
    val active = spark.streams.active.length
    val query = DataLoggerCli.runStream(spark, c)
    try {
      assert(spark.streams.active.length == active + 1,
        "one query: the rollup rides the fan-out")
      awaitFirstTrigger(query)

      // K3/O3: all nine vertical partitions landed all three payloads
      val sensors = Set(900001, 900002, 900003)
      FieldCatalog.Groups.all.foreach { group =>
        val t = graft.sinks.FanOutSink.readTable(spark, c.outDir, group)
        val got = t.select("sensor_index").collect().map(_.getInt(0)).toSet
        assert(got == sensors, s"$group landed $got")
      }

      // A2: every hour a batch landed a reading in has its row, the
      // newest hour included — no watermark holds it back in state
      val (buckets, oneEach) = hourlyBuckets(aggDir)
      val expect = Set(1717243265L, 1717329710L, 1717416145L)
        .map(t => t - t % 3600)
      assert(buckets == expect, s"hourly buckets: $buckets")
      assert(oneEach, "one reading per bucket")

      // T5: the retention drop at the 8 h horizon from now removes the
      // three long-expired date partitions — a directory delete, not a
      // scan
      val dropped = graft.streaming.ContinuousAggregate.retentionDrop(spark,
        aggDir, new java.sql.Timestamp(System.currentTimeMillis()), 8)
      assert(dropped == 3, s"expected all date partitions dropped: $dropped")
      val left = new java.io.File(aggDir).listFiles()
        .filter(_.getName.startsWith("date=")).toSeq
      assert(left.isEmpty, s"date partitions must be gone: $left")

      // F3 crash-restart: stop the query, relaunch the SAME CLI config
      // against the same checkpoint — the poll cursor restores from the
      // offset log (not the static start option), so the committed
      // payloads are never re-fetched and the replay-safe sink never
      // duplicates
      query.stop()
      val resumed = DataLoggerCli.runStream(spark, c)
      try {
        awaitFirstTrigger(resumed)
        FieldCatalog.Groups.all.foreach { group =>
          val n = graft.sinks.FanOutSink.readTable(spark, c.outDir, group)
            .count()
          assert(n == 3L, s"$group must not grow across a restart: $n")
        }
      } finally resumed.stop()
    } finally if (query.isActive) query.stop()
  }

  test("streaming e2e on the reference samples: the real readings land " +
      "and roll up") {
    Payloads.assumeReferenceSamples()
    val c = streamConfig(Payloads.ReferenceSamples)
    val query = DataLoggerCli.runStream(spark, c)
    try {
      awaitFirstTrigger(query)
      val sensors = Set(53, 14867, 147883)
      FieldCatalog.Groups.all.foreach { group =>
        val t = graft.sinks.FanOutSink.readTable(spark, c.outDir, group)
        val got = t.select("sensor_index").collect().map(_.getInt(0)).toSet
        assert(got == sensors, s"$group landed $got")
      }

      // the dashboard reads back what the reference's Grafana SQL shows:
      // the sensor directory and the July environmental panel
      val station = graft.sinks.FanOutSink.readTable(spark, c.outDir,
        FieldCatalog.Groups.Station)
      assert(graft.queries.Dashboard.sensorDirectory(station)
        .count() == 3L)
      val env = graft.sinks.FanOutSink.readTable(spark, c.outDir,
        FieldCatalog.Groups.Environmental)
      val panel = graft.queries.Dashboard.panel(env,
        FieldCatalog.Groups.Environmental, "1 hour", 147883,
        "2022-07-01 00:00:00", "2022-08-01 00:00:00").collect()
      assert(panel.length == 1 &&
        panel(0).getAs[Int]("temperature") == 77, panel.toSeq)

      // A2: the two July hours and the newest (September) hour all have
      // their row; the newest no longer waits in state for a watermark
      val (buckets, oneEach) = hourlyBuckets(c.hourlyAggregateDir.get)
      val landed = station.select(col("data_time_stamp").cast("long"))
        .collect().map(r => r.getLong(0) - r.getLong(0) % 3600).toSet
      val july = Set(1658588700L, 1658811226L).map(t => t - t % 3600)
      assert(buckets == landed && buckets.size == 3 &&
        july.subsetOf(buckets), s"hourly buckets: $buckets")
      assert(oneEach, "one reading per bucket")
    } finally query.stop()
  }

  test("backfill e2e: stubbed history endpoint → conformed fan-out layout") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val uris = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // two hourly-averaged history rows for sensor 53
    val payload = """{"api_version":"V1.0.11-0.0.42","sensor_index":53,""" +
      """"start_timestamp":1659710000,"end_timestamp":1659796400,""" +
      """"average":60,"fields":["time_stamp","humidity","pm2.5_atm"],""" +
      """"data":[["1659711600","45","9.5"],["1659715200","47","10.25"]]}"""
    def handler(status: Int, body: String): HttpHandler = new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    }
    server.createContext("/v1/keys", handler(201, """{"api_key_type":"READ"}"""))
    server.createContext("/v1/sensors/53/history", handler(200, payload))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val cfgDir = tmp("bf_cfg")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$cfgDir/req.json"),
        """{"sensor_index": 53, "fields": "humidity,pm2.5_atm"}""")
      val outDir = tmp("bf_out")
      val c = DataLoggerCli.parseArgs(Array(
        "-paa_single_sensor_request_json_file", s"$cfgDir/req.json",
        "-paa_api_key", "K", "-api_base", base,
        "-out_dir", outDir, "-sink", "parquet",
        "-backfill_start", "1659710000", "-backfill_end", "1659796400",
        "-backfill_average", "60"))
      val n = DataLoggerCli.runBackfill(spark, c)
      assert(n == 2L, s"expected 2 readings landed, got $n")
      // the wire hit the history arm with the full param set
      val historyUri = {
        var u = uris.poll(); while (u != null && !u.contains("history")) u = uris.poll(); u
      }
      assert(historyUri != null && historyUri.startsWith("/v1/sensors/53/history?"))
      assert(historyUri.contains("start_timestamp=1659710000") &&
        historyUri.contains("end_timestamp=1659796400") &&
        historyUri.contains("average=60"))
      // landed in the same conformed fan-out layout the stream maintains:
      // typed key, sensor id from the envelope, values cast per catalog
      val env = graft.sinks.FanOutSink.readTable(spark, outDir,
        FieldCatalog.Groups.Environmental)
      val rows = env
        .select(col("data_time_stamp").cast("long"), col("sensor_index"),
          col("humidity"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(rows == Set((1659711600L, 53, 45), (1659715200L, 53, 47)), rows)
      val pm = graft.sinks.FanOutSink.readTable(spark, outDir,
        FieldCatalog.Groups.Pm2_5)
      val pmRows = pm.select(col("data_time_stamp").cast("long"),
          col("pm2_5_atm"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(pmRows == Set((1659711600L, 9.5), (1659715200L, 10.25)), pmRows)

      // chunked backfill: the range splits into half-open windows, one
      // GET each, landed in one write (PK dedup collapses overlap)
      uris.clear()
      val out2 = tmp("bf_out2")
      val n2 = DataLoggerCli.runBackfill(spark, c.copy(outDir = out2,
        backfillChunkSeconds = 43200L))
      assert(n2 == 2L)
      val hits = Iterator.continually(uris.poll()).takeWhile(_ != null)
        .filter(_.contains("history")).toSeq
      assert(hits.length == 2, s"86400 s range / 43200 s chunks: $hits")
      assert(hits.head.contains("start_timestamp=1659710000") &&
        hits.head.contains("end_timestamp=1659753200"))
      assert(hits.last.contains("start_timestamp=1659753200") &&
        hits.last.contains("end_timestamp=1659796400"))

      // chunking over ISO bounds must refuse, not silently single-fetch
      val ex = intercept[RuntimeException] {
        DataLoggerCli.runBackfill(spark, c.copy(outDir = tmp("bf_iso"),
          backfillStart = Some("2022-08-05 00:00:00"),
          backfillChunkSeconds = 43200L))
      }
      assert(ex.getMessage.contains("numeric epoch"), ex.getMessage)

      // chunk edges must align to the averaging window: an unaligned
      // edge would land two partial averages under one time_stamp
      val ex2 = intercept[IllegalArgumentException] {
        DataLoggerCli.runBackfill(spark, c.copy(outDir = tmp("bf_mis"),
          backfillChunkSeconds = 50000L)) // average=60 min → 3600 s window
      }
      assert(ex2.getMessage.contains("multiple of the averaging window"),
        ex2.getMessage)

      // chunking with average OMITTED must refuse too: the server would
      // apply its own default window and edges could still cut buckets
      val ex3 = intercept[IllegalArgumentException] {
        DataLoggerCli.runBackfill(spark, c.copy(outDir = tmp("bf_noavg"),
          backfillAverage = None, backfillChunkSeconds = 43200L))
      }
      assert(ex3.getMessage.contains("explicit"), ex3.getMessage)
    } finally server.stop(0)
  }
}
