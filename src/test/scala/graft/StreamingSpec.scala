package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.model.ApiPayloadSchema
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink
import graft.sources.{HttpPollingFetcher, PollingSource}
import graft.streaming.ContinuousAggregate
import graft.transform.Transforms

class PollingSourceSpec extends SparkSpec {

  test("replay source streams payload files through flatten→conform") {
    Payloads.assumeReferenceSamples()
    val out = Files.createTempDirectory("graft_poll").toFile
    val wire = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass,
        classOf[graft.sources.FileReplayFetcher].getName)
      .option("replay.dir", Payloads.ReferenceSamples)
      .option(PollingSource.Options.AllowFastPolling, "true")
      .load()
    val q = wire.writeStream.format("memory").queryName("wire_out")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wire_out")
      assert(rows.count() == 3) // three sample files
      val conformed = Transforms.conform(PollingSource.parseSingle(
        rows, ApiPayloadSchema.singleSensor))
      assert(conformed.columns.length == 117)
      val idx = conformed.select("sensor_index").collect()
        .map(_.getInt(0)).sorted.toSeq
      assert(idx == Seq(53, 14867, 147883))
    } finally q.stop()
  }

  test("replay source refuses a missing or non-directory replay.dir by path") {
    val tmp = Files.createTempDirectory("graft_noreplay").toFile
    val notADir = new java.io.File(tmp, "payload.json")
    Files.writeString(notADir.toPath, "{}")
    Seq(new java.io.File(tmp, "absent"), notADir).foreach { dir =>
      val wire = spark.readStream.format(PollingSource.format)
        .option(PollingSource.Options.FetcherClass,
          classOf[graft.sources.FileReplayFetcher].getName)
        .option("replay.dir", dir.toString)
        .option(PollingSource.Options.AllowFastPolling, "true")
        .load()
      val q = wire.writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/cp_${dir.getName}")
        .start()
      val e = try intercept[StreamingQueryException](q.processAllAvailable())
        finally q.stop()
      assert(e.getCause.isInstanceOf[IllegalArgumentException], e)
      assert(e.getMessage.contains(
        s"replay.dir $dir is missing or not a directory"), e.getMessage)
    }
    // the batch path validates through the same fetcher
    val e = intercept[IllegalArgumentException] {
      new graft.sources.FileReplayFetcher()
        .validate(Map("replay.dir" -> s"$tmp/absent"))
    }
    assert(e.getMessage.contains(s"$tmp/absent"))
  }

  test("multi-sensor columnar payload streams through zip→conform") {
    val dir = Files.createTempDirectory("graft_multi").toFile
    val payload =
      """{"api_version": "V1.0", "time_stamp": 1659710288,
        | "data_time_stamp": 1659710232, "max_age": 604800,
        | "firmware_default_version": "7.00",
        | "fields": ["sensor_index", "name", "pm2.5", "humidity"],
        | "data": [[131075, "Mariners Bluff", 10.1, 31],
        |          [131079, "BRSKBV-outside", 2.0, 39]]}""".stripMargin
    Files.writeString(new java.io.File(dir, "multi.json").toPath, payload)
    val wire = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass,
        classOf[graft.sources.FileReplayFetcher].getName)
      .option("replay.dir", dir.toString)
      .option(PollingSource.Options.AllowFastPolling, "true")
      .load()
    val conformed = Transforms.conform(PollingSource.parseMulti(
      wire, Seq("sensor_index", "name", "pm2.5", "humidity")))
    val q = conformed.writeStream.format("memory").queryName("multi_out")
      .option("checkpointLocation", s"$dir/cp").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("multi_out")
        .select("sensor_index", "name", "pm2_5", "humidity", "voc")
        .orderBy("sensor_index").collect()
      assert(rows.length == 2)
      assert(rows(0).getInt(0) == 131075)
      assert(rows(0).getString(1) == "Mariners Bluff")
      assert(rows(0).getDouble(2) == 10.1) // stringly wire value cast back
      assert(rows(0).getInt(3) == 31)
      assert(rows(0).isNullAt(4)) // unrequested field → null
    } finally q.stop()
  }

  test("rate limit: interval below 60s rejected unless fast-polling") {
    val ex = intercept[Exception] {
      spark.readStream.format(PollingSource.format)
        .option(PollingSource.Options.FetcherClass,
          classOf[graft.sources.FileReplayFetcher].getName)
        .option("replay.dir", Payloads.fixtureDir)
        .option(PollingSource.Options.MinPollIntervalSeconds, "30")
        .load()
        .writeStream.format("memory").queryName("too_fast")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_fast").toString)
        .start()
        .processAllAvailable()
    }
    assert(ex.getMessage.contains("60") ||
      ex.getCause != null && ex.getCause.getMessage.contains("60"))
  }

  test("url building mirrors reference query-string semantics") {
    assert(HttpPollingFetcher.buildUrl("https://x/v1/sensors/1", Seq()) ==
      "https://x/v1/sensors/1")
    assert(HttpPollingFetcher.buildUrl("https://x/v1/sensors/1",
      Seq("fields" -> "pm2.5", "read_key" -> null)) ==
      "https://x/v1/sensors/1?fields=pm2.5")
  }

  test("multi-sensor url marshals ALL nine optional params server-side") {
    // reference request_multiple_sensors_data (PurpleAirAPI.py:177-243):
    // location_type, read_keys, show_only, modified_since, max_age and the
    // 4 bbox corners must reach the server, not be filtered post-fetch
    val f = new HttpPollingFetcher
    val url = f.urlFor(1659710000L, Map(
      "api.base" -> "https://x/v1", "fields" -> "pm2.5,humidity",
      "location.type" -> "0", "read.keys" -> "k1,k2",
      "show.only" -> "53,54,55", "max.age" -> "3600",
      "bbox.nwlng" -> "-124.5", "bbox.nwlat" -> "42.0",
      "bbox.selng" -> "-114.1", "bbox.selat" -> "32.5"))
    assert(url == "https://x/v1/sensors/?fields=pm2.5,humidity" +
      "&location_type=0&read_keys=k1,k2&show_only=53,54,55" +
      "&modified_since=1659710000&max_age=3600" +
      "&nwlng=-124.5&nwlat=42.0&selng=-114.1&selat=32.5")
    // each param is independently optional (reference passes None → omitted)
    val sparse = f.urlFor(0L, Map("api.base" -> "https://x/v1",
      "fields" -> "pm2.5", "max.age" -> "0"))
    assert(sparse == "https://x/v1/sensors/?fields=pm2.5&max_age=0")
  }

  test("historic url arm: start/end/average like request_sensor_historic_data") {
    val f = new HttpPollingFetcher
    // full form — note NO modified_since: the reference's
    // `modified_since := end_timestamp` (PurpleAirAPI.py:302) is a
    // copy-paste slip the history endpoint doesn't accept; we marshal
    // only the documented params
    val url = f.urlFor(0L, Map(
      "api.base" -> "https://x/v1", "sensor.index" -> "53",
      "fields" -> "pm2.5_atm", "read.key" -> "RK",
      "history.start" -> "1659710000", "history.end" -> "1659796400",
      "history.average" -> "60"))
    assert(url == "https://x/v1/sensors/53/history?fields=pm2.5_atm" +
      "&read_key=RK&start_timestamp=1659710000&end_timestamp=1659796400" +
      "&average=60")
    assert(!url.contains("modified_since"))
    // any single history.* option selects the history arm; others omitted
    assert(f.urlFor(0L, Map("api.base" -> "https://x/v1",
      "sensor.index" -> "53", "fields" -> "pm2.5_atm",
      "history.average" -> "0")) ==
      "https://x/v1/sensors/53/history?fields=pm2.5_atm&average=0")
    // without history.* options the single-sensor current-state arm wins
    assert(f.urlFor(0L, Map("api.base" -> "https://x/v1",
      "sensor.index" -> "53", "fields" -> "pm2.5_atm")) ==
      "https://x/v1/sensors/53?fields=pm2.5_atm")
  }

  test("multi-sensor fetch passes modified_since=from (F3 cursor contract)") {
    val f = new HttpPollingFetcher
    val url = f.urlFor(1659710000L,
      Map("api.base" -> "https://x/v1", "fields" -> "pm2.5"))
    assert(url.contains("modified_since=1659710000"))
    assert(url.startsWith("https://x/v1/sensors/?"))
    // initial batch (from=0): no modified_since — full snapshot
    assert(!f.urlFor(0L, Map("api.base" -> "https://x/v1", "fields" -> "f"))
      .contains("modified_since"))
    // single-sensor endpoint has no modified_since parameter
    assert(!f.urlFor(1659710000L,
      Map("api.base" -> "https://x/v1", "sensor.index" -> "53"))
      .contains("modified_since"))
  }

  test("live HTTP path against a localhost stub: headers, body, error map") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def handler(status: Int, body: String): HttpHandler = new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seen.add((ex.getRequestURI.toString,
          ex.getRequestHeaders.getFirst("X-API-Key")))
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    }
    server.createContext("/v1/keys", handler(201, """{"api_key_type":"READ"}"""))
    server.createContext("/v1/sensors/",
      handler(200, """{"fields":["pm2.5"],"data":[[1,9.5]]}"""))
    server.createContext("/v1/forbidden/keys", handler(403, """{"error":"x"}"""))
    server.createContext("/v1/gone/sensors/", handler(404, ""))
    server.createContext("/v1/bad/sensors/", handler(400, ""))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val f = new HttpPollingFetcher
      // S4 key-check handshake: validate() GETs /keys with the API key
      f.validate(Map("api.key" -> "SECRET-KEY", "api.base" -> base))
      val (keysUri, keysHeader) = seen.poll()
      assert(keysUri == "/v1/keys")
      assert(keysHeader == "SECRET-KEY", "X-API-Key header must be sent")
      // fetch honors the modified_since cursor contract on the wire
      val out = f.fetch(1659710000L, 1659710065L,
        Map("api.key" -> "SECRET-KEY", "api.base" -> base,
          "fields" -> "pm2.5"))
      assert(out == Seq((1659710065L,
        """{"fields":["pm2.5"],"data":[[1,9.5]]}""")))
      val (sensorsUri, _) = seen.poll()
      assert(sensorsUri.startsWith("/v1/sensors/?"))
      assert(sensorsUri.contains("modified_since=1659710000"))
      assert(sensorsUri.contains("fields=pm2.5"))
      // reference error mapping: 400/403/404 raise as client errors,
      // naming the status and the URL asked for
      Seq(
        (s"$base".replace("/v1", "/v1/forbidden"), "403",
          (o: Map[String, String]) => f.validate(o + ("api.base" ->
            s"${base.replace("/v1", "/v1/forbidden")}"))),
        (s"$base".replace("/v1", "/v1/gone"), "404",
          (o: Map[String, String]) => f.fetch(0L, 1L, o + ("api.base" ->
            s"${base.replace("/v1", "/v1/gone")}"))),
        (s"$base".replace("/v1", "/v1/bad"), "400",
          (o: Map[String, String]) => f.fetch(0L, 1L, o + ("api.base" ->
            s"${base.replace("/v1", "/v1/bad")}")))
      ).foreach { case (urlBase, code, call) =>
        val ex = intercept[RuntimeException] {
          call(Map("api.key" -> "SECRET-KEY"))
        }
        assert(ex.getMessage.contains(s"client error HTTP $code"),
          s"expected $code: ${ex.getMessage}")
        assert(ex.getMessage.contains(urlBase), ex.getMessage)
      }
    } finally server.stop(0)
  }

  test("historic backfill e2e: stubbed history endpoint → parsed rows") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val uris = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // columnar history payload, same fields ∥ data shape as the
    // multi-sensor response (time_stamp is a history field)
    val payload = """{"api_version":"V1.0.11-0.0.42","sensor_index":53,""" +
      """"fields":["time_stamp","pm2.5_atm"],""" +
      """"data":[["1659710000","9.5"],["1659713600","10.1"]]}"""
    server.createContext("/v1/sensors/53/history", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val b = payload.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val f = new HttpPollingFetcher
      val opts = Map("api.key" -> "K", "api.base" -> base,
        "sensor.index" -> "53", "fields" -> "pm2.5_atm",
        "history.start" -> "1659710000", "history.end" -> "1659796400",
        "history.average" -> "60")
      val wire = f.fetch(0L, 1L, opts)
      assert(uris.poll().startsWith("/v1/sensors/53/history?"))
      // parse through the same columnar zip the multi-sensor path uses
      import spark.implicits._
      val df = wire.toDF("poll_cursor", "payload_json")
        .select(from_json(col("payload_json"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sensor_index",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("fields",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
          org.apache.spark.sql.types.StructField("data",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
        ))).as("r"))
        .select(col("r.sensor_index").as("data_time_stamp"), // key slot reuse
          col("r.fields"), col("r.data"))
      val rows = graft.transform.Transforms
        .zipMulti(df, Seq("time_stamp", "pm2.5_atm"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq(("1659710000", "9.5"), ("1659713600", "10.1")))
    } finally server.stop(0)
  }

  test("restart seeds the poll cursor from the checkpointed offset") {
    val props = new java.util.HashMap[String, String]()
    props.put(PollingSource.Options.FetcherClass,
      classOf[IncrementingFetcher].getName)
    props.put(PollingSource.Options.AllowFastPolling, "true")
    props.put(PollingSource.Options.StartCursor, "0")
    val stream = new graft.sources.PollingMicroBatchStream(props)
    // Simulate Spark restoring the committed offset from the offset log.
    stream.deserializeOffset("""{"cursor":5}""")
    val latest = stream.latestOffset()
    // IncrementingFetcher advances by one from `current`: restored 5 → 6.
    // Before the fix `current` came from startCursor=0 → latest would be 1.
    assert(latest.asInstanceOf[graft.sources.PollOffset].cursor == 6L)
  }
}

/** Test transport whose next cursor depends on the current one — lets the
  * suite observe which `current` the stream derives after a restart. */
class IncrementingFetcher extends graft.sources.SensorFetcher {
  override def latestCursor(current: Long, options: Map[String, String]): Long =
    current + 1
  override def fetch(from: Long, to: Long,
      options: Map[String, String]): Seq[(Long, String)] =
    (from + 1 to to).map(c => (c, s"""{"cursor":$c}"""))
}

class ContinuousAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("hourly streaming aggregate: watermark drops too-late rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int, Double)]
    val df = input.toDF().toDF("epoch", "sensor_index", "value")
      .withColumn("data_time_stamp", timestamp_seconds(col("epoch")))
    val agg = ContinuousAggregate.hourly(
      df, "data_time_stamp", Seq("sensor_index"), "value",
      watermarkDelay = "1 hour")
    val cp = Files.createTempDirectory("graft_ca").toString
    val q = agg.writeStream.format("memory").queryName("ca_out")
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      val h0 = 1700000000L - (1700000000L % 3600) // aligned hour
      input.addData((h0 + 60, 1, 10.0), (h0 + 120, 1, 20.0))
      q.processAllAvailable()
      // advance watermark far past h0: h0+4h
      input.addData((h0 + 14400, 1, 1.0))
      q.processAllAvailable()
      // this row is older than watermark → dropped, h0 bucket stays final
      input.addData((h0 + 180, 1, 999.0))
      q.processAllAvailable()
      input.addData((h0 + 18000, 1, 1.0))
      q.processAllAvailable()
      val done = spark.table("ca_out")
        .filter(col("bucket_ts") === timestamp_seconds(lit(h0))).collect()
      assert(done.length == 1)
      assert(done(0).getAs[Long]("n") == 2L)
      assert(done(0).getAs[Double]("sum_value") == 30.0)
      assert(done(0).getAs[Double]("max_value") == 20.0)
    } finally q.stop()
  }

  test("streaming curation: quality gate + cross-batch content dedup") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val df = input.toDF().toDF("doc_id", "epoch", "text")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val curated = graft.operators.Curation.streamingCurate(
      df, "doc_id", "text", "ts",
      stopwords = Seq("the", "a", "of"), minQuality = 0.2)
    val cp = Files.createTempDirectory("graft_sc").toString
    val q = curated.writeStream.format("memory").queryName("sc_out")
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      val good = "the quick brown fox jumps over a lazy dog of note"
      input.addData((1L, 1000L, good), (2L, 1001L, "$$$ 111 !!!"))
      q.processAllAvailable()
      // same content re-arrives in a LATER micro-batch within the
      // watermark horizon → cross-batch duplicate, dropped
      input.addData((3L, 1002L, good),
        (4L, 1003L, "the small grey cat sits on a mat of wool"))
      q.processAllAvailable()
      val out = spark.table("sc_out").select("doc_id").as[Long]
        .collect().sorted.toSeq
      assert(out == Seq(1L, 4L),
        s"expected quality-gated, cross-batch-deduped {1, 4}, got $out")
    } finally q.stop()
  }

  test("streaming calibration: prefix-deterministic gate, replay idempotent") {
    import graft.streaming.StreamingCalibration
    val dir = Files.createTempDirectory("graft_cal").toString
    // frozen scale [0, 10) in 5 buckets; keep the top 25 %
    def gate(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingCalibration.calibrateBatch(df, id, dir, "score",
        lo = 0.0, hi = 10.0, buckets = 5, keepFraction = 0.25)
    def kept(id: Long): Set[Long] =
      spark.read.parquet(s"$dir/out/batch=$id")
        .select("doc_id").as[Long].collect().toSet
    val b0 = (0 to 7).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "score")
    gate(b0, 0L)
    // buckets 0..3 hold 2 docs each (total 8); threshold = 8 - floor(2)
    // = 6 → only bucket 3 (cum_lt 6) clears: docs 6, 7
    assert(kept(0L) == Set(6L, 7L))
    // batch 1 shifts the distribution up: three 8.5-9.5 scores (bucket
    // 4) + one 1.0; running total 12, threshold 9 → bucket 4 only
    val b1 = Seq((100L, 9.0), (101L, 9.5), (102L, 1.0), (103L, 8.5))
      .toDF("doc_id", "score")
    gate(b1, 1L)
    assert(kept(1L) == Set(100L, 101L, 103L),
      "batch 1 must gate against the running ECDF")
    // audit columns record the evidence the decision used
    val audit = spark.read.parquet(s"$dir/out/batch=1")
      .select("cum_lt", "n_total").distinct().collect()
    assert(audit.length == 1 && audit(0).getLong(0) == 9L &&
      audit(0).getLong(1) == 12L)
    // REPLAY batch 0 after batch 1 committed: the gate reads only the
    // prefix (batch <= 0), so the rewrite is bit-identical — batch 1's
    // counts must NOT leak backwards
    gate(b0, 0L)
    assert(kept(0L) == Set(6L, 7L),
      "replay must reproduce the original decision from its prefix")
  }

  test("retentionTrim keeps only the retention horizon") {
    val agg = Seq(
      (1700000000L, 5L), (1700000000L - 10 * 3600L, 3L))
      .toDF("epoch", "n")
      .withColumn("bucket_ts", timestamp_seconds(col("epoch")))
    val trimmed = ContinuousAggregate.retentionTrim(agg,
      new java.sql.Timestamp(1700000000L * 1000L), retainHours = 8)
    assert(trimmed.count() == 1)
  }

  test("retentionDrop deletes only fully-expired date partitions") {
    val base = Files.createTempDirectory("graft_ret").toString
    // asOf = 2023-11-15 00:00 UTC, retain 8h → cutoff 2023-11-14 16:00,
    // cutoff date 2023-11-14: only days strictly before it drop
    Seq(("2023-11-12", 1L), ("2023-11-13", 2L), ("2023-11-14", 3L),
        ("2023-11-15", 4L))
      .toDF("date", "n")
      .write.mode("overwrite").partitionBy("date").parquet(base)
    val asOf = java.sql.Timestamp.valueOf("2023-11-15 00:00:00")
    val dropped = ContinuousAggregate.retentionDrop(spark, base, asOf,
      retainHours = 8)
    assert(dropped == 2)
    val left = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.startsWith("date=")).sorted.toSeq
    assert(left == Seq("date=2023-11-14", "date=2023-11-15"))
  }
}

class FanOutSinkSpec extends SparkSpec {

  test("batch fan-out: 9 tables, date-partitioned, PK-deduped") {
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    val doubled = conformed.union(conformed) // duplicate PK rows
    val base = Files.createTempDirectory("graft_sink").toString
    FanOutSink.writeBatch(doubled, base)
    FieldCatalog.Groups.all.foreach { table =>
      val back = FanOutSink.readTable(spark, base, table)
      assert(back.count() == 1, s"$table should be PK-deduped")
      assert(back.columns.contains("date"), s"$table should be date-partitioned")
      assert(back.columns.take(2).toSeq ==
        Seq("data_time_stamp", "sensor_index"))
    }
    // partition directory layout: table/date=YYYY-MM-DD/
    val envDir = new java.io.File(s"$base/environmental_fields")
    assert(envDir.listFiles().exists(_.getName.startsWith("date=")))
  }

  test("replaying a micro-batch with the same batchId is idempotent") {
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    val base = Files.createTempDirectory("graft_sink_r").toString
    FanOutSink.writeBatch(conformed, base, batchId = Some(7L))
    // foreachBatch is at-least-once: the same batch may run again after a
    // failure — the batch=7 directory must be rewritten, not re-appended
    FanOutSink.writeBatch(conformed, base, batchId = Some(7L))
    FieldCatalog.Groups.all.foreach { table =>
      val back = FanOutSink.readTable(spark, base, table)
      assert(back.count() == 1, s"$table must not duplicate on replay")
      assert(!back.columns.contains("batch"))
    }
  }

  /** Three conformed readings over two UTC days, one duplicate key. */
  private def synthetic(sensorOffset: Int = 0) = {
    import spark.implicits._
    Transforms.conform(Seq(
      (1700000000L, 7 + sensorOffset, "a"), (1700000000L, 7 + sensorOffset, "b"),
      (1700003600L, 8 + sensorOffset, "c"), (1700090000L, 9 + sensorOffset, "d"))
      .toDF("data_time_stamp", "sensor_index", "name"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    .map(_.toSeq).sortBy(_.mkString("|"))

  /** Files under `dir` that are not hidden (`.crc`, `_SUCCESS`, staging). */
  private def visibleFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) visibleFiles(f) else Seq(f))

  /** Runs `body`, then counts the jobs started under `group` and the SQL
    * executions it started, once the listener bus has delivered every
    * earlier event. */
  private def jobsAndExecutions(group: String)(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val drainJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val token = s"drain-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`token`) => drainJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (drainJobs.contains(e.jobId)) drained.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.contains(group) => execs.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fan-out spec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(token, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (jobs.get, execs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("one-job writer: parquet and csv layouts match DataFrameWriter's") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(f: java.io.File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getFooter finally r.close()
    }
    val conformed = synthetic()
    // The former per-table writes, over one materialized deduped batch.
    val deduped = Transforms
      .dedupByKey(conformed.repartition(col(FieldCatalog.keySensor)),
        Transforms.stableDedupOrder(conformed))
      .withColumn("date", to_date(col(FieldCatalog.keyTimestamp)))
      .sortWithinPartitions(col(FieldCatalog.keyTimestamp))
      .persist()
    try Seq("parquet", "csv").foreach { format =>
      val base = Files.createTempDirectory(s"graft_sink_$format").toString
      val ref = Files.createTempDirectory(s"graft_ref_$format").toString
      FanOutSink.writeBatch(conformed, base, format = format,
        batchId = Some(3L))
      FieldCatalog.Groups.all.foreach { table =>
        val cols = FieldCatalog.keyCols ++ FieldCatalog.groupCols(table)
        val w = deduped.select((cols :+ "date").map(col): _*).write
          .partitionBy("date")
          .option("compression", if (format == "parquet") "zstd" else "none")
        if (format == "parquet") w.parquet(s"$ref/$table")
        else w.option("header", "true").csv(s"$ref/$table")
        val mine = new java.io.File(s"$base/$table/batch=3")
        val theirs = new java.io.File(s"$ref/$table")
        def dates(d: java.io.File) = d.listFiles().map(_.getName)
          .filter(_.startsWith("date=")).sorted.toSeq
        assert(dates(mine) == dates(theirs) && dates(mine).size == 2, table)
        dates(mine).foreach { d =>
          val a = visibleFiles(new java.io.File(mine, d))
          val b = visibleFiles(new java.io.File(theirs, d))
          assert(a.size == b.size, s"$table/$d file count")
          assert(a.forall(_.getName.startsWith("part-")), s"$table/$d names")
          assert(a.map(_.getName.dropWhile(_ != '.')).toSet ==
            b.map(_.getName.dropWhile(_ != '.')).toSet, s"$table/$d codec")
          if (format == "parquet") {
            val (fa, fb) = (footer(a.head), footer(b.head))
            assert(fa.getFileMetaData.getSchema == fb.getFileMetaData.getSchema)
            assert(fa.getFileMetaData.getKeyValueMetaData ==
              fb.getFileMetaData.getKeyValueMetaData, s"$table/$d metadata")
            assert(fa.getBlocks.get(0).getColumns.get(0).getCodec.name ==
              "ZSTD")
            assert(rows(spark.read.parquet(mine.getPath + "/" + d)) ==
              rows(spark.read.parquet(theirs.getPath + "/" + d)), s"$table/$d")
          } else {
            def header(f: java.io.File) = {
              val src = scala.io.Source.fromFile(f)
              try src.getLines().next() finally src.close()
            }
            assert(a.map(header).toSet == Set(cols.mkString(",")), table)
            assert(b.map(header).toSet == Set(cols.mkString(",")), table)
            def text(fs: Seq[java.io.File]) = fs.flatMap { f =>
              val src = scala.io.Source.fromFile(f)
              try src.getLines().drop(1).toList finally src.close()
            }.sorted
            assert(text(a) == text(b), s"$table/$d")
          }
        }
      }
      // staging is gone once the batch commits
      assert(!new java.io.File(s"$base/.fanout-staging/batch=3").exists())
    } finally deduped.unpersist()
  }

  test("replaying a batchId is idempotent (synthetic rows)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sink_rp").toString
    FanOutSink.writeBatch(synthetic(), base, batchId = Some(5L))
    val first = FieldCatalog.Groups.all.map(t =>
      rows(FanOutSink.readTable(spark, base, t)))
    FanOutSink.writeBatch(synthetic(), base, batchId = Some(5L))
    FieldCatalog.Groups.all.zip(first).foreach { case (t, before) =>
      val back = FanOutSink.readTable(spark, base, t)
      assert(rows(back) == before, s"$t changed on replay")
      assert(back.select("sensor_index").as[Int].collect().sorted.toSeq ==
        Seq(7, 8, 9), t)
    }
    // an empty micro-batch lands an empty run
    FanOutSink.writeBatch(synthetic().limit(0), base, batchId = Some(6L))
    FieldCatalog.Groups.all.foreach { t =>
      assert(new java.io.File(s"$base/$t/batch=6").isDirectory, t)
      assert(rows(FanOutSink.readTable(spark, base, t)) == rows(
        FanOutSink.readTable(spark, base, t).where("sensor_index < 10")), t)
    }
  }

  test("a failed table commit fails the batch; a replay converges") {
    import spark.implicits._
    // The job writes all nine tables; a table that cannot be put in
    // place — here a plain file sits where its directory goes — fails
    // the micro-batch with that table named, and leaves no staged files.
    val conformed = synthetic()
    Seq(FieldCatalog.Groups.all.head, FieldCatalog.Groups.all.last)
      .foreach { blocked =>
        val base = Files.createTempDirectory("graft_sink_f").toString
        val blocker = new java.io.File(s"$base/$blocked")
        assert(blocker.createNewFile())
        val err = intercept[Exception] {
          FanOutSink.writeBatch(conformed, base, batchId = Some(8L))
        }
        val chain = Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).map(String.valueOf).mkString(" <- ")
        assert(chain.contains(s"fan-out table $blocked"),
          s"not $blocked's error: $chain")
        assert(visibleFiles(new java.io.File(base)).forall(
          f => !f.getPath.contains("staging")))
        assert(!new java.io.File(s"$base/.fanout-staging/batch=8").exists(),
          "the failed batch left its staging directory")
        // the cause removed, replaying batch 8 converges to the nine tables
        assert(blocker.delete())
        FanOutSink.writeBatch(conformed, base, batchId = Some(8L))
        FieldCatalog.Groups.all.foreach { table =>
          val back = FanOutSink.readTable(spark, base, table)
          assert(back.select("sensor_index").as[Int].collect().sorted.toSeq ==
            Seq(7, 8, 9), s"$table did not converge on replay")
        }
      }
  }

  test("fan-out dedup and layout share one exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper {
      def shuffles(p: SparkPlan): Int =
        collect(p) { case _: ShuffleExchangeExec => 1 }.sum
    }
    val base = Files.createTempDirectory("graft_sink_x").toString
    val conformed = synthetic()
    var counts = Seq.empty[Int]
    val (jobs, executions) = jobsAndExecutions("fan-out-one-job") {
      counts = finishedExecutions {
        case (_, qe) if qe.toString.contains(base) =>
          Plans.shuffles(qe.executedPlan)
      }(_.nonEmpty) {
        FanOutSink.writeBatch(conformed, base, batchId = Some(0L))
      }
    }
    assert(executions == 1, s"$executions SQL executions for one batch")
    assert(counts == Seq(1), s"shuffles in the batch's execution: $counts")
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs for one batch")
  }

  test("save modes apply per table as DataFrameWriter's do") {
    val base = Files.createTempDirectory("graft_sink_m").toString
    def counts() = FieldCatalog.Groups.all.map(t =>
      FanOutSink.readTable(spark, base, t).count())
    val nine = FieldCatalog.Groups.all.size
    FanOutSink.writeBatch(synthetic(), base)
    assert(counts() == Seq.fill(nine)(3L))
    FanOutSink.writeBatch(synthetic(), base, mode = SaveMode.Append)
    assert(counts() == Seq.fill(nine)(6L))
    FanOutSink.writeBatch(synthetic(), base, mode = SaveMode.Overwrite)
    assert(counts() == Seq.fill(nine)(3L))
    val err = intercept[Exception] {
      FanOutSink.writeBatch(synthetic(), base, mode = SaveMode.ErrorIfExists)
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    assert(counts() == Seq.fill(nine)(3L))
    // Ignore skips the tables that exist and writes the one that does not
    val gone = FieldCatalog.Groups.Station
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/$gone"))
    FanOutSink.writeBatch(synthetic(1), base, mode = SaveMode.Ignore)
    FieldCatalog.Groups.all.foreach { t =>
      val sensors = FanOutSink.readTable(spark, base, t)
        .select("sensor_index").collect().map(_.getInt(0)).sorted.toSeq
      assert(sensors == (if (t == gone) Seq(8, 9, 10) else Seq(7, 8, 9)), t)
    }
  }

  test("readTable runs no job and reads what footer inference reads") {
    val base = Files.createTempDirectory("graft_sink_rt").toString
    val flat = Files.createTempDirectory("graft_sink_rt_flat").toString
    val table = FieldCatalog.Groups.Environmental
    def same(dir: String, layout: String): Unit = {
      var read: org.apache.spark.sql.DataFrame = null
      val (jobs, _) = jobsAndExecutions("fan-out-read") {
        read = FanOutSink.readTable(spark, dir, table)
      }
      assert(jobs == 0, s"$layout: readTable ran $jobs jobs")
      val inferred = spark.read.parquet(s"$dir/$table").drop("batch")
      assert(read.schema == inferred.schema, s"$layout schema")
      assert(rows(read) == rows(inferred) && rows(read).nonEmpty, layout)
    }
    FanOutSink.writeBatch(synthetic(), base, batchId = Some(1L))
    FanOutSink.writeBatch(synthetic(10), base, batchId = Some(2L))
    same(base, "uncompacted")
    assert(FanOutSink.compact(spark, base, table) == 2)
    same(base, "compacted")
    FanOutSink.writeBatch(synthetic(20), base, batchId = Some(4L))
    same(base, "mixed")
    FanOutSink.writeBatch(synthetic(), flat)
    same(flat, "without batchId")
  }

  test("compact keeps its sources when the rename into place fails") {
    val base = Files.createTempDirectory("graft_sink_cf").toString
    val table = FieldCatalog.Groups.Station
    FanOutSink.writeBatch(synthetic(), base, batchId = Some(1L))
    FanOutSink.writeBatch(synthetic(10), base, batchId = Some(2L))
    val before = rows(FanOutSink.readTable(spark, base, table))
    // a filesystem whose rename into the new run answers false
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[RunRenameRefusingFs].getName)
    try {
      val refused = intercept[java.io.IOException] {
        FanOutSink.compact(spark, s"norename://$base", table)
      }
      assert(refused.getMessage.contains(table) &&
        refused.getMessage.contains("batch=c1x3"), refused.getMessage)
    } finally conf.unset("fs.norename.impl")
    assert(new java.io.File(s"$base/$table/.compacting").isDirectory)
    assert(rows(FanOutSink.readTable(spark, base, table)) == before)
    // the run the merge of batches 1 and 2 would become, taken by a file
    val blocker = new java.io.File(s"$base/$table/batch=c1x3")
    assert(blocker.createNewFile())
    val err = intercept[java.io.IOException] {
      FanOutSink.compact(spark, base, table)
    }
    assert(err.getMessage.contains(table) &&
      err.getMessage.contains("batch=c1x3"), err.getMessage)
    assert(new java.io.File(s"$base/$table/batch=1").isDirectory)
    assert(new java.io.File(s"$base/$table/batch=2").isDirectory)
    assert(blocker.delete())
    assert(rows(FanOutSink.readTable(spark, base, table)) == before)
    // the next run cleans the kept staging dir and folds as usual
    assert(FanOutSink.compact(spark, base, table) == 2)
    assert(rows(FanOutSink.readTable(spark, base, table)) == before)
  }

  test("PK dedup survivor is stable across partition layouts") {
    import spark.implicits._
    val rows = Seq(
      (1700000000L, 1, "first"), (1700000000L, 1, "second"),
      (1700000000L, 1, "third"), (1700000065L, 1, "only"))
    def survivors(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Transforms.dedupByKey(df, Transforms.stableDedupOrder(df))
        .orderBy("data_time_stamp").select("name").as[String].collect().toSeq
    val base = rows.toDF("epoch", "sensor_index", "name")
      .withColumn("data_time_stamp", timestamp_seconds(col("epoch")))
      .drop("epoch")
    val a = survivors(base.repartition(7))
    val b = survivors(base.orderBy(col("name").desc).repartition(1))
    val c = survivors(base.sample(1.0, seed = 42).repartition(13))
    assert(a == b && b == c, s"survivor differs across layouts: $a / $b / $c")
  }

  test("streaming fan-out via foreachBatch from a replay stream") {
    val base = Files.createTempDirectory("graft_sink_s").toString
    val wire = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass,
        classOf[graft.sources.FileReplayFetcher].getName)
      .option("replay.dir", Payloads.fixtureDir)
      .option(PollingSource.Options.AllowFastPolling, "true")
      .load()
    val conformed = Transforms.conform(
      PollingSource.parseSingle(wire, ApiPayloadSchema.singleSensor))
    val q = FanOutSink.stream(conformed, s"$base/data", s"$base/cp",
      trigger = Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      val station = FanOutSink.readTable(spark, s"$base/data",
        FieldCatalog.Groups.Station)
      assert(station.count() == 3)
      assert(station.select("sensor_index").distinct().count() == 3)
    } finally q.stop()
  }

  test("compact folds batch directories into one, preserving data + layout") {
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    val base = Files.createTempDirectory("graft_sink_c").toString
    FanOutSink.writeBatch(conformed, base, batchId = Some(1L))
    FanOutSink.writeBatch(
      conformed.withColumn("sensor_index", col("sensor_index") + 1),
      base, batchId = Some(2L))
    val before = FanOutSink.readTable(spark, base,
      FieldCatalog.Groups.Station).drop("date").collect().toSet
    val folded = FanOutSink.compact(spark, base, FieldCatalog.Groups.Station)
    assert(folded == 2)
    val stationDir = new java.io.File(s"$base/${FieldCatalog.Groups.Station}")
    val batchDirs = stationDir.listFiles().filter(_.getName.startsWith("batch="))
    assert(batchDirs.map(_.getName).toSeq == Seq("batch=c1x3"))
    assert(batchDirs.head.listFiles().exists(_.getName.startsWith("date=")))
    val after = FanOutSink.readTable(spark, base,
      FieldCatalog.Groups.Station).drop("date").collect().toSet
    assert(after == before, "compaction must preserve the data exactly")
    // second run is a no-op (single batch dir left)
    assert(FanOutSink.compact(spark, base, FieldCatalog.Groups.Station) == 0)
  }

  test("leveled compaction: per-row rewrite count is O(levels), not O(batches)") {
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    val base = Files.createTempDirectory("graft_sink_lvl").toString
    val table = FieldCatalog.Groups.Station
    val B = 12
    def dirNames() = new java.io.File(s"$base/$table").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    // Lineage: run dir -> original batch ids inside it. Every compact
    // cycle folds some dirs into exactly one surviving new dir; a batch's
    // REWRITE COUNT is the number of cycles in which its dir was folded.
    var lineage = Map.empty[String, Set[Long]]
    val rewrites = scala.collection.mutable.Map.empty[Long, Int]
      .withDefaultValue(0)
    for (t <- 1L to B) {
      FanOutSink.writeBatch(
        conformed.withColumn("sensor_index", col("sensor_index") + t.toInt),
        base, batchId = Some(t))
      lineage += (s"batch=$t" -> Set(t))
      val before = dirNames()
      FanOutSink.compact(spark, base, table, fanout = 2)
      val after = dirNames()
      val goneIds = (before -- after).flatMap(lineage)
      goneIds.foreach(id => rewrites(id) += 1)
      val born = after -- before
      assert(born.size <= 1, s"one surviving new run per cycle, got $born")
      born.foreach(d => lineage += (d -> goneIds))
      lineage --= (before -- after)
    }
    // The quadratic schedule refolds everything every cycle: batch 1
    // would be rewritten ~B-1 = 11 times. Leveled (fanout=2) keeps every
    // batch within ceil(log2(B)) + 2 = 6.
    val worst = rewrites.values.max
    assert(worst <= 6, s"worst rewrite count $worst exceeds leveled bound")
    // Structural check: a row's rewrite count equals its run's level, so
    // max level must be logarithmic too, and the dir count stays small.
    val names = dirNames()
    val maxLevel = names.map(_.stripPrefix("batch=")).collect {
      case n if n.startsWith("c") => n.stripPrefix("c").takeWhile(_.isDigit).toInt
    }.foldLeft(0)(math.max)
    assert(maxLevel <= 5, s"max level $maxLevel exceeds log bound")
    assert(names.size <= 6, s"${names.size} run dirs survive; expected <= 6")
    // Data preserved exactly: one station row per batch, distinct sensors.
    val rows = FanOutSink.readTable(spark, base, table)
    assert(rows.count() == B)
    assert(rows.select("sensor_index").distinct().count() == B)
  }

  test("JDBC fan-out e2e (embedded Derby): 9 tables, layout, replay guard") {
    // Derby is the embedded JDBC database on the Spark classpath — the
    // same sink path a TimescaleDB/PSQL or SQLite user runs (K1/K2),
    // exercised end-to-end without network access.
    val dbRoot = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dbRoot/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val cp = Files.createTempDirectory("graft_derby_cp").toString
    val wire = spark.readStream.format(PollingSource.format)
      .option(PollingSource.Options.FetcherClass,
        classOf[graft.sources.FileReplayFetcher].getName)
      .option("replay.dir", Payloads.fixtureDir)
      .option(PollingSource.Options.AllowFastPolling, "true")
      .load()
    val conformed = Transforms.conform(
      PollingSource.parseSingle(wire, ApiPayloadSchema.singleSensor))
    val q = FanOutSink.stream(conformed, s"$dbRoot/unused", cp, format = url,
      trigger = Trigger.ProcessingTime("1 second"), jdbcProperties = props)
    try q.processAllAvailable() finally q.stop()
    // all 9 vertical partitions landed, with the reference column layout
    FieldCatalog.Groups.all.foreach { table =>
      val back = spark.read.jdbc(url, table, props)
      assert(back.count() == 3, s"$table should hold the 3 replayed payloads")
      assert(back.columns.toSeq ==
        FieldCatalog.keyCols ++ FieldCatalog.groupCols(table),
        s"$table column layout")
    }
    // Replay of a committed micro-batch: every table marker for batch 0
    // exists, so re-running the batch appends nothing.
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val replayBatch = Transforms.conform(Transforms.flattenSingle(payload))
    val markerDir = new org.apache.hadoop.fs.Path(
      s"$cp/_graft_jdbc_committed/0")
    val fs = markerDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FieldCatalog.Groups.all.forall(t =>
      fs.exists(new org.apache.hadoop.fs.Path(markerDir, t))),
      "per-table markers written for batch 0")
    FanOutSink.writeBatchJdbc(replayBatch, url, props,
      markers = Some((fs, markerDir)))
    FieldCatalog.Groups.all.foreach { table =>
      assert(spark.read.jdbc(url, table, props).count() == 3,
        s"$table must not grow on full replay")
    }
    // Partial replay (crash mid-loop): drop ONE table's marker — only
    // that table re-appends, the other 8 stay committed.
    val station = FieldCatalog.Groups.Station
    fs.delete(new org.apache.hadoop.fs.Path(markerDir, station), false)
    FanOutSink.writeBatchJdbc(replayBatch, url, props,
      markers = Some((fs, markerDir)))
    FieldCatalog.Groups.all.foreach { table =>
      val expect = if (table == station) 4L else 3L
      assert(spark.read.jdbc(url, table, props).count() == expect,
        s"$table after partial replay")
    }
  }

  test("SQLite epochs-as-TEXT compat: timestamps land as epoch strings") {
    // reference SQLite DDL declares timestamp columns TEXT and binds the
    // raw epoch integers (PurpleAirSQLiteQueryStatements.py:13,
    // PurpleAirSQLiteDataLogger.py:82); epochTextCompat reproduces that
    // so a compat-written db is readable by reference tooling
    val dbRoot = Files.createTempDirectory("graft_derby_compat").toString
    val url = s"jdbc:derby:$dbRoot/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    FanOutSink.writeBatchJdbc(conformed, url, props, epochTextCompat = true)
    val station = spark.read.jdbc(url, FieldCatalog.Groups.Station, props)
    // every reference-TEXT timestamp column is a digit string...
    Seq("data_time_stamp", "last_seen", "last_modified", "date_created")
      .foreach { c =>
        assert(station.schema(c).dataType ==
          org.apache.spark.sql.types.StringType, s"$c must be TEXT-typed")
        val vals = station.select(c).collect().map(_.getString(0))
        assert(vals.nonEmpty && vals.forall(v => v != null && v.forall(_.isDigit)),
          s"$c must hold raw epoch strings, got ${vals.toSeq}")
      }
    // ...whose value is the exact epoch the typed path would store
    val expected = conformed
      .select(col("data_time_stamp").cast(
        org.apache.spark.sql.types.LongType).cast(
        org.apache.spark.sql.types.StringType)).collect().map(_.getString(0)).toSet
    assert(station.select("data_time_stamp").collect()
      .map(_.getString(0)).toSet == expected)
    // and the inverse knob reads the TEXT epochs back as typed instants —
    // a reference-written SQLite db round-trips into the engine
    val typed = FanOutSink.readJdbcCompat(spark, url,
      FieldCatalog.Groups.Station, props)
    assert(typed.schema("data_time_stamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val roundTrip = typed.select(col("data_time_stamp").cast(
        org.apache.spark.sql.types.LongType).cast(
        org.apache.spark.sql.types.StringType))
      .collect().map(_.getString(0)).toSet
    assert(roundTrip == expected, "epoch TEXT must round-trip to instants")
  }

  test("readCsvTable: catalog-typed read over the reference CSV layout") {
    val base = Files.createTempDirectory("graft_csv_rt").toString
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val conformed = Transforms.conform(Transforms.flattenSingle(payload))
    FanOutSink.writeBatch(conformed, base, format = "csv")
    val env = FieldCatalog.Groups.Environmental
    val back = FanOutSink.readCsvTable(spark, base, env)
    // catalog types, not inference: key is a real timestamp, readings real
    assert(back.schema("data_time_stamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("humidity").dataType ==
      org.apache.spark.sql.types.IntegerType) // catalog INT, like the DDL
    assert(back.schema("pressure").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(back.count() == 1)
    // values survive the round trip exactly
    val w = conformed.select(col("data_time_stamp"), col("humidity")).head
    val r = back.select(col("data_time_stamp"), col("humidity")).head
    assert(r == w, s"csv round-trip mismatch: wrote $w read $r")
    // and the date partition column is discoverable for pruning
    assert(back.columns.contains("date"))
  }

  test("stream restart from checkpoint re-emits nothing (exactly-once sink)") {
    val base = Files.createTempDirectory("graft_sink_rs").toString
    def run(): Unit = {
      val wire = spark.readStream.format(PollingSource.format)
        .option(PollingSource.Options.FetcherClass,
          classOf[graft.sources.FileReplayFetcher].getName)
        .option("replay.dir", Payloads.fixtureDir)
        .option(PollingSource.Options.AllowFastPolling, "true")
        .load()
      val conformed = Transforms.conform(
        PollingSource.parseSingle(wire, ApiPayloadSchema.singleSensor))
      val q = FanOutSink.stream(conformed, s"$base/data", s"$base/cp",
        trigger = Trigger.ProcessingTime("1 second"))
      try q.processAllAvailable() finally q.stop()
    }
    run() // first run consumes all 3 payload files
    run() // restart with the same checkpoint: cursor resumes, no re-emit
    val station = FanOutSink.readTable(spark, s"$base/data",
      FieldCatalog.Groups.Station)
    assert(station.count() == 3, "restart must not duplicate committed data")
  }
}

/** The local filesystem under the `norename:` scheme, whose rename into a
  * compacted run (`batch=c...`) fails by returning false. */
class RunRenameRefusingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("batch=c") && super.rename(src, dst)
}

class IndexMaintenanceStreamSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity
  import graft.streaming.IndexMaintenance

  // Over ids 0..5 the md5_60 order is 4 < 1 < 2 < 0 < 5 < 3, so with
  // numCentroids = 2 a full build seeds {4, 1}; the initial corpus holds
  // both — the frozen-quantizer condition under which append ≡ rebuild
  // holds exactly.
  private def allVecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
    (5L, Array(0.0f, 0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("streamed micro-batches keep LSH/IVF/PQ indexes == one-shot builds") {
    implicit val sqlCtx = spark.sqlContext
    val initial = allVecs.filter(col("vec_id").isin(0L, 1L, 4L))
    val base = Files.createTempDirectory("graft_idx_stream").toString
    Similarity.writeLshIndex(initial, "vec_id", "embedding",
      s"$base/lsh", planes = 4, tables = 2)
    Similarity.writeIvfIndex(initial, "vec_id", "embedding",
      s"$base/ivf", numCentroids = 2, refineRounds = 0)
    Similarity.writePqIndex(initial, "vec_id", "embedding",
      s"$base/pq", numSubspaces = 2, numCodes = 2)
    val input = MemoryStream[(Long, Array[Float])]
    val vectors = input.toDF().toDF("vec_id", "embedding")
    val lshQ = IndexMaintenance.maintainLsh(vectors, "vec_id", "embedding",
      s"$base/lsh", s"$base/cp_lsh", trigger = Trigger.ProcessingTime(0L))
    val ivfQ = IndexMaintenance.maintainIvf(vectors, "vec_id", "embedding",
      s"$base/ivf", s"$base/cp_ivf", trigger = Trigger.ProcessingTime(0L))
    val pqQ = IndexMaintenance.maintainPq(vectors, "vec_id", "embedding",
      s"$base/pq", s"$base/cp_pq", trigger = Trigger.ProcessingTime(0L))
    try {
      // two genuine micro-batches (processAllAvailable between adds)
      input.addData((2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
        (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      lshQ.processAllAvailable(); ivfQ.processAllAvailable()
      pqQ.processAllAvailable()
      input.addData((5L, Array(0.0f, 0.5f, 0.5f, 0.0f)))
      lshQ.processAllAvailable(); ivfQ.processAllAvailable()
      pqQ.processAllAvailable()
    } finally { lshQ.stop(); ivfQ.stop(); pqQ.stop() }
    val oneShot = Files.createTempDirectory("graft_idx_oneshot").toString
    val lshFull = Similarity.writeLshIndex(allVecs, "vec_id", "embedding",
      s"$oneShot/lsh", planes = 4, tables = 2)
    val ivfFull = Similarity.writeIvfIndex(allVecs, "vec_id", "embedding",
      s"$oneShot/ivf", numCentroids = 2, refineRounds = 0)
    val pqFull = Similarity.writePqIndex(allVecs, "vec_id", "embedding",
      s"$oneShot/pq", numSubspaces = 2, numCodes = 2)
    val lshIdx = Similarity.readLshIndex(spark, s"$base/lsh")
    val ivfIdx = Similarity.readIvfIndex(spark, s"$base/ivf")
    val pqIdx = Similarity.readPqIndex(spark, s"$base/pq")
    assert(sameRows(lshIdx.vectors, lshFull.vectors), "LSH vectors differ")
    assert(sameRows(lshIdx.buckets, lshFull.buckets), "LSH buckets differ")
    assert(sameRows(ivfIdx.centroids, ivfFull.centroids), "centroids differ")
    assert(sameRows(ivfIdx.cells, ivfFull.cells), "IVF cells differ")
    assert(sameRows(pqIdx.codebook, pqFull.codebook), "PQ codebook differs")
    assert(sameRows(pqIdx.codes, pqFull.codes), "PQ codes differ")
  }

  test("streaming hubness/mutual-kNN audit matches the batch census") {
    implicit val sqlCtx = spark.sqlContext
    val initial = allVecs.filter(col("vec_id").isin(0L, 1L, 4L))
    val base = Files.createTempDirectory("graft_idx_hub").toString
    // frozen-quantizer conditions (seeds {4, 1} inside the initial
    // corpus, refineRounds = 0): append == rebuild exactly, so the
    // final streamed index serves the same kNN-graph as a full build
    Similarity.writeIvfIndex(initial, "vec_id", "embedding",
      s"$base/ivf", numCentroids = 2, refineRounds = 0)
    val input = MemoryStream[(Long, Array[Float])]
    val vectors = input.toDF().toDF("vec_id", "embedding")
    val q = IndexMaintenance.maintainIvfWithHubness(vectors,
      "vec_id", "embedding", s"$base/ivf", s"$base/cp",
      s"$base/audit", k = 2, topHubs = 6, nprobe = 2,
      trigger = Trigger.ProcessingTime(0L))
    try {
      input.addData((2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
        (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      // the batch-0 audit must already exist and census only ids 0..4
      val mid = spark.read.parquet(s"$base/audit/hubness")
      assert(mid.select("batch_id").distinct().as[Long].collect()
        .toSeq == Seq(0L), "batch-0 audit missing")
      assert(mid.count() == 5, "batch-0 census universe wrong")
      input.addData((5L, Array(0.0f, 0.5f, 0.5f, 0.0f)))
      q.processAllAvailable()
    } finally q.stop()
    val gotHub = spark.read.parquet(s"$base/audit/hubness")
      .drop("batch_id")
    val gotMut = spark.read.parquet(s"$base/audit/mutual")
      .drop("batch_id")
    val wantHub = Similarity.hubnessCensusIvf(allVecs, "vec_id",
      "embedding", k = 2, topHubs = 6, numCentroids = 2,
      refineRounds = 0, nprobe = 2)
    val wantMut = Similarity.mutualTopKIvf(allVecs, "vec_id",
      "embedding", k = 2, numCentroids = 2, refineRounds = 0,
      nprobe = 2)
    assert(sameRows(gotHub, wantHub), "hubness audit != batch census")
    assert(sameRows(gotMut, wantMut), "mutual audit != batch pairs")
  }

  test("replayed index micro-batch is skipped by the committed marker") {
    val initial = allVecs.filter(col("vec_id") < 3)
    val batch = allVecs.filter(col("vec_id") >= 3)
    val base = Files.createTempDirectory("graft_idx_replay").toString
    Similarity.writeLshIndex(initial, "vec_id", "embedding",
      s"$base/lsh", planes = 4, tables = 2)
    IndexMaintenance.appendLshBatch(batch, 0L, s"$base/lsh",
      s"$base/cp", "vec_id", "embedding")
    val once = Similarity.readLshIndex(spark, s"$base/lsh")
    val (nv, nb) = (once.vectors.count(), once.buckets.count())
    // at-least-once replay of the SAME batch id: marker short-circuits,
    // nothing is appended twice
    IndexMaintenance.appendLshBatch(batch, 0L, s"$base/lsh",
      s"$base/cp", "vec_id", "embedding")
    val again = Similarity.readLshIndex(spark, s"$base/lsh")
    assert(again.vectors.count() == nv, "replay duplicated vector rows")
    assert(again.buckets.count() == nb, "replay duplicated bucket rows")
  }
}

class StreamingConformalSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats
  import graft.streaming.StreamingConformal

  test("per-batch coverage audits match the batch audit on the union; " +
    "replay rewrites bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_conformal").toString
    // frozen yardstick: cal 1..9 -> center 5, q_hat 4 at alpha = 0.1
    val intervals = Stats.conformalCalibrate(
      (1 to 9).map(v => ("a", v.toDouble)).toDF("g", "v"), "g", "v")
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("g", "v")
    val q = StreamingConformal.stream(stream, "g", "v", intervals,
      base, s"$base/cp", trigger = Trigger.ProcessingTime(0L))
    try {
      // batch 0: values 0..5 (covered: 1..5 -> 5 of 6)
      input.addData((0 to 5).map(v => ("a", v.toDouble)): _*)
      q.processAllAvailable()
      // batch 1: values 6..10 (covered: 6..9 -> 4 of 5)
      input.addData((6 to 10).map(v => ("a", v.toDouble)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.option("basePath", s"$base/coverage")
      .parquet(s"$base/coverage")
    val byBatch = landed.collect()
      .map(r => r.getAs[Int]("batch") ->
        ((r.getAs[Long]("n_test"), r.getAs[Long]("n_covered")))).toMap
    assert(byBatch == Map(0 -> ((6L, 5L)), 1 -> ((5L, 4L))),
      s"got $byBatch")
    // aggregated stream == one batch audit over the union
    val agg = landed.agg(sum("n_test"), sum("n_covered")).collect().head
    val whole = Stats.conformalAudit(
      (0 to 10).map(v => ("a", v.toDouble)).toDF("g", "v"),
      "g", "v", intervals).collect().head
    assert(agg.getLong(0) == whole.getAs[Long]("n_test"))
    assert(agg.getLong(1) == whole.getAs[Long]("n_covered"))
    // at-least-once replay: same batch id rewrites the same rows
    StreamingConformal.auditBatch(
      (0 to 5).map(v => ("a", v.toDouble)).toDF("g", "v"), 0L, base,
      "g", "v", intervals)
    val again = spark.read.option("basePath", s"$base/coverage")
      .parquet(s"$base/coverage")
      .filter(col("batch") === 0)
      .collect().head
    assert(again.getAs[Long]("n_covered") == 5L &&
      again.getAs[Long]("n_test") == 6L)
  }
}

class StreamingDecontaminateSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Curation

  private def evalCorpus = Seq(
    (100L, "the quick brown fox jumps over the lazy dog")
  ).toDF("id", "text")

  test("streaming decontamination drops flagged docs at ingest, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_decon").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = Curation.streamingDecontaminate(stream, "doc_id", "text",
      evalCorpus, "id", "text", s"$base/out", s"$base/cp",
      shingleWords = 3, minShared = 1,
      trigger = Trigger.ProcessingTime(0L))
    try {
      // batch 0: one clean doc, one quoting the eval doc verbatim
      input.addData(
        (1L, "totally novel writing about catalyst optimizer internals"),
        (2L, "intro the quick brown fox jumps over the lazy dog outro"))
      q.processAllAvailable()
      // batch 1: clean again
      input.addData((3L, "more clean content with nothing shared at all"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L), s"expected contaminated doc 2 dropped, got $out")
    // replaying a batch id rewrites its directory instead of duplicating
    val batch0 = Seq(
      (1L, "totally novel writing about catalyst optimizer internals"),
      (2L, "intro the quick brown fox jumps over the lazy dog outro"))
      .toDF("doc_id", "text")
    Curation.decontaminateBatch(batch0, 0L, evalCorpus, "id", "text",
      "doc_id", "text", s"$base/out", shingleWords = 3, minShared = 1)
    val again = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == Seq(1L, 3L), s"replay duplicated rows: $again")
  }

  test("streaming LM gate lands only low-perplexity docs, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_lmgate").toString
    // frozen model from the lmPerplexity toy: scores are 625 ("the cat
    // sat"), 2250 ("zebra jumps"), 4500 ("the dog"), 0 (no bigrams)
    val model = graft.operators.TextAnalysis.trainLm(
      Seq((10L, "the cat sat"), (11L, "the cat ren")).toDF("doc_id", "text"),
      "text")
    val input = MemoryStream[(Long, String)]
    val q = Curation.streamingLmGate(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", model, maxMilliBits = 1000L,
      s"$base/out", s"$base/cp", trigger = Trigger.ProcessingTime(0L))
    try {
      input.addData((1L, "the cat sat"), (2L, "zebra jumps"))
      q.processAllAvailable()
      input.addData((3L, "the dog"), (4L, "hi"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 4L), s"gate kept wrong docs: $out")
    // replaying a batch rewrites its directory instead of duplicating
    Curation.lmGateBatch(
      Seq((1L, "the cat sat"), (2L, "zebra jumps")).toDF("doc_id", "text"),
      0L, model, "doc_id", "text", 1000L, s"$base/out")
    val again = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == Seq(1L, 4L), s"replay duplicated rows: $again")
  }
}

class StreamingAsofSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingAsof
  import graft.streaming.StreamingAsof.{ref, probe}

  test("streaming as-of: cross-batch state, event-time TTL expiry") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAsof.Event]
    // timestamps in µs (seconds × 1e6); TTL = 3600 s of key event-time
    // inactivity against a zero-delay watermark
    def s(sec: Long) = sec * 1000000L
    val out = StreamingAsof.enrich(input.toDS(), ttlMs = 3600L * 1000,
      watermarkDelay = Some("0 seconds"))
    val cp = Files.createTempDirectory("graft_asof").toString
    val q = out.writeStream.format("memory").queryName("asof_out")
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      // batch 1: probe at 50 precedes the ref at 100 in event time →
      // NULL; probe at 100 ties the ref → inclusive; probe at 150 → 1.0
      input.addData(ref(1L, s(100), 1.0), probe(1L, s(50), 10L),
        probe(1L, s(100), 11L), probe(1L, s(150), 12L))
      q.processAllAvailable()
      // batch 2: state persisted (probe 200 → 1.0); a newer ref takes
      // over mid-batch; key 2 has no ref at all
      input.addData(probe(1L, s(200), 13L), ref(1L, s(250), 2.0),
        probe(1L, s(300), 14L), probe(2L, s(300), 15L))
      q.processAllAvailable()
      val got = spark.table("asof_out").as[StreamingAsof.Enriched]
        .collect().map(e => e.probeId -> e.asofValue).toMap
      assert(got(10L).isEmpty)
      assert(got(11L).contains(1.0)) // at-or-before inclusive
      assert(got(12L).contains(1.0))
      assert(got(13L).contains(1.0)) // cross-batch state
      assert(got(14L).contains(2.0))
      assert(got(15L).isEmpty)       // key without references
      // out-of-order ref older than retained state must not regress it
      input.addData(ref(1L, s(120), 9.9), probe(1L, s(400), 16L))
      q.processAllAvailable()
      val v16 = spark.table("asof_out").as[StreamingAsof.Enriched]
        .filter(_.probeId == 16L).collect().head
      assert(v16.asofValue.contains(2.0))
      // expiry: key-99 traffic drives the watermark past key 1's last
      // activity (400 s) + TTL (3600 s); the timeout then removes key 1's
      // state, so a later probe finds nothing
      input.addData(ref(99L, s(99000), 7.0))
      q.processAllAvailable()
      input.addData(ref(99L, s(99010), 7.0)) // batch where the timeout fires
      q.processAllAvailable()
      input.addData(probe(1L, s(99020), 17L))
      q.processAllAvailable()
      val v17 = spark.table("asof_out").as[StreamingAsof.Enriched]
        .filter(_.probeId == 17L).collect().head
      assert(v17.asofValue.isEmpty, s"state should have expired: $v17")
    } finally q.stop()
  }

  test("streaming as-of on in-order data == batch asofJoin") {
    // same fixture as the batch spec, replayed in one batch
    val events = Seq(
      ref(1L, 100000000L, 1.0), ref(1L, 300000000L, 3.0),
      ref(2L, 400000000L, 9.0),
      probe(1L, 50000000L, 200L), probe(1L, 300000000L, 201L),
      probe(1L, 500000000L, 202L), probe(2L, 10000000L, 203L)).toDS()
    val got = StreamingAsof.enrich(events)
      .collect().map(e => e.probeId -> e.asofValue).toMap
    val probeDf = Seq((200L, 50L, 1L), (201L, 300L, 1L), (202L, 500L, 1L),
        (203L, 10L, 2L)).toDF("event_id", "epoch", "user_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val refDf = Seq((1L, 100L, 1.0), (1L, 300L, 3.0), (2L, 400L, 9.0))
      .toDF("user_id", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val batch = graft.queries.TimeSeries.asofJoin(probeDf, "event_id", "ts",
        refDf, "ts", "value", "user_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got == batch)
  }
}

class StreamingAnomalySpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingAnomaly
  import graft.streaming.StreamingAnomaly.{Event => AEvent}

  test("streaming z-score: prior-only stats, gates, cross-batch state") {
    implicit val sqlCtx = spark.sqlContext
    def s(sec: Long) = sec * 1000000L
    val input = MemoryStream[AEvent]
    val out = StreamingAnomaly.score(input.toDS(), threshold = 2.0,
      minPrior = 3, ttlMs = 3600L * 1000,
      watermarkDelay = Some("0 seconds"))
    val cp = Files.createTempDirectory("graft_sanom").toString
    val q = out.writeStream.format("memory").queryName("sanom_out")
      .option("checkpointLocation", cp).outputMode("append").start()
    try {
      // batch 1: three 10.0s — all below minPrior
      input.addData(AEvent(1L, s(1000), 1L, 10.0),
        AEvent(1L, s(1060), 2L, 10.0), AEvent(1L, s(1120), 3L, 10.0))
      q.processAllAvailable()
      // batch 2 (state carried): spike sees σ=0 → gated; next event sees
      // priors {10,10,10,50}: mean 20, var 300, z = −10/√300
      input.addData(AEvent(1L, s(1180), 4L, 50.0),
        AEvent(1L, s(1240), 5L, 10.0))
      q.processAllAvailable()
      val got = spark.table("sanom_out").as[StreamingAnomaly.Scored]
        .collect().map(e => e.id -> (e.z, e.anomaly)).toMap
      assert(got(1L) == (None, false) && got(3L) == (None, false))
      assert(got(4L) == (None, false)) // constant-history σ gate
      val (z5, f5) = got(5L)
      assert(z5.isDefined &&
        math.abs(z5.get - (-10.0 / math.sqrt(300.0))) < 1e-12)
      assert(!f5) // |z| ≈ 0.577 < 2
      // TTL expiry: key-99 traffic drives the watermark past key 1's TTL;
      // the next key-1 event starts from empty state (below minPrior)
      input.addData(AEvent(99L, s(99000), 6L, 1.0))
      q.processAllAvailable()
      input.addData(AEvent(99L, s(99010), 7L, 1.0))
      q.processAllAvailable()
      input.addData(AEvent(1L, s(99020), 8L, 10.0))
      q.processAllAvailable()
      val v8 = spark.table("sanom_out").as[StreamingAnomaly.Scored]
        .filter(_.id == 8L).collect().head
      assert(v8.z.isEmpty, s"state should have expired: $v8")
    } finally q.stop()
  }

  test("streaming z-score flags a genuine outlier at full evidence") {
    // batch mode (one pass): spread history, then a far outlier
    val events = (Seq.tabulate(8)(i =>
        AEvent(7L, i * 1000000L, i.toLong, (i % 4).toDouble)) :+
      AEvent(7L, 9000000L, 99L, 40.0)).toDS()
    val scored = StreamingAnomaly.score(events, threshold = 2.0)
      .collect().map(e => e.id -> e).toMap
    assert(scored(99L).anomaly, scored(99L).toString)
    assert(scored(99L).z.exists(_ > 2.0))
  }
}

class StreamingGapfillSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingGapfill
  import graft.streaming.StreamingGapfill.{Event => GEvent}

  test("streaming gap-fill: watermark-finalized buckets, fills, late merge") {
    implicit val sqlCtx = spark.sqlContext
    def s(sec: Long) = sec * 1000000L
    val input = MemoryStream[GEvent]
    // 100 s buckets, 50 s watermark delay
    val out = StreamingGapfill.fill(input.toDS(), 100L, "50 seconds")
    val cp = Files.createTempDirectory("graft_sgap").toString
    val q = out.writeStream.format("memory").queryName("sgap_out")
      .option("checkpointLocation", cp).outputMode("append").start()
    def rows() = spark.table("sgap_out").as[StreamingGapfill.FilledRow]
      .collect().filter(_.key == 1L).sortBy(_.bucketS)
      .map(r => (r.bucketS, r.valueLocf, r.n, r.filled)).toSeq
    try {
      // bucket 1000: two observations (max 7); nothing final yet
      input.addData(GEvent(1L, s(1000), 5.0), GEvent(1L, s(1050), 7.0))
      q.processAllAvailable()
      assert(rows().isEmpty) // watermark (1000) hasn't passed bucket end
      // a late row INSIDE the delay still merges into the pending bucket,
      // and traffic at 1300 finalizes bucket 1000 (wm 1250 ≥ 1100)
      input.addData(GEvent(1L, s(1060), 9.0), GEvent(1L, s(1300), 1.0))
      q.processAllAvailable()
      assert(rows() == Seq((1000L, 9.0, 3L, false)))
      // jumping to 1700 finalizes 1300 AND emits fills for 1100/1200;
      // 1400-1600 stay unmaterialized until 1700's bucket finalizes
      input.addData(GEvent(1L, s(1700), 4.0))
      q.processAllAvailable()
      val afterJump = rows()
      assert(afterJump == Seq((1000L, 9.0, 3L, false),
        (1100L, 9.0, 0L, true), (1200L, 9.0, 0L, true),
        (1300L, 1.0, 1L, false)))
      // other-key traffic advances the watermark past 1700's bucket end:
      // the TIMEOUT finalizes 1700 with its gap fills, no key-1 data
      input.addData(GEvent(2L, s(2000), 0.0))
      q.processAllAvailable()
      input.addData(GEvent(2L, s(2100), 0.0))
      q.processAllAvailable()
      val finalRows = rows()
      assert(finalRows == Seq((1000L, 9.0, 3L, false),
        (1100L, 9.0, 0L, true), (1200L, 9.0, 0L, true),
        (1300L, 1.0, 1L, false),
        (1400L, 1.0, 0L, true), (1500L, 1.0, 0L, true),
        (1600L, 1.0, 0L, true), (1700L, 4.0, 1L, false)))
      // prefix-equivalence with the batch operator on the same data
      val batch = graft.queries.TimeSeries.gapfillLocf(
        Seq((1L, 1000L, 5.0), (1L, 1050L, 7.0), (1L, 1060L, 9.0),
          (1L, 1300L, 1.0), (1L, 1700L, 4.0))
          .toDF("user_id", "epoch", "value")
          .withColumn("ts", timestamp_seconds(col("epoch"))),
        "ts", "user_id", "value", 100L)
        .orderBy("bucket_s").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getBoolean(4))).toSeq
      assert(finalRows == batch)
    } finally q.stop()
  }
}
