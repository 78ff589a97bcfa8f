package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cli.DataLoggerCli
import graft.schema.FieldCatalog.{Groups, keyCols}
import graft.sinks.FanOutSink
import graft.sources.FileReplayFetcher
import graft.streaming.ContinuousAggregate

/** The replay transport with its calls counted: a `fetch` is one API GET,
  * a `validate` one `/keys` check. Spark instantiates fetchers
  * reflectively, on the driver and in tasks of this same JVM, so the
  * counts live in the companion. */
class CountingFetcher extends FileReplayFetcher {
  override def validate(options: Map[String, String]): Unit = {
    CountingFetcher.validates.incrementAndGet()
    super.validate(options)
  }
  override def fetch(from: Long, to: Long,
      options: Map[String, String]): Seq[(Long, String)] = {
    CountingFetcher.fetches.incrementAndGet()
    super.fetch(from, to, options)
  }
}

object CountingFetcher {
  val fetches = new AtomicInteger()
  val validates = new AtomicInteger()
}

/** `DataLoggerCli.runStream` as one streaming query over the synthetic
  * payloads: one GET per poll, and an hourly rollup that holds exactly
  * the readings the nine tables hold, across duplicates, a restart and
  * a replayed batch. */
class RunStreamSpec extends SparkSpec {

  private def tmp(name: String): Path = Files.createTempDirectory(s"graft_$name")

  /** A replay directory holding copies of `payloads`, polled in order. */
  private def replayDir(payloads: String*): Path = {
    val dir = tmp("replay")
    payloads.foreach(addPayload(dir, _))
    dir
  }

  private def addPayload(dir: Path, payload: String): Unit = {
    val n = dir.toFile.list().length
    val _ = Files.copy(Paths.get(payload), dir.resolve(f"$n%03d.json"))
  }

  private def config(replay: Path, extra: String*): DataLoggerCli.Config = {
    val req = tmp("cfg").resolve("req.json")
    Files.writeString(req, """{"sensor_index": 900001}""")
    DataLoggerCli.parseArgs(Array(
      "-paa_single_sensor_request_json_file", req.toString,
      "-fetcher_class", classOf[CountingFetcher].getName,
      "-replay_dir", replay.toString,
      "-out_dir", tmp("out").toString,
      "-checkpoint_dir", tmp("cp").resolve("cp").toString,
      "-hourly_aggregate_dir", tmp("agg").resolve("agg").toString) ++ extra)
  }

  /** Starts the logger, lets it take every poll available, runs `body`
    * and stops it. */
  private def logged[A](c: DataLoggerCli.Config)(body: StreamingQuery => A): A = {
    val q = DataLoggerCli.runStream(spark, c)
    try { awaitFirstTrigger(q); body(q) } finally q.stop()
  }

  private def aggDir(c: DataLoggerCli.Config): String = c.hourlyAggregateDir.get

  /** [[ContinuousAggregate.hourly]] over what the tables hold, each
    * table read by `read`. */
  private def recomputed(read: String => DataFrame): DataFrame = {
    def table(group: String, column: String) =
      read(group).select((keyCols :+ column).map(col): _*)
    ContinuousAggregate.hourly(
      table(Groups.Station, "name").join(table(Groups.Pm2_5, "pm2_5"), keyCols),
      "data_time_stamp", Seq("sensor_index", "name"), "pm2_5")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertRollupMatchesTables(c: DataLoggerCli.Config,
      read: Option[String => DataFrame] = None): Unit = {
    val got = rows(ContinuousAggregate.readHourly(spark, aggDir(c)))
    assert(got.nonEmpty)
    assert(got == rows(recomputed(
      read.getOrElse(FanOutSink.readTable(spark, c.outDir, _)))))
  }

  /** Every rollup run on disk (`date=<D>/batch=<b>`), with its file
    * count and its rows. */
  private def rollupRuns(c: DataLoggerCli.Config): Map[String, (Int, Seq[String])] = {
    val root = Paths.get(aggDir(c))
    Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(p => root.relativize(p.getParent).toString)
      .map { case (run, files) =>
        run -> (files.size, rows(spark.read.parquet(root.resolve(run).toString)))
      }
  }

  test("runStream: one query, one fetch per poll, one validate per start") {
    val replay = replayDir(Payloads.singleChannel)
    val c = config(replay)
    CountingFetcher.fetches.set(0)
    CountingFetcher.validates.set(0)
    val active = spark.streams.active.length
    logged(c) { q =>
      assert(spark.streams.active.length == active + 1,
        "the rollup rides the fan-out query")
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    }
    assert(CountingFetcher.fetches.get == 1, "one GET for one poll")
    assert(CountingFetcher.validates.get == 1, "one /keys check for one start")
    addPayload(replay, Payloads.dualChannelFullEnv)
    logged(c)(q => assert(q.recentProgress.count(_.numInputRows > 0) == 1))
    assert(CountingFetcher.fetches.get == 2, "one more GET for one more poll")
    assert(CountingFetcher.validates.get == 2, "one more /keys check")
  }

  test("hourly rollup: a reading carried twice in one poll counts once") {
    val c = config(replayDir(Payloads.singleChannel, Payloads.singleChannel))
    logged(c) { q =>
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one poll")
      Groups.all.foreach(g =>
        assert(FanOutSink.readTable(spark, c.outDir, g).count() == 1L, g))
      val agg = ContinuousAggregate.readHourly(spark, aggDir(c)).collect()
      assert(agg.length == 1 && agg(0).getAs[Long]("n") == 1L, agg.toSeq)
      assertRollupMatchesTables(c)
    }
  }

  test("hourly rollup: equals the tables' rollup across a restart and a replay") {
    val replay = replayDir(Payloads.singleChannel, Payloads.dualChannel)
    val c = config(replay)
    logged(c)(_ => assertRollupMatchesTables(c))
    // a restart on the same checkpoint polls only the new payload
    addPayload(replay, Payloads.dualChannelFullEnv)
    logged(c)(_ => ())
    assertRollupMatchesTables(c)
    val runs = rollupRuns(c)
    assert(runs.keySet.map(_.split('/').last) == Set("batch=0", "batch=1"))
    // batch 1 runs again under the same id when its commit is missing
    val commits = Paths.get(c.checkpointDir, "commits")
    commits.toFile.listFiles().filter(_.getName.matches("\\.?1(\\.crc)?"))
      .foreach(f => assert(f.delete()))
    val fetched = CountingFetcher.fetches.get
    logged(c)(_ => ())
    assert(CountingFetcher.fetches.get == fetched + 1, "batch 1 was replayed")
    assert(rollupRuns(c) == runs, "the replay rewrote its run as it was")
    Groups.all.foreach(g =>
      assert(FanOutSink.readTable(spark, c.outDir, g).count() == 3L, g))
    assertRollupMatchesTables(c)
  }

  test("hourly rollup over a JDBC sink: taken from the deduped frame") {
    val url = s"jdbc:derby:${tmp("derby")}/db;create=true"
    val c = config(replayDir(Payloads.singleChannel, Payloads.singleChannel,
      Payloads.dualChannel), "-sink", url)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    logged(c) { _ =>
      assert(spark.read.jdbc(url, Groups.Pm2_5, props).count() == 2L)
      assertRollupMatchesTables(c, Some(spark.read.jdbc(url, _, props)))
    }
  }

  test("retention runs on the batch clock; no retention thread outlives the query") {
    val c = config(replayDir(Payloads.singleChannel), "-retention_hours", "8")
    val failures = DataLoggerCli.retentionFailures.get
    logged(c) { _ =>
      // the fixtures date from 2024: the tick after the rollup write
      // drops every date partition it made
      val left = new java.io.File(aggDir(c)).list().filter(_.startsWith("date="))
      assert(left.isEmpty, left.toSeq)
      assert(FanOutSink.readTable(spark, c.outDir, Groups.Pm2_5).count() == 1L)
    }
    assert(DataLoggerCli.retentionFailures.get == failures)
    val timers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName == "graft-retention")
    assert(timers.isEmpty, s"${timers.size} retention threads left running")
  }
}
