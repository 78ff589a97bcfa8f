package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Lifetime

/** Dev diagnostic: runs registered queries and writes one
  * `<outDir>/<query>.json` each.
  *
  * `runMain graft.Profile <outDir> <query1,query2,…> <sfDir> [reps=2]`
  *
  * Per rep: wall time and rows; every SQL execution the query ran (the
  * operators' eager `count`s, `localCheckpoint`s and seal, then the final
  * `count`) with its action, duration, planning phases and executed plan,
  * so a sealed result's `Scan ExistingRDD` shows what made it; every
  * completed stage (time, tasks, input, shuffle read and write, spill, GC,
  * the largest task's peak execution memory) with the execution whose job
  * ran it. Jobs Spark runs outside any SQL execution leave `execution`
  * null. Rep 1 carries JIT and first-scan warmup. A name that is unknown
  * or fails writes `{"query": …, "error": …}` and the sweep goes on.
  */
object Profile {
  val Usage = "usage: Profile <outDir> <query1,query2,...> <sfDir> [reps]"

  final case class Stage(stage: Int, execution: Option[Long], name: String,
      ms: Long, tasks: Int, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long,
      peakExecutionMemoryBytes: Long)
  final case class Execution(id: Long, action: Option[String], ms: Long,
      phasesMs: Map[String, Long], plan: Seq[String])
  final case class Rep(rep: Int, wallMs: Long, rows: Long,
      executions: Seq[Execution], stages: Seq[Stage])
  final case class Report(query: String, sfDir: String, master: String,
      reps: Seq[Rep], error: Option[String])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .writerWithDefaultPrettyPrinter()

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4, Usage)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = args.lift(3).fold(2)(_.toInt)
    val spark = EngineDefaults.builder("graft-profile", EngineDefaults.cpus())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, Paths.get(args(0)), names, args(2), reps)
    finally spark.stop()
  }

  /** Profiles each of `names` over `sfDir`, `reps` times in `spark`, into
    * `<outDir>/<name>.json`. Sweeps the session after every rep. */
  def run(spark: SparkSession, outDir: Path, names: Seq[String],
      sfDir: String, reps: Int): Unit = {
    Files.createDirectories(outDir)
    val recorder = new Recorder
    spark.listenerManager.register(recorder) // first: see Recorder
    spark.sparkContext.addSparkListener(recorder)
    val master = spark.sparkContext.master
    def rep(name: String, i: Int, query: => Long): Rep =
      try {
        recorder.take(spark) // events of earlier work
        val t0 = System.nanoTime()
        val rows = query
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val (executions, stages) = recorder.take(spark)
        System.err.println(s"[profile] $name rep $i: $wallMs ms, $rows " +
          s"rows, ${executions.size} executions, ${stages.size} stages")
        Rep(i, wallMs, rows, executions, stages)
      } finally {
        Lifetime.sweep(spark)
        System.gc()
      }
    try names.foreach { name =>
      val report =
        try {
          val fn = SparkEntry.queries(name)
          Report(name, sfDir, master,
            (1 to reps).map(rep(name, _, fn(spark, sfDir).count())), None)
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: $e")
          Report(name, sfDir, master, Nil, Some(String.valueOf(e)))
        }
      Files.writeString(outDir.resolve(s"$name.json"),
        json.writeValueAsString(report))
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
  }

  /** Stage and SQL-execution events between two [[take]]s. The listener
    * bus thread writes and the caller's thread reads, so every access
    * holds the lock.
    *
    * An execution's end event reaches the session's execution-listener bus
    * (which calls [[onSuccess]] with the query execution) and then
    * [[onOtherEvent]] (which carries the execution id), with no other event
    * in between. Both sit on the shared listener queue, in that order
    * because registering the execution listener creates the bus before the
    * recorder joins, and a queue delivers one event to all its listeners
    * before the next. That pairs each query execution with its id. */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    private val SentinelKey = "graft.profile.sentinel"
    private var reported = Option.empty[Execution]
    private val executions = mutable.ArrayBuffer.empty[Execution]
    private val stageExecution = mutable.Map.empty[Int, Long]
    private val taskPeak = mutable.Map.empty[Int, Long]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val sentinels = mutable.Map.empty[Int, String] // stage -> token
    private var drained = ""

    override def onSuccess(action: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      reported = Some(Execution(-1L, Some(action), durationNs / 1000000L,
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
        qe.explainString(ExplainMode.fromString("formatted")).split("\n").toSeq))
    }

    override def onFailure(action: String, qe: QueryExecution,
        e: Exception): Unit = ()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        executions += reported.getOrElse(Execution(-1L, None, -1L, Map.empty,
          Nil)).copy(id = end.executionId)
        reported = None
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop(SentinelKey).foreach(t => e.stageIds.foreach(sentinels(_) = t))
      prop(SQLExecution.EXECUTION_ID_KEY).foreach { id =>
        e.stageIds.foreach(s => stageExecution.getOrElseUpdate(s, id.toLong))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(e.taskMetrics).foreach { m =>
        taskPeak(e.stageId) =
          math.max(taskPeak.getOrElse(e.stageId, 0L), m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        sentinels.remove(si.stageId) match {
          case Some(token) => drained = token; notifyAll()
          case None => stages += Stage(si.stageId,
            stageExecution.get(si.stageId), si.name.takeWhile(_ != '\n'),
            (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
              .getOrElse(-1L),
            si.numTasks, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
            taskPeak.getOrElse(si.stageId, 0L))
        }
      }

    /** The executions and stages recorded since the last call, once every
      * event posted before the call is delivered: runs a tagged one-task
      * job and waits for its stage's completion, which the queue delivers
      * after all earlier events. */
    def take(spark: SparkSession): (Seq[Execution], Seq[Stage]) = {
      val sc = spark.sparkContext
      val token = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(SentinelKey, token)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SentinelKey, null)
      val deadline = System.currentTimeMillis() + 30000L
      synchronized {
        while (drained != token && System.currentTimeMillis() < deadline)
          wait(100L)
        if (drained != token) throw new IllegalStateException(
          "listener events were not delivered within 30 s")
        val out = (executions.toList, stages.toList)
        executions.clear(); stages.clear(); stageExecution.clear()
        taskPeak.clear()
        out
      }
    }
  }
}
