package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
    queryId: String, batchId: String, sentinel: String)

final class StageAgg(val id: Int) {
  var submitMs = 0L; var doneMs = 0L; var tasks = 0; var cpuNs = 0L
  var shuffleWrite = 0L; var spill = 0L
  var rddNames: Seq[String] = Nil
}

/** Job, stage and task counters from Spark's public listener events. A
  * streaming job is attributed to its query and batch through the local
  * properties the micro-batch engine starts it with. */
final class JobListener extends SparkListener {

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private val seenSentinels = mutable.Set.empty[String]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds,
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId"),
      prop(JobListener.SentinelProperty))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.sentinel.nonEmpty) { seenSentinels += j.sentinel; notifyAll() }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.rddNames = e.stageInfo.rddInfos.map(_.name)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Blocks until every event posted before this call has been delivered:
    * runs a tagged one-task job and waits for its end event, which the
    * listener queue delivers after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(JobListener.SentinelProperty)
    sc.setLocalProperty(JobListener.SentinelProperty, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.SentinelProperty, prev)
    val deadline = System.currentTimeMillis() + 30000L
    synchronized {
      while (!seenSentinels(token) && System.currentTimeMillis() < deadline) wait(100L)
    }
  }

  def snapshot(): (Seq[Job], Map[Int, StageAgg]) = synchronized {
    (jobs.values.filter(_.sentinel.isEmpty).toList, stages.toMap)
  }

  def reset(): Unit = synchronized { jobs.clear(); stages.clear() }
}

object JobListener {
  val SentinelProperty = "perfbench.sentinel"
}

/** One `StreamingQueryProgress`, keyed by the query's id. */
final case class Progress(query: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateBytes: Long, droppedByWatermark: Long)

/** Every `StreamingQueryProgress` of the session. */
final class ProgressListener extends StreamingQueryListener {

  private val events = mutable.ArrayBuffer.empty[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val rec = Progress(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum)
    synchronized { events += rec; notifyAll() }
  }

  def of(query: String): Seq[Progress] = synchronized(events.filter(_.query == query).toList)

  /** Waits until `query` has reported progress for batch `batchId`. */
  def awaitBatch(query: String, batchId: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!events.exists(e => e.query == query && e.batchId >= batchId) &&
          System.currentTimeMillis() < deadline) wait(100L)
      events.exists(e => e.query == query && e.batchId >= batchId)
    }
  }

  def reset(): Unit = synchronized(events.clear())
}
