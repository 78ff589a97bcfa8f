package perfbench

import scala.collection.mutable

import graft.sources.FileReplayFetcher

/** The replay transport the ingest workload polls through. It serves the
  * payload files of `replay.dir` one per trigger (the parent serves every
  * file at once) and counts and times each `fetch`, which is one API
  * request in the HTTP transport. Spark instantiates fetchers
  * reflectively, on the driver and in tasks of this same JVM, so the
  * counters live in [[ReplayGate]]. */
class CountingReplayFetcher extends FileReplayFetcher {
  // One driver-side instance per query; task-side instances only fetch.
  private lazy val stream = ReplayGate.register()

  override def latestCursor(current: Long, options: Map[String, String]): Long =
    ReplayGate.next(stream, current, super.latestCursor(current, options))

  override def fetch(from: Long, to: Long,
      options: Map[String, String]): Seq[(Long, String)] = {
    val t0 = Tracer.nowUs()
    val out = super.fetch(from, to, options)
    val t1 = Tracer.nowUs()
    val stage = Option(org.apache.spark.TaskContext.get()).map(_.stageId()).getOrElse(-1)
    ReplayGate.recordFetch(Fetch(t0, t1, out.map(_._2.length.toLong).sum, stage))
    out
  }
}

final case class Fetch(startUs: Long, endUs: Long, bytes: Long, stageId: Int)

/** Closed-loop pacing shared by the queries reading the replay source, the
  * way one poll interval feeds every query of `runStream`: each query
  * advances one payload per trigger, never more than one payload ahead of
  * the slowest query. Once the deadline passes no query advances past the
  * furthest payload already handed out, so every query ends having read
  * the same polls. */
object ReplayGate {
  private var deadlineNs = Long.MaxValue
  private var limit = Long.MaxValue
  private var issued = 0L
  private var expected = 1
  private val cursors = mutable.Map.empty[Int, Long]
  private val fetches = mutable.ArrayBuffer.empty[Fetch]

  /** Resets the gate for `streams` new queries, letting them read the
    * first `polls` payloads. */
  def open(polls: Long, streams: Int): Unit = synchronized {
    deadlineNs = Long.MaxValue
    limit = polls
    issued = 0L
    expected = streams
    cursors.clear()
    fetches.clear()
  }

  /** Lets the running queries read on until `seconds` from now, up to
    * `maxPolls` payloads in all. */
  def extend(seconds: Double, maxPolls: Long): Unit = synchronized {
    deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    limit = maxPolls
    fetches.clear()
  }

  def register(): Int = synchronized {
    val id = cursors.size
    cursors(id) = 0L
    id
  }

  def next(stream: Int, current: Long, available: Long): Long = synchronized {
    if (System.nanoTime() >= deadlineNs && limit > issued) limit = math.max(issued, current)
    val slowest = if (cursors.size < expected) 0L else cursors.values.min
    val n = math.max(current,
      math.min(math.min(current + 1, slowest + 1), math.min(available, limit)))
    cursors(stream) = n
    issued = math.max(issued, n)
    n
  }

  /** Polls every query reads by the end of the measurement. */
  def polls: Long = synchronized(math.min(limit, issued))

  def recordFetch(f: Fetch): Unit = synchronized { fetches += f }

  def fetchLog: Seq[Fetch] = synchronized(fetches.toList)
}
