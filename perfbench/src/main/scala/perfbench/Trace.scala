package perfbench

import scala.collection.mutable

/** One traced interval. `key` names it, `parent` names the span that caused
  * it (listener spans name their parent by key, since their events arrive
  * after the fact). Times are epoch microseconds; `run` is the identifier
  * every span of one benchmark run shares. */
final case class Span(key: String, name: String, layer: String,
    startUs: Long, endUs: Long, parent: String, run: String = Span.run) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** In-memory span recorder. Disabled (the untraced measurement), it only
  * runs the bodies. Enabled, `span` records the call, nested under the
  * span open on the calling thread. */
final class Tracer {
  @volatile var enabled = false
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val key = s"s${ids.incrementAndGet()}"
      val parent = stack.get.headOption.getOrElse("")
      stack.set(key :: stack.get)
      val t0 = nowUs()
      try body
      finally {
        add(Span(key, name, layer, t0, nowUs(), parent))
        stack.set(stack.get.tail)
      }
    }

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per-layer self time in ms: each span's duration minus the part of it
    * its children cover. */
  def selfMsByLayer(): Map[String, Double] = {
    val mine = all
    val children = mine.groupBy(_.parent)
    mine.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfUs(s, children.getOrElse(s.key, Nil))).sum / 1000.0
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startUs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"key":"${s.key}","name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"parent":"${s.parent}","run":"${s.run}"}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Span {
  val run: String = java.util.UUID.randomUUID().toString
}

object Tracer {
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()

  /** Monotonic clock anchored to the epoch, so benchmark spans line up with
    * the millisecond timestamps in Spark's listener events. */
  def nowUs(): Long = originUs + (System.nanoTime() - originNs) / 1000L

  /** Duration of `s` minus the union of its children's intervals within it. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    s.durUs - covered
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** A finite JSON number with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
}
