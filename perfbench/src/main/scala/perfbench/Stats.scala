package perfbench

/** Order statistics as the benchmark reports them. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** A percentile is reported only when at least ten samples lie beyond
    * it; below that it says more about one outlier than about the tail. */
  def supported(n: Int, p: Double): Boolean = n - math.ceil(p * n).toInt >= 10

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Heap occupancy after explicit full collections: the live set the
  * workload holds, read at the start and at the end of a measurement. A
  * young collection's reading would also count garbage not yet collected,
  * and it lands wherever allocation happens to trigger it. */
object HeapTracker {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  @volatile private var peakBytes = 0L

  /** Two collections with a pause between them: the second frees what
    * the first handed to Spark's cleaner through reference queues. */
  private def live(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Starts a measurement from the current live set. */
  def reset(): Unit = synchronized { peakBytes = live() }

  /** The larger live set: at the start, or now. */
  def peakMb(): Double = synchronized {
    peakBytes = math.max(peakBytes, live())
    peakBytes / 1048576.0
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
