package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/sf0.001/$name.parquet"

  /** Runs `body` with broadcast joins disabled, both at planning and in
    * AQE's runtime re-planning, so every unhinted join shuffles. For
    * checking that a join's shuffle arm returns the same rows. */
  def withoutBroadcast[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body`, then collects `keep` over the (action name, query
    * execution) of every query it finished, until `enough` holds or 30 s
    * pass — listener events arrive asynchronously. For asserting on a
    * plan an operator executes but does not return. */
  def finishedExecutions[A](keep: PartialFunction[(String, QueryExecution), A])(
      enough: Seq[A] => Boolean)(body: => Unit): Seq[A] = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[A]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        keep.lift((funcName, qe)).foreach(seen.add)
      def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!enough(seen.asScala.toSeq) && System.nanoTime() < deadline)
        Thread.sleep(50)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Waits until `q`'s first trigger has run and committed. A poll source
    * hands one trigger every payload its rate limit allows, so that
    * trigger takes them all; `processAllAvailable` would also wait for
    * the next, empty trigger, up to one 65 s interval later. */
  def awaitFirstTrigger(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (q.lastProgress == null) {
      q.exception.foreach(e => throw e)
      assert(q.isActive && System.nanoTime() < deadline, "no trigger finished")
      Thread.sleep(20)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    // EngineDefaults matters here for WALL-CLOCK: without the codegen
    // cache sized to the inventory, a 690-test run re-Janino-compiles
    // every plan (the round-13 bench bottleneck) — the r13 driver-side
    // `sbt test` DNF'd on time with the default 100-entry cache.
    val s = EngineDefaults.builder("graft-test", 4)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
