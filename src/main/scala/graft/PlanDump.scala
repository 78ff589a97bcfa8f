package graft

import org.apache.spark.sql.SparkSession

/** Dev diagnostic: dump `.explain("formatted")` for a list of registered
  * queries into `<outDir>/<query>_<tag>.txt` — the plan-evidence files
  * the optimization rounds commit under `plans/rNN/`. One JVM for the
  * whole list (operators that materialize eagerly still execute, so this
  * costs roughly one bench pass over the chosen queries). NOT part of
  * the driver contract.
  *
  * `runMain graft.PlanDump <outDir> <tag> <query1> [query2 ...]`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val qe = df.queryExecution
          // formatted physical plan (the committed evidence); for
          // operators whose result is a localCheckpoint the interesting
          // plan is upstream, so the optimized logical plan rides along
          qe.explainString(org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")) +
            "\n=== optimized logical ===\n" + qe.optimizedPlan.toString
        } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote ${name}_$tag.txt")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
