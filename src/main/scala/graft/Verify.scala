package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: Verify <sfDir> <outDir> [query1,query2,...]"

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev-side subset
    // runs (check_oracle.py compares only the dirs present); the driver
    // always passes 2 args and gets the full registry.
    require(args.length == 2 || args.length == 3, Usage)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = EngineDefaults.builder("graft-verify", EngineDefaults.cpus(4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // LOUD failure: absence of an output dir silently shrinks the
        // driver's correctness denominator (r8: 10 broken queries simply
        // vanished from CORRECTNESS). Write a one-row parquet whose
        // schema can never match any oracle, so the compare surfaces an
        // explicit mismatch entry under this query's name — and record
        // the message in _errors.json for the human reader.
        failures(name) = String.valueOf(e.getMessage)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(String.valueOf(e.getMessage)).toDF("__query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // free sealed results between queries (the Bench sweep discipline)
      graft.operators.Lifetime.sweep(spark)
      System.gc() // release dead shuffle/broadcast state (see Bench.sweep)
    }
    // Jackson escapes every control character, so a tab or CR inside an
    // oracle query still parses; an unreadable oracle_sql.json would
    // silently zero the correctness compare.
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      json.writeValueAsString(failures))
    // Exit 0 even on per-query failure (the driver must still run the
    // DuckDB compare over the good queries) — the loudness is the
    // never-matching __query_error parquet + _errors.json + this line.
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
