package graft.cli

import graft.queries.Dashboard
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink

/** Read-path CLI: render the reference dashboard's queries against a
  * fan-out sink directory. Usage:
  * {{{
  * runMain graft.cli.DashboardCli <baseDir> <sensorIndex> [interval] [startIso] [endIso]
  * }}}
  */
object DashboardCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DashboardCli <baseDir> <sensorIndex> [interval] [startIso] [endIso]")
    val baseDir = args(0)
    val sensor = args(1).toInt
    val interval = if (args.length > 2) args(2) else "1 hour"
    val start = if (args.length > 3) args(3) else "1970-01-01 00:00:00"
    val end = if (args.length > 4) args(4) else "2100-01-01 00:00:00"

    val spark = graft.EngineDefaults
      .builder("purpleair-dashboard", graft.EngineDefaults.cpus(),
        master = Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val station = FanOutSink.readTable(spark, baseDir, FieldCatalog.Groups.Station)
    println("== sensor directory (templating variable)")
    Dashboard.sensorDirectory(station).show(50, false)

    Dashboard.allPanels(spark, baseDir, interval, sensor, start, end)
      .toSeq.sortBy(_._1).foreach { case (group, df) =>
        println(s"== panel: $group")
        df.show(5, false)
      }
    spark.stop()
  }
}
