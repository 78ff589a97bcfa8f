package graft

class MainsSpec extends SparkSpec {
  test("the shared builder's session carries the engine conf") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.sinks.ForkFreeLocalFileSystem].getName)
  }

  test("Verify refuses a wrong argument count with its usage") {
    Seq(Array("only-one"), Array("a", "b", "c", "d")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.contains(Verify.Usage))
    }
  }
}
