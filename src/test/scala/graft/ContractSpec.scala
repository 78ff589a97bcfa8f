package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.queries.TimeSeries
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink
import graft.transform.Transforms

/** Contract locks: reference-exact CSV headers, geo bbox semantics, and a
  * property check that conform is total over arbitrary field subsets. */
class ContractSpec extends SparkSpec {

  test("driver entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("CSV sink headers match the reference's column order exactly") {
    val payload = spark.read.option("multiLine", true)
      .json(Payloads.dualChannelFullEnv)
    val base = java.nio.file.Files.createTempDirectory("graft_csvh").toString
    FanOutSink.writeBatch(
      Transforms.conform(Transforms.flattenSingle(payload)), base, format = "csv")
    // reference header for environmental_fields
    // (PurpleAirCSVDataLoggerConstants.py:46-56): key pair + group cols
    val expectedEnv = "data_time_stamp,sensor_index,humidity,humidity_a," +
      "humidity_b,temperature,temperature_a,temperature_b,pressure," +
      "pressure_a,pressure_b"
    val dateDir = new java.io.File(s"$base/environmental_fields")
      .listFiles().filter(_.getName.startsWith("date=")).head
    val csv = dateDir.listFiles().filter(_.getName.endsWith(".csv")).head
    val header = scala.io.Source.fromFile(csv).getLines().next()
    assert(header == expectedEnv)
    // and the general rule for every group: key pair + catalog order
    FieldCatalog.Groups.all.foreach { g =>
      val expected = (FieldCatalog.keyCols ++ FieldCatalog.groupCols(g))
      assert(FieldCatalog.groupSchema(g).fieldNames.toSeq == expected, g)
    }
  }

  test("geo bounding box keeps exactly the box, pushes to the scan") {
    import spark.implicits._
    val pts = Seq(
      (1L, 46.7, -117.0), // inside
      (2L, 50.0, -117.0), // north of box
      (3L, 46.7, -100.0), // east of box
      (4L, 40.0, -120.0)  // south-west corner outside
    ).toDF("id", "latitude", "longitude")
    val boxed = TimeSeries.geoBoundingBox(pts, "latitude", "longitude",
      nwLat = 48.0, nwLng = -118.0, seLat = 45.0, seLng = -116.0)
    assert(boxed.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("property: conform is total and 117-wide for any field subset") {
    import scala.jdk.CollectionConverters._
    val apiNames = FieldCatalog.fields.map(_.apiName)
    val gen = Gen.someOf(apiNames)
    val prop = Prop.forAll(gen) { subset =>
      val cols = Seq("data_time_stamp", "sensor_index") ++ subset
      val row = org.apache.spark.sql.Row.fromSeq(
        Seq(1700000000L, 7L) ++ subset.map(_ => "1"))
      val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          if (c == "data_time_stamp" || c == "sensor_index")
            org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.StringType)))
      val df = spark.createDataFrame(List(row).asJava, schema)
      val out = Transforms.conform(df)
      out.columns.length == 117 && out.count() == 1
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }
}
