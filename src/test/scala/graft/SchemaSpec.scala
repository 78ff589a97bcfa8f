package graft

import org.apache.spark.sql.types.StructType

/** The declared table schemas `SparkEntry` reads with must equal the ones
  * Spark infers from the files, so a testdata refresh that changes a
  * column fails here instead of being read under a stale type. */
class SchemaSpec extends SparkSpec {
  test("every testdata table's declared schema equals the inferred one") {
    val dir = new java.io.File(sf("documents")).getParentFile
    val tables = dir.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    assert(tables == SparkEntry.TableSchemas.keySet)
    tables.foreach { t =>
      val inferred = spark.read.parquet(sf(t)).schema
      assert(StructType.fromDDL(SparkEntry.TableSchemas(t)) == inferred,
        s"$t: declared ${SparkEntry.TableSchemas(t)} vs inferred ${inferred.toDDL}")
    }
  }
}
