package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Lifetime, Similarity}

/** Deterministic release of localCheckpoint blocks — the long-session
  * storage-hygiene contract: operators free their internal checkpoints as
  * soon as the sealed result exists; a session sweep frees results. Asserted via the persistent-RDD registry, which tracks every
  * checkpointed/persisted RDD until unpersist. */
class LifetimeSpec extends SparkSpec {
  import spark.implicits._

  private def registrySize: Int =
    spark.sparkContext.getPersistentRDDs.size

  /** The suite shares one session with every other suite; earlier
    * suites' dead checkpoints can be GC-collected (and async-cleaned out
    * of the registry) at any moment, which would shift a relative
    * baseline mid-test. Sweep to an ABSOLUTE empty registry first — then
    * the only registered RDDs are the ones this test creates and holds
    * strong references to, which the cleaner cannot touch. */
  private def sweptBaseline(): Int = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    assert(registrySize == 0)
    0
  }

  test("seal keeps only the result checkpoint alive") {
    val before = sweptBaseline()
    val mid = Seq(1, 2, 3, 4).toDF("x").localCheckpoint(true)
    val out = Lifetime.seal(mid.filter(col("x") > 2), mid)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    assert(registrySize == before + 1, "only the sealed result remains")
    Lifetime.sweep(spark)
    assert(registrySize == before)
  }

  test("seal leaves the checkpoints a derived intermediate reads alone") {
    // a loop's lazy seed (an aggregate over a caller's checkpoint) holds
    // no blocks of its own: sealing the next round past it must not free
    // the checkpoint it reads
    val before = sweptBaseline()
    val input = Seq(1, 2, 2, 3).toDF("x").localCheckpoint(true)
    val seed = input.groupBy("x").count()
    val out = Lifetime.seal(seed.filter(col("count") > 1), seed)
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(registrySize == before + 2, "the input and the result remain")
    assert(input.count() == 4, "the caller's checkpoint is still readable")
    Lifetime.sweep(spark)
  }

  test("Lifetime.scala is the only main source that calls localCheckpoint") {
    // one eager primitive: every materialization goes through seal, so
    // every eager stage is named and every superseded round is freed
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = for {
      f <- sources if f.getFileName.toString != "Lifetime.scala"
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim // comments excluded
      if !code.startsWith("*") && !code.startsWith("/*") &&
        code.contains(".localCheckpoint(")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("near-dup operators leave only their sealed result behind") {
    val docs = spark.read.parquet(sf("documents"))
    val before = sweptBaseline()
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.10)
    pairs.count()
    assert(registrySize == before + 1,
      s"minhash must free its internal pair/signature state " +
        s"(registry grew by ${registrySize - before})")
    Lifetime.sweep(spark)
    assert(registrySize == before)

    val prefix = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
      shingleWords = 3, threshold = 0.5)
    prefix.count()
    assert(registrySize == before + 1,
      s"prefix join must free its candidate checkpoint " +
        s"(registry grew by ${registrySize - before})")
    Lifetime.sweep(spark)
    assert(registrySize == before)
  }

  test("connected components frees every superseded round") {
    // A 64-node path graph forced down the distributed star rounds
    // (localEdgeThreshold = 0): every superseded per-round edge
    // checkpoint must be released; only the labels result survives.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sweptBaseline()
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(edges, localEdgeThreshold = 0)
    assert(labels.select("component").distinct().count() == 1)
    assert(rounds >= 2, "path graph must take multiple star rounds")
    assert(registrySize == before + 1,
      s"CC must free superseded rounds (registry grew by " +
        s"${registrySize - before} after $rounds rounds)")
    Lifetime.sweep(spark)
    assert(registrySize == before)
  }

  test("semantic-exact composition leaves only its sealed result") {
    val emb = spark.read.parquet(sf("embeddings"))
    val before = sweptBaseline()
    val pairs = Similarity.semanticNearDupPairsWithExact(
      emb, "vec_id", "embedding", threshold = 0.25,
      numCentroids = 16, refineRounds = 1,
      maxCell = 120, splitFanout = 4, maxDepth = 1)
    pairs.count()
    assert(registrySize == before + 1,
      s"semantic-exact must free class/rep/level checkpoints " +
        s"(registry grew by ${registrySize - before})")
    Lifetime.sweep(spark)
    assert(registrySize == before)
  }

  test("two consecutive runs do not grow block-manager storage") {
    val docs = spark.read.parquet(sf("documents"))
    def once(): Unit = {
      val r = Dedup.applyComponentDedup(docs, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleWords = 3, threshold = 0.10))
      r.count()
      // session-level sweep — what Bench does between queries
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    once()
    val after1 = registrySize
    once()
    assert(registrySize == after1,
      "a swept session must return to the same storage footprint")
    assert(after1 == 0, "sweep must empty the persistent-RDD registry")
  }
}
