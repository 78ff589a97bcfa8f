package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The verification the incremental-index and hierarchical-split
  * docstrings promise: append ≡ rebuild equality, the no-old-scan
  * property (the appended batch is indexed without the already-indexed
  * corpus data even EXISTING), hierarchicalCells leaf-size/partition/
  * split-equality, and the ivfTopK2 fine table's no-broadcast plan. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // Same 4-vector fixture as SimilaritySpec: with numCentroids = 2 the
  // md5_60 order selects centroids {1, 2} — both inside {0, 1, 2}, so a
  // prefix build over {0, 1, 2} freezes the exact centroids a full build
  // would select (the append≡rebuild precondition the docstring states).
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Delete every data file under `dir` (keep the directory) — after
    * this, any code path that reads the old table's CONTENT either fails
    * or visibly changes its output. */
  private def gutDir(dir: String): Unit = {
    val d = new java.io.File(dir)
    assert(d.isDirectory, s"$dir is not a directory")
    d.listFiles().filter(_.isFile).foreach(f => assert(f.delete()))
  }

  test("appendToLshIndex: append(build(prefix), rest) == build(full) bit-for-bit") {
    val prefix = vecs.filter(col("vec_id") < 2)
    val rest = vecs.filter(col("vec_id") >= 2)
    val dirA = tmp("lsh_inc")
    val dirB = tmp("lsh_full")
    Similarity.writeLshIndex(prefix, "vec_id", "embedding", dirA,
      planes = 4, tables = 2)
    val appended =
      Similarity.appendToLshIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writeLshIndex(vecs, "vec_id", "embedding", dirB,
      planes = 4, tables = 2)
    assert(sameRows(appended.vectors, full.vectors), "vectors differ")
    assert(sameRows(appended.buckets, full.buckets), "buckets differ")
    assert(appended.planes == full.planes && appended.tables == full.tables)
  }

  test("appendToLshIndex: O(batch) — old vectors/buckets data not even needed") {
    // The no-old-scan property, asserted behaviorally: after gutting the
    // already-indexed data (params/ kept — it IS the index's quantizer
    // config), the append must still succeed and must index exactly the
    // batch, with the same signatures a full build would give those ids.
    // Any regression that rescans or re-derives from the old corpus
    // either crashes here or changes the output.
    val prefix = vecs.filter(col("vec_id") < 2)
    val rest = vecs.filter(col("vec_id") >= 2)
    val dirA = tmp("lsh_gut")
    val dirB = tmp("lsh_gut_full")
    Similarity.writeLshIndex(prefix, "vec_id", "embedding", dirA,
      planes = 4, tables = 2)
    gutDir(s"$dirA/vectors")
    gutDir(s"$dirA/buckets")
    val appended =
      Similarity.appendToLshIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writeLshIndex(vecs, "vec_id", "embedding", dirB,
      planes = 4, tables = 2)
    assert(sameRows(appended.vectors,
      full.vectors.filter(col("corpus_id") >= 2)), "batch vectors differ")
    assert(sameRows(appended.buckets,
      full.buckets.filter(col("corpus_id") >= 2)), "batch buckets differ")
  }

  test("appendToIvfIndex: append == build(full) when the frozen seeds match") {
    // refineRounds = 0 and seeds {1, 2} ⊆ prefix {0, 1, 2}: the prefix
    // build and the full build select identical centroids, so appending
    // {3} must reproduce the full build's cell table exactly.
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)
    val dirA = tmp("ivf_inc")
    val dirB = tmp("ivf_full")
    Similarity.writeIvfIndex(prefix, "vec_id", "embedding", dirA,
      numCentroids = 2, refineRounds = 0)
    val appended =
      Similarity.appendToIvfIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dirB,
      numCentroids = 2, refineRounds = 0)
    assert(sameRows(appended.centroids, full.centroids), "centroids differ")
    assert(sameRows(appended.cells, full.cells), "cells differ")
  }

  test("appendToIvfIndex: O(batch·K) — old cell data not even needed") {
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)
    val dirA = tmp("ivf_gut")
    val dirB = tmp("ivf_gut_full")
    Similarity.writeIvfIndex(prefix, "vec_id", "embedding", dirA,
      numCentroids = 2, refineRounds = 0)
    gutDir(s"$dirA/cells") // centroids/ stays: it is the frozen quantizer
    val appended =
      Similarity.appendToIvfIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dirB,
      numCentroids = 2, refineRounds = 0)
    assert(sameRows(appended.cells,
      full.cells.filter(col("corpus_id") === 3)), "batch cells differ")
  }

  test("writePqIndex/probePq == one-shot pqTopK; append == build(full)") {
    // seeds for numCodes = 2 are {1, 2} ⊆ prefix {0, 1, 2}: the frozen
    // codebook equals the full build's, so append ≡ rebuild exactly
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)
    val q = vecs.filter(col("vec_id") === 0L)
    val dirA = tmp("pq_inc")
    val dirB = tmp("pq_full")
    Similarity.writePqIndex(prefix, "vec_id", "embedding", dirA,
      numSubspaces = 2, numCodes = 2)
    val appended =
      Similarity.appendToPqIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writePqIndex(vecs, "vec_id", "embedding", dirB,
      numSubspaces = 2, numCodes = 2)
    assert(sameRows(appended.codebook, full.codebook), "codebooks differ")
    assert(sameRows(appended.codes, full.codes), "code tables differ")
    // probe of the appended index == the one-shot operator over everything
    def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val probe = Similarity.probePq(appended, q, "vec_id", "embedding", k = 4)
    assert(rows(probe) == rows(Similarity.pqTopK(q, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 4, numSubspaces = 2, numCodes = 2)))
    // the probe plan reads only the index tables, never the corpus
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq"), s"probe plan misses the index:\n$plan")
  }

  test("appendToPqIndex: O(batch·K·M) — old code data not even needed") {
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)
    val dirA = tmp("pq_gut")
    val dirB = tmp("pq_gut_full")
    Similarity.writePqIndex(prefix, "vec_id", "embedding", dirA,
      numSubspaces = 2, numCodes = 2)
    gutDir(s"$dirA/codes") // codebook/ stays: it is the frozen quantizer
    val appended =
      Similarity.appendToPqIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writePqIndex(vecs, "vec_id", "embedding", dirB,
      numSubspaces = 2, numCodes = 2)
    assert(sameRows(appended.codes,
      full.codes.filter(col("corpus_id") === 3)), "batch codes differ")
  }

  test("writeIvfPqIndex/probeIvfPq == one-shot residual IVFADC; append == build") {
    // IVF seeds {1, 2} and PQ seeds {1, 2} both inside prefix {0, 1, 2}
    // with refineRounds = 0: both frozen quantizers equal the full
    // build's, so append ≡ rebuild and probe ≡ one-shot exactly.
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)
    val q = vecs.filter(col("vec_id") === 0L)
    val dirA = tmp("ivfpq_inc")
    val dirB = tmp("ivfpq_full")
    Similarity.writeIvfPqIndex(prefix, "vec_id", "embedding", dirA,
      numCentroids = 2, refineRounds = 0, numSubspaces = 2, numCodes = 2)
    val appended =
      Similarity.appendToIvfPqIndex(spark, dirA, rest, "vec_id", "embedding")
    val full = Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", dirB,
      numCentroids = 2, refineRounds = 0, numSubspaces = 2, numCodes = 2)
    assert(sameRows(appended.centroids, full.centroids), "centroids differ")
    assert(sameRows(appended.codebook, full.codebook), "codebooks differ")
    assert(sameRows(appended.codes, full.codes), "code tables differ")
    def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val probe = Similarity.probeIvfPq(appended, q, "vec_id", "embedding",
      k = 4, nprobe = 1)
    assert(rows(probe) == rows(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", vecs, "vec_id", "embedding", k = 4,
      numCentroids = 2, refineRounds = 0, nprobe = 1,
      numSubspaces = 2, numCodes = 2, residual = true)),
      "probe != one-shot residual IVFADC")
    // IVFADC+R over the persisted index: the rerank tail reads original
    // vectors from the corpus frame (the index stores only codes), and
    // must equal the one-shot rerank exactly
    val probeRr = Similarity.probeIvfPqRerank(full, q, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 2, rerank = 4, nprobe = 1)
    assert(rows(probeRr) == rows(Similarity.ivfPqTopKRerank(
      q, "vec_id", "embedding", vecs, "vec_id", "embedding",
      k = 2, rerank = 4, numCentroids = 2, refineRounds = 0, nprobe = 1,
      numSubspaces = 2, numCodes = 2, residual = true)),
      "persisted-index rerank != one-shot rerank")
    // no-old-scan: gut codes/, append again under a fresh marker — the
    // appended rows must equal the full build's batch slice
    gutDir(s"$dirA/codes")
    val appended2 =
      Similarity.appendToIvfPqIndex(spark, dirA, rest, "vec_id", "embedding")
    assert(sameRows(appended2.codes,
      full.codes.filter(col("corpus_id") === 3)), "batch codes differ")
  }

  // 64 distinct vectors in 4 tight direction groups of 16: with
  // numCentroids = 2 every level-0 cell holds ~32 > maxCell = 10 members,
  // so the output is produced ENTIRELY through the hierarchical split
  // path — the r5 done-criterion (n/K > maxCell ⇒ non-empty output equal
  // to the direct in-cell computation).
  private def grouped = (0 until 64).map { i =>
    val g = i % 4
    val base = Array.fill(4)(0.0f)
    base(g) = 1.0f
    base((g + 1) % 4) = 0.001f * (i / 4 + 1)
    (i.toLong, base)
  }.toDF("vec_id", "embedding")

  test("hierarchicalCells: leaves <= maxCell, corpus partitioned, pairs == direct") {
    graft.functions.GraftFunctions.register(spark)
    val V = graft.functions.VectorFunctions
    val leaves = Similarity.hierarchicalCells(grouped, "vec_id", "embedding",
      numCentroids = 2, refineRounds = 1, maxCell = 10, splitFanout = 4,
      maxDepth = 8)
    // every vector lands in exactly one leaf, every leaf <= maxCell —
    // nothing was dropped, so the split genuinely replaced dropping
    val sizes = leaves.groupBy("cell").count().collect().map(_.getLong(1))
    assert(sizes.sum == 64 && leaves.select("corpus_id").distinct().count() == 64)
    assert(sizes.forall(_ <= 10), s"over-full leaf survived: ${sizes.toSeq}")
    // at least one split happened (a path key contains '/')
    assert(leaves.filter(col("cell").contains("/")).count() > 0)

    // split-equality: the operator's pairs == a direct self-join within
    // the SAME leaves using the same exact quantized arithmetic
    val a = leaves.select(col("cell"), col("corpus_id").as("id_a"),
      col("cq").as("qa"))
    val b = leaves.select(col("cell"), col("corpus_id").as("id_b"),
      col("cq").as("qb"))
    val direct = a.join(b, "cell").filter(col("id_a") < col("id_b"))
      .withColumn("cosine", V.dotQ12(col("qa"), col("qb")) /
        (V.normQ12(col("qa")) * V.normQ12(col("qb"))))
      .filter(col("cosine") >= 0.9)
      .select("id_a", "id_b", "cosine")
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val out = Similarity.semanticNearDupPairs(grouped, "vec_id", "embedding",
      threshold = 0.9, numCentroids = 2, refineRounds = 1, maxCell = 10,
      splitFanout = 4, maxDepth = 8)
    val expected = rows(direct)
    assert(expected.nonEmpty, "fixture produced no pairs; spec vacuous")
    assert(rows(out) == expected)
    // determinism: a second run is bit-identical
    val again = Similarity.semanticNearDupPairs(grouped, "vec_id", "embedding",
      threshold = 0.9, numCentroids = 2, refineRounds = 1, maxCell = 10,
      splitFanout = 4, maxDepth = 8)
    assert(rows(again) == rows(out))
    // the non-broadcast arm of the over-full-key anti/semi joins
    // partitions identically
    val unhinted = withoutBroadcast(Similarity.hierarchicalCells(grouped,
        "vec_id", "embedding", numCentroids = 2, refineRounds = 1,
        maxCell = 10, splitFanout = 4, maxDepth = 8)
      .select("corpus_id", "cell").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
    val hinted = leaves.select("corpus_id", "cell").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(unhinted == hinted, "non-broadcast arm changed the leaf layout")
  }

  test("semanticNearDupPairsWithExact: a > maxCell duplicate class fully dedups") {
    import graft.operators.Dedup
    // 30 identical copies of one vector (> maxCell = 10: no quantizer can
    // separate them, so the bare split path bottoms out and drops them)
    // plus a near-parallel neighbor and two orthogonal singletons.
    val rows = (0L until 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f))) ++
      Seq((30L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
        (31L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
        (32L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    def pairs(f: => DataFrame): Set[(Long, Long)] =
      f.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the documented degenerate case is real: without the exact arm the
    // duplicate class leaves NO pairs behind (cell dropped at maxDepth)
    val bare = pairs(Similarity.semanticNearDupPairs(
      df, "vec_id", "embedding", threshold = 0.9, numCentroids = 2,
      refineRounds = 1, maxCell = 10, splitFanout = 4, maxDepth = 2))
    assert(bare.forall { case (a, b) => a >= 30L || b >= 30L },
      s"expected the 30-copy class to be dropped by the bare path, got $bare")
    // the composed operator pairs every copy with keeper 0 directly and
    // still finds the semantic neighbor among representatives
    val composed = Similarity.semanticNearDupPairsWithExact(
      df, "vec_id", "embedding", threshold = 0.9, numCentroids = 2,
      refineRounds = 1, maxCell = 10, splitFanout = 4, maxDepth = 2)
    val p = pairs(composed)
    assert((1L until 30L).forall(i => p.contains((0L, i))),
      s"exact arm missed duplicate members: $p")
    assert(p.contains((0L, 30L)), s"semantic arm lost the near pair: $p")
    // end to end: components + apply leave ONE survivor of the class
    val kept = Dedup.applyComponentDedup(df, "vec_id",
        composed.select("id_a", "id_b"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 31L, 32L), s"survivors: $kept")
  }

  test("ivfTopK2 fine table: no-broadcast arm, same rows") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // AQE off so the executed plan shows exactly what the operator asked
    // for: the hinted coarse broadcast stays, and the unhinted fine table
    // must shuffle once auto-broadcast is off.
    val conf = spark.conf
    val savedAqe = conf.get("spark.sql.adaptive.enabled", "true")
    def fineBroadcasts(df: DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case bx: BroadcastExchangeExec
          if bx.output.exists(_.name == "fineq") => bx
      }.size
    }
    def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      def run(): DataFrame = Similarity.ivfTopK2(
        vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 2,
        numCentroids = 2, numCoarse = 1, nprobe = 1, cprobe = 1)
      val broadcastArm = run()
      val (shuffledBroadcasts, shuffledRows) = withoutBroadcast {
        val df = run()
        (fineBroadcasts(df), rows(df))
      }
      // control: with auto-broadcast on, the tiny fine table IS broadcast
      assert(fineBroadcasts(broadcastArm) > 0,
        "control lost its broadcast; the assertion below would be vacuous")
      assert(shuffledBroadcasts == 0,
        "fine table still broadcast with auto-broadcast off")
      assert(shuffledRows == rows(broadcastArm) && shuffledRows.nonEmpty,
        "shuffle arm changed the operator's results")
    } finally conf.set("spark.sql.adaptive.enabled", savedAqe)
  }
}
