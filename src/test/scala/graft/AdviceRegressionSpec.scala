package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Multimodal, Similarity}

/** Regression locks for advisory findings (four from round 7/8, fixed in
  * `df52734`; three more from round 10 at the bottom) — these specs pin
  * the fixes so they can't regress:
  *
  *  1. `pqRescale` must survive lookup-sums beyond DECIMAL(18,0)'s 18
  *     digits (a unit-scale embedding never gets near it, but a raw
  *     large-magnitude feature column does — quantize6 makes each
  *     per-dim product ~(v·10⁶)², so |v| ≈ 1000 already crosses 10¹⁸).
  *  2. `probePq`/`probeIvfPq` must tolerate duplicate code rows from an
  *     at-least-once append replay (crash between the codes write and
  *     the marker) — candidates dedup before top-k.
  *  3. `decontaminateBatch` must REFUSE a non-numeric id column loudly —
  *     the LONG-cast anti-join would otherwise null out and silently
  *     disable the contamination filter.
  *  4. WAV sniff/decode gate parity: `sniff` must not claim metadata for
  *     containers `wavFeatures` refuses (non-PCM, non-16-bit).
  */
class AdviceRegressionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  test("pqRescale: scores past DECIMAL(18,0) range stay exact, never null") {
    // |v| = 1000 per dim, 4 dims: the self-score lookup-sum is
    // 4·(1000·10⁶)² = 4·10¹⁸ — over DECIMAL(18,0)'s max (≈10¹⁸−1),
    // under Long.MaxValue (≈9.2·10¹⁸). With the old (18,0) cast this
    // nulls (or throws under ANSI); with (20,0) it must surface the
    // exact dot product 4·10⁶.
    val big = Seq(
      (0L, Array(1000.0f, 1000.0f, 1000.0f, 1000.0f)),
      (1L, Array(-1000.0f, 1000.0f, -1000.0f, 1000.0f)),
      (2L, Array(1000.0f, -1000.0f, 1000.0f, -1000.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(big.filter(col("vec_id") === 0L), "vec_id",
        "embedding", big, "vec_id", "embedding", k = 3,
        numSubspaces = 2, numCodes = 3)
      .collect().map(r => (r.getLong(1), r.get(2))).toMap
    assert(out.values.forall(_ != null), s"null score leaked: $out")
    // numCodes = corpus size → every vector is its own code: ADC scores
    // are the exact dot products (q·q = 4e6; the ±alternating vectors
    // cancel to 0 against the all-positive query)
    assert(out(0L) == 4.0e6, out)
    assert(out(1L) == 0.0 && out(2L) == 0.0, out)
  }

  test("probePq/probeIvfPq: duplicate code rows from a replayed append " +
      "do not duplicate top-k candidates") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val prefix = vecs.filter(col("vec_id") < 3)
    val rest = vecs.filter(col("vec_id") === 3)

    def assertClean(probed: DataFrame): Unit = {
      val rows = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length,
        s"duplicate (query, corpus) rows in top-k: ${rows.toSeq}")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"ranks not dense: ${rows.toSeq}")
      assert(rows.length == 4, s"expected full k=4: ${rows.toSeq}")
    }

    // PQ: append the same batch twice — the crash-window replay shape —
    // so codes/ holds bit-identical duplicate rows for vec_id 3
    val pqDir = tmp("pq_replay")
    Similarity.writePqIndex(prefix, "vec_id", "embedding", pqDir,
      numSubspaces = 2, numCodes = 2)
    Similarity.appendToPqIndex(spark, pqDir, rest, "vec_id", "embedding")
    val pqDup =
      Similarity.appendToPqIndex(spark, pqDir, rest, "vec_id", "embedding")
    assert(pqDup.codes.filter(col("corpus_id") === 3L).count() == 2,
      "fixture failed to create duplicate code rows")
    assertClean(Similarity.probePq(pqDup, q, "vec_id", "embedding", k = 4))

    // IVF-PQ: same replay shape
    val ivfDir = tmp("ivfpq_replay")
    Similarity.writeIvfPqIndex(prefix, "vec_id", "embedding", ivfDir,
      numCentroids = 2, numSubspaces = 2, numCodes = 2, refineRounds = 0)
    Similarity.appendToIvfPqIndex(spark, ivfDir, rest, "vec_id", "embedding")
    val ivfDup =
      Similarity.appendToIvfPqIndex(spark, ivfDir, rest, "vec_id", "embedding")
    assert(ivfDup.codes.filter(col("corpus_id") === 3L).count() == 2,
      "fixture failed to create duplicate code rows")
    assertClean(Similarity.probeIvfPq(ivfDup, q, "vec_id", "embedding",
      k = 4, nprobe = 2))
  }

  test("decontaminateBatch refuses non-numeric id columns loudly") {
    val evalCorpus = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val batch = Seq(("doc-a", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Curation.decontaminateBatch(batch, 0L, evalCorpus, "id", "text",
        "doc_id", "text", tmp("decon_str"), shingleWords = 3, minShared = 1L)
    }
    assert(ex.getMessage.contains("numeric id column"), ex.getMessage)
    assert(ex.getMessage.contains("doc_id"), ex.getMessage)
  }

  test("WAV sniff refuses exactly what the decoder refuses (gate parity)") {
    import Multimodal.MediaCodec
    def le16(v: Int): Seq[Byte] = Seq(v, v >> 8).map(_.toByte)
    def le32(v: Int): Seq[Byte] = Seq(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    def wav(fmt: Int, bits: Int): Array[Byte] =
      ("RIFF".getBytes.toSeq ++ le32(36 + 8) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(fmt) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(bits) ++
        "data".getBytes ++ le32(8) ++
        Seq(16384, -16384, 0, 32767).flatMap(le16)).toArray
    // good 16-bit PCM: both sides accept, duration from data/byteRate
    val good = wav(fmt = 1, bits = 16)
    assert(MediaCodec.decode(good, 2).toSeq == Seq(0.5, 32767.0 / 65536.0))
    assert(MediaCodec.sniff(good).exists(s =>
      s.mime == "audio/wav" && s.durationMs.contains(8L * 1000 / 16000)))
    // IEEE-float (fmt 3) and 8-bit PCM: decoder stubs out — sniff must
    // return None, not claim audio/wav metadata it can't decode
    Seq(wav(fmt = 3, bits = 16), wav(fmt = 1, bits = 8)).foreach { bad =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(bad); md.update("0".getBytes)
      val d = md.digest()
      var h = 0L
      (0 until 8).foreach(i => h = (h << 8) | (d(i) & 0xffL))
      val stub0 = (h >>> 4).toDouble / (1L << 60).toDouble
      assert(MediaCodec.decode(bad, 1).toSeq == Seq(stub0),
        "decoder must fall back to the md5 stub")
      assert(MediaCodec.sniff(bad).isEmpty,
        "sniff must not claim metadata the decoder refuses")
    }
  }

  // ---- round-10 advisories -------------------------------------------

  test("spearmanCorr: null x/y rows are pairwise-deleted, not counted") {
    val clean = Seq((1L, 10L), (2L, 20L), (3L, 15L), (4L, 40L))
      .toDF("x", "y")
    val dirty = clean.unionAll(Seq(
        (Option.empty[Long], Option(99L)),
        (Option(99L), Option.empty[Long]),
        (Option.empty[Long], Option.empty[Long]))
      .toDF("x", "y"))
    val a = graft.operators.Stats.spearmanCorr(clean, "x", "y").collect()(0)
    val b = graft.operators.Stats.spearmanCorr(dirty, "x", "y").collect()(0)
    // identical n, sums, AND rho — a null row must not inflate n_tot or
    // shift the distinct-value ranks
    assert(a == b, s"null rows changed the statistic: $a vs $b")
    assert(a.getAs[Long]("n_rows") == 4L)
  }

  test("mutualInformation: null x/y rows are dropped before n") {
    val clean = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L))
      .toDF("x", "y")
    val dirty = clean.unionAll(Seq(
        (Option.empty[String], Option(1L)),
        (Option("a"), Option.empty[Long]))
      .toDF("x", "y"))
    val a = queries.Warehouse.mutualInformation(clean, "x", "y").collect()(0)
    val b = queries.Warehouse.mutualInformation(dirty, "x", "y").collect()(0)
    assert(a == b, s"null rows changed MI: $a vs $b")
    assert(a.getAs[Long]("n_rows") == 4L)
  }

  test("pageRankTop/personalizedPageRankTop release their caches and " +
      "refuse empty edge lists") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Graph.pageRankTop(edges, iterations = 2, topK = 3).count() == 3L)
    assert(Graph.personalizedPageRankTop(edges,
      Seq(1L).toDF("node"), iterations = 2, topK = 3).count() == 3L)
    // each call eagerly localCheckpoints its RESULT (alive as long as
    // the returned frame is — not a leak); the 7 intermediate caches
    // (edges, degree-joined edges, nodes, seeds) must all be released
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2, s"persisted RDDs leaked: $leaked")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRankTop(edges.limit(0), iterations = 1, topK = 1)
    }
    assert(ex.getMessage.contains("empty edge list"), ex.getMessage)
  }

  // ---- round-11 advice fixes ----

  test("ivfRecallSweep: leave-one-out on both arms — a corpus-member " +
      "query's own row never pads truth or candidates") {
    // 8 corpus vectors, queries = the corpus: with self-inclusion the
    // old sweep counted 8·8 candidates at full probe and every query's
    // rank-1 "hit" was itself; leave-one-out counts 8·7 and recall is
    // still exactly 10^6 (truth excludes self too)
    val vecs = (0L until 8L).map(i =>
        (i, Array((i % 3).toFloat, (i % 5).toFloat, 1.0f, 0.1f * i)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.ivfRecallSweep(vecs, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 2, numCentroids = 2,
        refineRounds = 1, nprobes = Seq(2))
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_candidates") == 8L * 7L,
      s"self rows leaked into candidates: ${rows.head}")
    assert(rows.head.getAs[Long]("recall_ppm") == 1000000L, rows.head)
  }

  test("adamicAdarTopK/clusteringCoefficientBands: no-broadcast arm, same rows") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
        (3L, 2L), (3L, 4L), (4L, 3L), (4L, 1L), (1L, 4L))
      .toDF("src", "dst")
    def strs(df: => DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // the shuffle arm of the middleman join must be byte-identical
    assert(withoutBroadcast(strs(Graph.adamicAdarTopK(edges))) ==
      strs(Graph.adamicAdarTopK(edges)))
    assert(withoutBroadcast(strs(Graph.clusteringCoefficientBands(edges))) ==
      strs(Graph.clusteringCoefficientBands(edges)))
  }

  test("buildIvfIndex: numCentroids = 0 auto-sizes K to max(16, floor " +
      "sqrt n) — the fixed-K candidate blowup guard") {
    val vecs = (0L until 500L).map(i =>
        (i, Array((i % 7).toFloat, (i % 11).toFloat, 1.0f, 0.01f * i)))
      .toDF("vec_id", "embedding")
    assert(Similarity.resolveCentroids(vecs, 0) == 22) // floor(sqrt(500))
    assert(Similarity.resolveCentroids(vecs, 5) == 5)  // explicit wins
    assert(Similarity.resolveCentroids(vecs.limit(10), 0) == 16) // floor
    val idx = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      numCentroids = 0, refineRounds = 1)
    assert(idx.centroids.count() == 22L)
    assert(idx.cells.count() == 500L)
  }

  // ---- round-12 advice fixes ----

  test("ivfTopK2: 0 sentinel, no-broadcast arm, same rows") {
    val vecs = (0L until 500L).map(i =>
        (i, Array((i % 7).toFloat, (i % 11).toFloat, 1.0f, 0.01f * i)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    // the sentinel resolves to K = 22; the fine table carries no hint, so
    // with auto-broadcast off it shuffles — and returns the same rows
    def rows() = Similarity.ivfTopK2(q, "vec_id", "embedding", vecs,
        "vec_id", "embedding", k = 3, numCentroids = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val broadcastArm = rows()
    assert(broadcastArm.nonEmpty)
    assert(withoutBroadcast(rows()) == broadcastArm)
  }

  test("anchorSample: non-numeric ids refused loudly; null ids can " +
      "never occupy anchor slots") {
    val ex = intercept[IllegalArgumentException] {
      Similarity.anchorSample(
        Seq(("a", 1), ("b", 2)).toDF("doc_id", "x"), "doc_id", 1)
    }
    assert(ex.getMessage.contains("must be numeric"), ex.getMessage)
    // nullable ids: the hash of a NULL id is NULL — nulls-last ordering
    // keeps every budget slot for hashed rows
    val withNulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq[(java.lang.Long, Int)](
        (1L, 0), (null, 0), (2L, 0), (null, 0), (3L, 0), (4L, 0))
        .map { case (id, x) => org.apache.spark.sql.Row(id, x) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    val anchors = Similarity.anchorSample(withNulls, "id", 4)
      .collect().map(_.get(0))
    assert(anchors.length == 4 && anchors.forall(_ != null),
      s"null ids seated in anchor slots: ${anchors.toSeq}")
  }

  test("kmeansSummary/silhouetteSummary: the ANN 0 sentinel is refused " +
      "with a caller-facing message, not an internal error") {
    val vecs = (0L until 20L).map(i =>
        (i, Array((i % 3).toFloat, 1.0f))).toDF("vec_id", "embedding")
    val exK = intercept[IllegalArgumentException] {
      Similarity.kmeansSummary(vecs, "vec_id", "embedding", k = 0)
    }
    assert(exK.getMessage.contains("auto-size sentinel"), exK.getMessage)
    val exS = intercept[IllegalArgumentException] {
      Similarity.silhouetteSummary(vecs, "vec_id", "embedding", k = 0)
    }
    assert(exS.getMessage.contains("auto-size sentinel"), exS.getMessage)
  }

  test("prefix-filter saturation guard: decisions at the ratio boundary " +
      "are exact, not HLL-estimate-dependent") {
    import graft.operators.Dedup
    // 40 docs, each one distinct 1-word shingle + one shared filler →
    // universe = 41 distinct over 40 docs. At minUniverseRatio = 1.0 the
    // bound is 40: 41 >= 40 must pass; at 1.05 the bound is 42: 41 < 42
    // must refuse. Both bounds sit inside the ±10% HLL band (rsd 0.02
    // at n=41), so both decisions exercise the exact adjudication path.
    val docs = (0 until 40).map(i => (i.toLong, s"w$i shared"))
      .toDF("id", "text")
    assert(Dedup.ngramJaccardPairsPrefix(docs, "id", "text",
      shingleWords = 1, threshold = 0.9,
      minUniverseRatio = 1.0).count() >= 0L)
    val ex = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(docs, "id", "text",
        shingleWords = 1, threshold = 0.9,
        minUniverseRatio = 1.05).count()
    }
    assert(ex.getMessage.contains("saturated shingle space"),
      ex.getMessage)
  }

  test("blockedEntityPairs: thresholded DP + length pre-filter keep " +
      "exact distances — length-far and over-threshold pairs drop") {
    import graft.operators.Dedup
    val d = Seq(
      (1L, "Acme", "US"),          // base
      (2L, "Acme Co", "US"),       // length diff 3 > 2: pre-filter kills
      (3L, "Acmes", "US"),         // lev 1, length diff 1
      (4L, "Acne", "US"),          // lev 1, length diff 0
      (5L, "Axxe", "US")           // lev 2 from Acme
    ).toDF("id", "name", "country")
    val out = Dedup.blockedEntityPairs(d, "id", "name", Seq("country"),
        maxDistance = 2, maxBlock = 1024L)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("distance")))
    assert(out.forall(_._3 >= 0L), s"thresholded -1 leaked: $out")
    assert(out.contains((1L, 3L, 1L)) && out.contains((1L, 4L, 1L)) &&
      out.contains((1L, 5L, 2L)), s"got $out")
    assert(!out.exists(p => p._1 == 2L || p._2 == 2L),
      s"length-incompatible pair survived: $out")
  }
}
