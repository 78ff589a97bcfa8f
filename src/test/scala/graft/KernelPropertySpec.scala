package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.{Dedup, Similarity}

/** Property checks: every native kernel is bit-identical to its
  * compositional built-in formulation over RANDOM inputs, not just the
  * fixed corpora of the unit tests. Each property materializes one
  * DataFrame of generated cases and compares row-wise. */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("property: word_shingles == compositional shingles on random text") {
    graft.functions.GraftFunctions.register(spark)
    val word = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val text = Gen.chooseNum(0, 12).flatMap { n =>
      Gen.listOfN(n, Gen.zip(word, ws)).map(_.map { case (w, s) => w + s }.mkString)
    }
    val texts = sample(text, 60) ++ Seq("", " ", "\t", "a", "a b")
    val rows = texts.toDF("text").select(
      graft.operators.TextAnalysis.shingles(col("text"), 3).as("ref"),
      graft.functions.WordShingleFunctions.wordShingles(col("text"), 3).as("fast"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"shingles differ: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
  }

  test("property: bpe replace-chain == fuseOnce fold chain on random words") {
    import graft.operators.TextAnalysis
    // small alphabet so merges actually fire, including runs (aa etc.)
    val word = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val pair = Gen.zip(Gen.oneOf("a", "b", "c", "ab", "aa", "bc"),
      Gen.oneOf("a", "b", "c", "ba", "cc"))
    val mergeTables = sample(Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, pair)), 12)
    val words = (sample(word, 80) ++ Seq("a", "aaaa", "ababab", "abcabc"))
      .distinct
    mergeTables.foreach { merges =>
      val df = words.toDF("word").select(col("word"),
        TextAnalysis.bpeTokens(col("word"), merges).as("chain"),
        merges.foldLeft(split(col("word"), "")) { case (acc, (a, b)) =>
          TextAnalysis.fuseOnce(acc, a, b)
        }.as("fold"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"word '${r.getString(0)}' under $merges: " +
            s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
      }
    }
  }

  test("property: window_min_distinct == compositional window minima") {
    graft.functions.GraftFunctions.register(spark)
    val W = graft.functions.WordShingleFunctions
    // random long arrays (with duplicates, so distinct matters) and a
    // random window width per case
    val arr = Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-50L, 50L)))
    val cases = sample(Gen.zip(arr, Gen.chooseNum(1, 7)), 80) ++
      Seq((List.empty[Long], 4), (List(7L), 4), (List(3L, 3L, 3L), 2))
    cases.groupBy(_._2).foreach { case (w, cs) =>
      // compositional reference: every window start 0..max(n-w, 0), the
      // last window clipped by slice(), first-occurrence distinct
      val rows = cs.map(_._1).toDF("hs").select(
        W.windowMinDistinct(col("hs"), w).as("fast"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("hs")) - w, lit(0))),
          i => array_min(slice(col("hs"), i + 1, lit(w))))).as("ref"),
        size(col("hs")).as("n")).collect()
      rows.foreach { r =>
        val ref = if (r.getInt(2) == 0) Seq.empty[Long] else r.getSeq[Long](1)
        assert(r.getSeq[Long](0) == ref,
          s"w=$w: ${r.getSeq[Long](0)} vs $ref (n=${r.getInt(2)})")
      }
    }
    // and over real winnow_grams output on text, the production pairing
    val texts = Seq("", "a", "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "abc " * 40).toDF("text")
    texts.select(
        W.windowMinDistinct(W.winnowGrams(col("text"), 8), 4).as("fast"),
        array_distinct(transform(
          sequence(lit(0),
            greatest(size(W.winnowGrams(col("text"), 8)) - 4, lit(0))),
          i => array_min(slice(W.winnowGrams(col("text"), 8), i + 1, lit(4)))))
          .as("ref"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("property: vector kernels == compositional forms on random floats") {
    graft.functions.GraftFunctions.register(spark)
    val V = graft.functions.VectorFunctions
    val comp = Gen.oneOf(
      Gen.chooseNum(-10.0f, 10.0f),
      Gen.oneOf(0.0f, -0.0f, 0.1f, 1e-7f, -3.3333333f, 123.456f))
    val vec = Gen.listOfN(16, comp).map(_.toArray)
    val pairs = sample(Gen.zip(vec, vec), 50)
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      Similarity.dotExact(col("a"), col("b")).as("de_ref"),
      V.dotExact(col("a"), col("b")).as("de"),
      Similarity.normExact(col("a")).as("ne_ref"),
      V.normExact(col("a")).as("ne")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot_exact")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "norm_exact")
    }
    // rhp signatures over the quantized vectors, every table
    val q = df.select(V.quantize6(col("a")).as("q"))
    (0 until 3).foreach { t =>
      q.select(Similarity.rhpSignature(col("q"), 6, t, 16).as("ref"),
          element_at(V.rhpSignatures(col("q"), 6, 3), t + 1).as("fast"))
        .collect()
        .foreach(r => assert(r.getLong(0) == r.getLong(1), s"rhp table $t"))
    }
  }

  test("property: hamming_words kernel == zip_with bit_count formulation") {
    graft.functions.GraftFunctions.register(spark)
    val V = graft.functions.VectorFunctions
    val word = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val sig = Gen.listOfN(3, word).map(_.toArray)
    val pairs = sample(Gen.zip(sig, sig), 60)
    val df = pairs.toDF("a", "b")
    df.select(V.hammingWords(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("ref"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1), "hamming_words"))
    // length mismatch → null, not a wrong number
    val m = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
      .select(V.hammingWords(col("a"), col("b"))).collect()
    assert(m.head.isNullAt(0), "length mismatch must be null")
  }

  test("property: minhash/simhash kernels == aggregation forms on random docs") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2", "läng", "中文")
    val doc = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = sample(doc, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val mhNative = Dedup.minhashSignatures(docs, "id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val mhAgg = Dedup.minhashSignaturesViaAggregation(docs, "id", "text", 3, 16)
      .collect().map(r => r.getLong(0) ->
        (0 until 16).map(i => r.getAs[Long](s"mh_$i"))).toMap
    assert(mhNative == mhAgg)
    val shNative = Dedup.simhash(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shAgg = Dedup.simhashViaAggregation(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shNative == shAgg)
  }

  test("property: md5_60_array kernel == per-element md5_60 transform") {
    graft.functions.GraftFunctions.register(spark)
    val word = Gen.oneOf("alpha", "beta", "x1", "läng", "中文", "", "a b")
    val arr = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val df = sample(arr, 50).zipWithIndex
      .map { case (a, i) => (i.toLong, a.toArray) }.toDF("id", "a")
    df.select(
        graft.functions.MinHashFunctions.md5_60Array(col("a")).as("fast"),
        transform(col("a"), s =>
          conv(substring(md5(s.cast("binary")), 1, 15), 16, 10)
            .cast("long")).as("ref"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "md5_60_array"))
  }

  test("property: non-overlapping chunks reconstruct the tokenized doc") {
    val word = Gen.oneOf("aa", "b", "ccc", "d1", "ee")
    val doc = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = sample(doc, 30).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rebuilt = graft.operators.TextAnalysis
      .chunk(docs, "doc_id", "text", chunkSize = 7)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_id"), col("chunk_text")))).getField("chunk_text"))
        .as("joined"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.collect().foreach { r =>
      assert(rebuilt(r.getLong(0)) == r.getString(1).trim.split("\\s+").mkString(" "),
        s"chunks must reconstruct doc ${r.getLong(0)}")
    }
  }

  test("property: sig_agreement kernel == zip_with formulation") {
    graft.functions.GraftFunctions.register(spark)
    val sigPair = for {
      n <- Gen.chooseNum(0, 24)
      a <- Gen.listOfN(n, Gen.chooseNum(0L, 7L))
      // mix of agreeing and disagreeing positions
      b <- Gen.listOfN(n, Gen.chooseNum(0L, 7L))
    } yield (a.toArray, b.toArray)
    val df = sample(sigPair, 60).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    df.select(
        graft.functions.MinHashFunctions.sigAgreement(col("a"), col("b")).as("fast"),
        size(filter(zip_with(col("a"), col("b"), (x, y) =>
          (x === y).cast("int")), v => v === 1)).cast("long").as("ref"))
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1), "sig_agreement"))
  }

  test("property: log2_quarter_bits satisfies its defining inequality") {
    import java.math.BigInteger
    graft.functions.GraftFunctions.register(spark)
    // k = floor(4·log2(b/a))  <=>  a⁴·2^k ≤ b⁴ < a⁴·2^(k+1)
    val pair = for {
      a <- Gen.chooseNum(1L, 1_000_000_000L)
      mult <- Gen.chooseNum(1L, 1_000_000L)
      add <- Gen.chooseNum(0L, 1_000_000L)
    } yield (a, a * mult + add) // ≤ ~1e15: no Long overflow, any path
    val cases = sample(pair, 80) ++ Seq(
      (1L, 1L), (1L, 2L), (3L, 7L), (55108L, 55108L), // long fast path edge
      (1L, 55108L), (1L, 55109L), (55108L, 55109L),   // path boundary
      (999_999_999L, 1_000_000_000L))
    cases.foreach { case (a, b) =>
      val k = graft.functions.FixedLogImpl.log2QuarterBits(a, b)
      assert(k != null, s"($a,$b)")
      val a4 = BigInteger.valueOf(a).pow(4)
      val b4 = BigInteger.valueOf(b).pow(4)
      assert(a4.shiftLeft(k.toInt).compareTo(b4) <= 0, s"lower ($a,$b,$k)")
      assert(b4.compareTo(a4.shiftLeft(k.toInt + 1)) < 0, s"upper ($a,$b,$k)")
    }
    // domain: a < 1 or b < a -> null, never a wrong value
    assert(graft.functions.FixedLogImpl.log2QuarterBits(0L, 5L) == null)
    assert(graft.functions.FixedLogImpl.log2QuarterBits(7L, 6L) == null)
    // and the registered expression matches the impl through codegen
    val df = cases.toDF("a", "b").select(col("a"), col("b"),
      graft.functions.FixedLogFunctions.log2QuarterBits(col("a"), col("b"))
        .as("k"))
    df.collect().foreach { r =>
      assert(r.getLong(2) ==
        graft.functions.FixedLogImpl.log2QuarterBits(r.getLong(0), r.getLong(1))
          .longValue(), s"expr vs impl (${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("property: bucketPairs == sorted in-bucket index pairs (i < j), with and without carry") {
    type Entry = (Long, Option[Int])
    // a null payload sorts first among equal ids, as in array_sort
    val entryOrder: Ordering[Entry] =
      Ordering.Tuple2(Ordering.Long, Ordering.Option(Ordering.Int))
    val rnd = new scala.util.Random(20261018L)
    val generated = (0 until 24).map { c =>
      val nBuckets = 1 + rnd.nextInt(5)
      (c, Seq.fill(rnd.nextInt(30))((rnd.nextInt(nBuckets), rnd.nextInt(12)
        .toLong, if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3)))))
    }
    val fixed = Seq(
      Seq((0, 1L, Some(1)), (1, 2L, Some(1)), (2, 3L, None)), // singletons
      Seq((0, 5L, Some(1)), (0, 6L, Some(2)), (1, 5L, Some(1)),
        (1, 7L, None), (2, 5L, Some(1)), (2, 6L, Some(2))), // id in 3 buckets
      Seq((0, 4L, Some(1)), (0, 4L, Some(1)), (0, 4L, None),
        (0, 3L, Some(2)))) // duplicate ids inside one bucket, null payload
    val cases = generated ++ fixed.zipWithIndex.map { case (rows, i) =>
      (100 + i, rows) }
    val rows = for ((c, rs) <- cases; (b, id, pl) <- rs) yield (c, b, id, pl)
    val df = rows.toDF("case", "bucket", "id", "pl")
    val model: Seq[((Int, Int), Entry, Entry)] =
      rows.groupBy(r => (r._1, r._2)).toSeq.flatMap { case (key, rs) =>
        val es = rs.map(r => (r._3, r._4)).sorted(entryOrder).toIndexedSeq
        for (i <- es.indices; j <- i + 1 until es.size)
          yield (key, es(i), es(j))
      }
    def pl(r: org.apache.spark.sql.Row, i: Int): Option[Int] =
      if (r.isNullAt(i)) None else Some(r.getInt(i))
    val carried = Dedup.bucketPairs(df, Seq("case", "bucket"), Seq("id", "pl"),
      carry = Seq("case", "bucket"))
    assert(carried.columns.toSeq ==
      Seq("case", "bucket", "id_a", "id_b", "pl_a", "pl_b"))
    val got = carried.collect().toSeq.map(r => ((r.getInt(0), r.getInt(1)),
      (r.getLong(2), pl(r, 4)), (r.getLong(3), pl(r, 5))))
    val byTriple = Ordering.by[((Int, Int), Entry, Entry),
      (Int, Int, Long, Option[Int], Long, Option[Int])] {
      case ((c, b), (ia, pa), (ib, pb)) => (c, b, ia, pa, ib, pb) }
    assert(got.sorted(byTriple) == model.sorted(byTriple))
    val bare = Dedup.bucketPairs(df, Seq("case", "bucket"), Seq("id", "pl"))
    assert(bare.columns.toSeq == Seq("id_a", "id_b", "pl_a", "pl_b"))
    val pairOrder = Ordering.by[(Entry, Entry),
      (Long, Option[Int], Long, Option[Int])] {
      case ((ia, pa), (ib, pb)) => (ia, pa, ib, pb) }
    assert(bare.collect().toSeq.map(r => ((r.getLong(0), pl(r, 2)),
        (r.getLong(1), pl(r, 3)))).sorted(pairOrder) ==
      model.map(m => (m._2, m._3)).sorted(pairOrder))
    // on distinct entries the same set is the naive self-join
    val d = df.distinct()
    val selfJoin = d.as("a").join(d.as("b"),
        col("a.case") === col("b.case") && col("a.bucket") === col("b.bucket") &&
          struct(col("a.id"), col("a.pl")) < struct(col("b.id"), col("b.pl")))
      .select(col("a.case"), col("a.bucket"), col("a.id"), col("b.id"),
        col("a.pl"), col("b.pl"))
    val fromPrimitive = Dedup.bucketPairs(d, Seq("case", "bucket"),
      Seq("id", "pl"), carry = Seq("case", "bucket"))
    assert(fromPrimitive.exceptAll(selfJoin).isEmpty &&
      selfJoin.exceptAll(fromPrimitive).isEmpty)
    val empty = Seq.empty[(Int, Long, Option[Int])].toDF("bucket", "id", "pl")
    assert(Dedup.bucketPairs(empty, Seq("bucket"), Seq("id", "pl"),
      carry = Seq("bucket")).isEmpty)
    assert(Dedup.bucketPairs(empty, Seq("bucket"), Seq("id", "pl")).isEmpty)
  }

  test("pair_combinations_struct refuses a bucket whose pair count overflows an array") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.PairCombinationsStructImpl
    // n = 46 342 is the first size whose Int product n(n-1) wraps; its
    // pair count still fits one array
    assert(PairCombinationsStructImpl.pairCount(46342) == 1073767311L)
    // n = 65 537 is the first size whose pair count does not
    val n = 65537
    val entries = new GenericArrayData(Array.tabulate[Any](n)(i =>
      new GenericInternalRow(Array[Any](i.toLong))))
    val e = intercept[IllegalArgumentException](
      PairCombinationsStructImpl.compute(entries, 1))
    assert(e.getMessage.contains(s"a bucket of $n entries"), e.getMessage)
  }
}
