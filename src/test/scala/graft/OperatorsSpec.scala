package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.TimeSeries

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("distinctiveTerms: permille lift ranks group-specific terms " +
    "above shared ones") {
    // x appears in both groups (lift 1000), y only in a (lift 2000)
    val d = Seq(("a", "x x x x x y y y y y"),
      ("b", "x x x x x z z z z z")).toDF("lang", "text")
    val got = TextAnalysis.distinctiveTerms(d, "lang", "text",
      minCount = 5L, topK = 2).collect()
      .filter(_.getAs[String]("lang") == "a")
      .sortBy(_.getAs[Long]("term_rank"))
      .map(r => (r.getAs[String]("term"),
        r.getAs[Long]("lift_permille")))
    assert(got.toSeq == Seq(("y", 2000L), ("x", 1000L)), s"$got")
  }

  test("caseProfile: anchored token classes, ppb shares") {
    val d = Seq(("s", "HELLO World foo 123 A")).toDF("source", "text")
    val r = TextAnalysis.caseProfile(d, "source", "text")
      .collect().head
    assert(r.getAs[Long]("n_tokens") == 5L)
    assert(r.getAs[Long]("n_allcaps") == 1L)   // HELLO; single 'A' no
    assert(r.getAs[Long]("n_titlecase") == 1L) // World
    assert(r.getAs[Long]("n_digits") == 1L)    // 123
    assert(r.getAs[Long]("allcaps_ppb") == 200000000L)
  }

  test("vocabGrowth: first-occurrence deciles, cumulative curve") {
    // docs 1-5 all say "x"; docs 6-10 introduce one new type each
    val d = ((1 to 5).map(i => (i.toLong, "x")) ++
      Seq((6L, "a"), (7L, "b"), (8L, "c"), (9L, "d"), (10L, "e")))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.vocabGrowth(d, "doc_id", "text")
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("new_types")).toSeq ==
      Seq(1L, 0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L, 1L))
    assert(rows.last.getAs[Long]("cum_types") == 6L)
    assert(rows.last.getAs[Long]("cum_tokens") == 10L)
    assert(rows.forall(_.getAs[Long]("n_docs") == 1L))
  }

  test("lengthBands: fixed char thresholds, per-group ppb doc shares") {
    val d = Seq(("s", "hi there"), ("s", "a" * 600), ("s", "b" * 2500))
      .toDF("source", "text")
    val got = TextAnalysis.lengthBands(d, "source", "text").collect()
      .map(r => r.getAs[String]("band") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chars"),
          r.getAs[Long]("tokens"), r.getAs[Long]("doc_share_ppb"))))
      .toMap
    assert(got("short") == ((1L, 8L, 2L, 333333333L)), s"$got")
    assert(got("medium") == ((1L, 600L, 1L, 333333333L)), s"$got")
    assert(got("long") == ((1L, 2500L, 1L, 333333333L)), s"$got")
  }

  test("termBurstiness: Fano with zero-docs counted via sufficient " +
    "statistics") {
    val d = Seq((1L, "w w w w"), (2L, "w x"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.termBurstiness(d, "doc_id", "text", topN = 2)
      .collect().map(r => r.getAs[String]("term") -> r).toMap
    val w = got("w")
    assert(w.getAs[Long]("df_docs") == 2L)
    assert(w.getAs[Long]("tf_total") == 5L)
    assert(w.getAs[Long]("sum_sq") == 17L)
    // clumped: fano = (17/3 - (5/3)^2)/(5/3) ≈ 1.73 > 1
    assert(w.getAs[Double]("fano") ==
      (17.0 / 3.0 - (5.0 / 3.0) * (5.0 / 3.0)) / (5.0 / 3.0))
    // spread-out x: fano = (2/3 - (2/3)^2)/(2/3) = 1/3 < 1
    assert(got("x").getAs[Double]("fano") ==
      (2.0 / 3.0 - (2.0 / 3.0) * (2.0 / 3.0)) / (2.0 / 3.0))
  }

  test("zipfSlope: quarter-bit OLS on an engineered power law") {
    // freqs 16/4/1 at ranks 1/2/3 → points (0,16),(4,8),(6,0):
    // slope = -144/56, r2 = 20736/21504 — all exact integer sums
    val text = (Seq.fill(16)("a") ++ Seq.fill(4)("b") ++ Seq("c"))
      .mkString(" ")
    val r = TextAnalysis.zipfSlope(Seq(text).toDF("text"), "text")
      .collect().head
    assert(r.getAs[Long]("n_points") == 3L)
    assert((r.getAs[Long]("sx"), r.getAs[Long]("sy"),
      r.getAs[Long]("sxx"), r.getAs[Long]("sxy")) ==
      ((10L, 24L, 52L, 32L)))
    assert(r.getAs[Double]("slope") == -144.0 / 56.0)
    assert(r.getAs[Double]("r2") == 20736.0 / 21504.0)
  }

  test("lexicalDiversity: hand-counted TTR/hapax/Simpson and exact " +
    "quarter-bit entropy") {
    // "x x y": N=3, V=2, hapax=1, simpson 2/6;
    // entropy_q = 2*qlog2(3/2) + 1*qlog2(3/1) = 2*2 + 6 = 10
    val d = Seq(("a", "x x y")).toDF("lang", "text")
    val r = TextAnalysis.lexicalDiversity(d, "lang", "text")
      .collect().head
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_types") == 2L)
    assert(r.getAs[Long]("ttr_ppb") == 666666666L)
    assert(r.getAs[Long]("hapax_types") == 1L)
    assert(r.getAs[Double]("simpson_d") == 2.0 / 6.0)
    assert(r.getAs[Long]("entropy_q") == 10L)
    assert(r.getAs[Double]("entropy_bits") == 10.0 / 12.0)
  }

  test("readability: hand-counted masses and exact Flesch formula") {
    // "The cat. The cat ran!": 5 words, 2 sentence-ender runs,
    // 5 vowel runs → wps 2.5, spw 1.0,
    // flesch = 206.835 - 1.015*2.5 - 84.6*1.0
    val d = Seq(("en", "The cat. The cat ran!"), ("xx", "no enders"))
      .toDF("lang", "text")
    val got = TextAnalysis.readability(d, "lang", "text").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = got("en")
    assert(en.getAs[Long]("n_words") == 5L)
    assert(en.getAs[Long]("n_sentences") == 2L)
    assert(en.getAs[Long]("n_syllables") == 5L)
    assert(en.getAs[Double]("words_per_sentence") == 2.5)
    assert(en.getAs[Double]("flesch") ==
      206.835 - 1.015 * 2.5 - 84.6 * 1.0)
    // zero sentence runs → NULL flesch, masses still reported
    val xx = got("xx")
    assert(xx.getAs[Long]("n_sentences") == 0L)
    assert(xx.isNullAt(xx.fieldIndex("flesch")))
  }

  test("tokenCount: whitespace runs, empty-safe") {
    val df = Seq("a b  c", "  ", "", "one").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 0, 0, 1))
  }

  test("collocations: hand-computed quarter-bit PMI, rank order") {
    // "x y x y x y": bigrams (x,y)×3, (y,x)×2 → n_bg=5; unigrams x=3,
    // y=3 → n_ug=6. qb(3,6)=4, qb(3,5)=2, qb(2,5)=5 →
    // pmi(x,y)=4+4-2=6, pmi(y,x)=4+4-5=3.
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "doc_id", "text",
        minCount = 1L, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("x", "y", 3L, 6L, 1L), ("y", "x", 2L, 3L, 2L)))
  }

  test("fuzzyVocabPairs: sub/ins/del pairs found, transposition rejected") {
    // vocabulary: cat(4) car(2) cart(1) dog(1) act(1) ox(1) — distance-1
    // pairs: cat~car (substitution), car~cart (insertion), cart~cat
    // (deletion); cat~act is a transposition (distance 2): it shares
    // deletion keys ("at"/"ct") but the levenshtein verify rejects it
    val docs = Seq(
      (1L, "cat cat cat cat car car"),
      (2L, "cart dog act ox")).toDF("doc_id", "text")
    val got = TextAnalysis.fuzzyVocabPairs(docs, "text", topK = 10)
      .orderBy("tok_a", "tok_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got == Seq(
      ("car", "cart", 2L, 1L, "car"),
      ("car", "cat", 2L, 4L, "cat"),
      ("cart", "cat", 1L, 4L, "cat")))
  }

  test("tfidfTopK: hand-computed quarter-bit idf, per-doc ranking, ties") {
    // N=4. df: apple=3 (idf=floor(4·log2(4/3))=1), banana=2 (idf=4),
    // cherry=3 (idf=1), zebra=1 (idf=floor(4·log2 4)=8).
    val docs = Seq(
      (1L, "apple apple zebra"),
      (2L, "apple cherry"),
      (3L, "banana cherry cherry"),
      (4L, "apple banana cherry")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "token", "tf", "idf_qb", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, "zebra", 1L, 8L, 8L, 1L), (1L, "apple", 2L, 1L, 2L, 2L),
      // d2: equal scores 1,1 → token ascending breaks the tie
      (2L, "apple", 1L, 1L, 1L, 1L), (2L, "cherry", 1L, 1L, 1L, 2L),
      (3L, "banana", 1L, 4L, 4L, 1L), (3L, "cherry", 2L, 1L, 2L, 2L),
      (4L, "banana", 1L, 4L, 4L, 1L), (4L, "apple", 1L, 1L, 1L, 2L)))
  }

  test("scriptProfile: block-range counts, dominant script, priority ties") {
    val docs = Seq(
      (1L, "Hello мир 42"),          // 5 latin, 3 cyrillic, 2 digit, 2 space
      (2L, "αβγ ΑΒΓ"),               // greek only
      (3L, "日本語とハングル한글"),    // cjk (ideographs + kana + hangul)
      (4L, "مرحبا"),                 // arabic
      (5L, ""),                      // empty → none
      (6L, "ab аб")                  // 2 latin vs 2 cyrillic → latin wins tie
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = got(0)
    assert((r1.getAs[Long]("n_latin"), r1.getAs[Long]("n_cyrillic"),
      r1.getAs[Long]("n_digit"), r1.getAs[Long]("n_space"),
      r1.getAs[Long]("n_other"), r1.getAs[String]("main_script")) ==
      (5L, 3L, 2L, 2L, 0L, "latin"))
    assert(got(1).getAs[String]("main_script") == "greek")
    assert(got(1).getAs[Long]("n_greek") == 6L)
    assert(got(2).getAs[String]("main_script") == "cjk")
    assert(got(2).getAs[Long]("n_cjk") == 10L)
    assert(got(3).getAs[String]("main_script") == "arabic")
    assert(got(4).getAs[String]("main_script") == "none")
    assert(got(5).getAs[String]("main_script") == "latin")
  }

  test("shingles: sliding distinct n-grams; short text → whole text") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextAnalysis.shingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toSeq)
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq("a b"))
  }

  test("native word_shingles == compositional shingles (incl. edges)") {
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq("a b c d e", "a b", "", "   ", "x\ty  z", "a a a a b a a a",
      "the quick brown fox jumps over the lazy dog").toDF("text")
    val both = texts.select(
      TextAnalysis.shingles(col("text"), 3).as("ref"),
      graft.functions.WordShingleFunctions.wordShingles(col("text"), 3).as("fast"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("stripHtml: scripts/styles/comments out, tags to text, entities") {
    val cases = Seq(
      ("<html><body><h1>Title</h1><p>Hello <b>world</b>.</p></body></html>",
        "Title Hello world ."),
      ("<script type=\"text/javascript\">var x = '<p>';</script>keep me",
        "keep me"),
      ("<style>p { color: red; }</style>styled<!-- note -->text",
        "styled text"),
      ("a &lt;tag&gt; &amp;amp; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "a <tag> &amp; \"q\" 's' end"),
      ("<SCRIPT>\nmultiline();\n</SCRIPT>after", "after"),
      ("no markup at all", "no markup at all"),
      ("", ""))
    val out = cases.map(_._1).toDF("text")
      .select(TextAnalysis.stripHtml(col("text")).as("s"))
      .collect().map(_.getString(0)).toSeq
    cases.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got == want, s"expected '$want', got '$got'")
    }
  }

  test("gopherRules: each rule flags its own violation, keep is the AND") {
    val good = Seq.fill(6)(
      "the quick brown foxes jumped over with lazy dogs and").mkString(" ")
    val docs = Seq(
      (1L, good),                                      // passes everything
      (2L, "tiny doc"),                                // word count
      (3L, good + " " + Seq.fill(8)("####").mkString(" ")), // symbols
      (4L, "- one two three\n- four five six\n- seven eight nine"), // bullets
      (5L, Seq.fill(6)(
        "the quick brown foxes jumped over with lazy dogs...")
        .mkString("\n")),                              // ellipsis lines
      (6L, Seq.fill(60)("12345").mkString(" ")),       // alpha words
      (7L, ("a b c d e " * 12).trim),                  // mean word length
      (8L, Seq.fill(60)("zebra").mkString(" "))        // stopwords
    ).toDF("doc_id", "text")
    val cols = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
      "keep")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = 50, maxWords = 100000)
      .collect().map(r => r.getLong(0) ->
        cols.map(c => c -> r.getBoolean(r.fieldIndex(c))).toMap).toMap
    assert(out(1L).values.forall(identity), s"good doc: ${out(1L)}")
    def failsExactly(id: Long, rule: String): Unit = {
      assert(!out(id)(rule), s"doc $id should fail $rule")
      assert(!out(id)("keep"), s"doc $id keep must be false")
    }
    failsExactly(2L, "r_word_count")
    failsExactly(3L, "r_symbol_ratio")
    failsExactly(4L, "r_bullet_lines")
    failsExactly(5L, "r_ellipsis_lines")
    failsExactly(6L, "r_alpha_words")
    failsExactly(7L, "r_mean_word_len")
    failsExactly(8L, "r_stopwords")
    // the bullet doc is clean for the other line/symbol rules (its "-"
    // tokens DO fail alpha-words — letterless words, correctly counted)
    assert(out(4L)("r_symbol_ratio") && out(4L)("r_ellipsis_lines"))
    assert(!out(4L)("r_alpha_words"))
  }

  test("bpePairStats / bpeMerges: hand-computed merge table, greedy fold") {
    // the classic BPE corpus: low×5 lower×2 newest×6 widest×3
    val corpus = Seq(
      ((("low " * 5) + ("lower " * 2) + ("newest " * 6) +
        ("widest " * 3)).trim)).toDF("text")
    val stats = TextAnalysis.bpePairStats(corpus, "text", k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(stats.toSeq == Seq(
      ("e", "s", 9L, 1L), ("s", "t", 9L, 2L), ("w", "e", 8L, 3L),
      ("l", "o", 7L, 4L), ("o", "w", 7L, 5L)))
    // merge loop: (e,s) 9 → es; (es,t) 9 → est; then (l,o) 7 wins
    val merges = TextAnalysis.bpeMerges(corpus, "text", nMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq(
      (1L, "e", "s", 9L), (2L, "es", "t", 9L), (3L, "l", "o", 7L)))
    // greedy left-to-right fusion cannot chain through a fresh merge:
    // aaaa×2 → merge (a,a) count 6 → [aa,aa] → merge (aa,aa) count 2
    val runs = Seq("aaaa aaaa").toDF("text")
    val runMerges = TextAnalysis.bpeMerges(runs, "text", nMerges = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(runMerges.toSeq == Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)),
      s"got ${runMerges.toSeq}")
    // singleton pairs can't help a tokenizer: no rule is learned
    assert(TextAnalysis.bpeMerges(Seq("ab cd").toDF("text"), "text", 4)
      .count() == 0)
  }

  test("bpeEncode: rank-ordered greedy merges via the sentinel chain") {
    def counts(docs: Seq[(Long, String)],
        merges: Seq[(String, String)]): Map[Long, Long] =
      TextAnalysis.bpeEncode(docs.toDF("doc_id", "text"), "doc_id", "text",
          merges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // esto = [es,t,o] -> [est,o]; es = [es]; chain through merged symbol
    val out = counts(Seq((1L, "esto es"), (2L, ""), (3L, "xyz")),
      Seq(("e", "s"), ("es", "t")))
    assert(out(1L) == 3L, s"esto(2) + es(1): $out")
    assert(out(2L) == 0L, "empty doc keeps a zero row")
    assert(out(3L) == 3L, "untouched word = char count")
    // greedy left-to-right, no overlap: aaa -> [aa,a]; then (aa,a) fuses
    assert(counts(Seq((1L, "aaa")), Seq(("a", "a")))(1L) == 2L)
    assert(counts(Seq((1L, "aaa")),
      Seq(("a", "a"), ("aa", "a")))(1L) == 1L)
    // rank order is semantic: (s,t) before (e,s) leaves est split as
    // [e,st]; the reverse leaves [es,t] — both 2, but DIFFERENT tokens,
    // visible once (e,st) closes the gap
    assert(counts(Seq((1L, "est")),
      Seq(("s", "t"), ("e", "st")))(1L) == 1L)
    assert(counts(Seq((1L, "est")),
      Seq(("e", "s"), ("e", "st")))(1L) == 2L,
      "the (e,st) rule must NOT fire after (e,s) consumed the s")
    // composes with the learned table: newest under the classic merges
    assert(counts(Seq((1L, "newest")),
      Seq(("e", "s"), ("es", "t"), ("l", "o")))(1L) == 4L)
  }

  test("winnowing: docs sharing a long substring share a fingerprint") {
    val shared = "the identical stretch of text inside both documents"
    val df = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"a different beginning $shared and ending"),
      (3L, "entirely unrelated content with nothing in common at all")
    ).toDF("id", "text")
    val fps = TextAnalysis.winnowedFingerprints(df, "id", "text", k = 8, w = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared substring must collide")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs should not collide")
    // short text fingerprints as itself
    val tiny = TextAnalysis.winnowedFingerprints(
      Seq((9L, "abc")).toDF("id", "text"), "id", "text", 8, 4).collect()
    assert(tiny.length == 1)
  }

  test("scrub redacts emails, urls, and long digit runs") {
    val df = Seq(
      "contact bob.smith+x@example.co.uk or visit https://ex.io/a?b=1 ok",
      "order 1234567 shipped to 98 main st",
      "clean text with no pii at all"
    ).toDF("text")
    val out = TextAnalysis.scrub(df, "text")
      .select("scrubbed", "n_redactions").collect()
    assert(out(0).getString(0) == "contact <EMAIL> or visit <URL> ok")
    assert(out(0).getLong(1) == 2L)
    assert(out(1).getString(0) == "order <NUM> shipped to 98 main st")
    assert(out(1).getLong(1) == 1L)
    assert(out(2).getLong(1) == 0L)
  }

  test("languageId: stopword profiles pick the right language") {
    val df = Seq(
      ("the cat and the dog is here", "en"),
      ("der hund und die katze ist nicht da", "de"),
      ("el perro y la casa es que en", "es"),
      ("xyzzy qwerty", "und")
    ).toDF("text", "expected")
    val out = TextAnalysis.languageId(df, "text")
    assert(out.filter(col("predicted_lang") =!= col("expected")).count() == 0)
  }

  test("quality: ratios bounded and deterministic") {
    val df = Seq("The quick brown fox, it jumps over 42 lazy dogs!").toDF("text")
    val r = TextAnalysis.quality(df, "text", Seq("the", "it", "over")).head()
    assert(r.getAs[Long]("n_tokens") == 10L)
    assert(r.getAs[Double]("punct_ratio") > 0 && r.getAs[Double]("punct_ratio") < 0.1)
    assert(r.getAs[Double]("quality_score") <= 1.0)
  }

  test("normalize: control chars out, whitespace collapsed, lowercased") {
    val df = Seq("  Hello\tWORLD  again \n ").toDF("text")
    val out = df.select(TextAnalysis.normalize(col("text"))).head().getString(0)
    assert(out == "hello world again")
  }

  test("chunk: overlapping token windows cover the doc exactly") {
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    // size 4, overlap 1 → stride 3: starts 0,3,6,9
    val out = TextAnalysis.chunk(df, "doc_id", "text", 4, 1)
      .orderBy("chunk_id").collect()
    assert(out.map(_.getString(2)).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getLong(3)).toSeq == Seq(4L, 4L, 4L, 1L))
    // no overlap: disjoint cover
    val flat = TextAnalysis.chunk(df, "doc_id", "text", 5)
      .orderBy("chunk_id").collect().map(_.getString(2))
    assert(flat.toSeq == Seq("w1 w2 w3 w4 w5", "w6 w7 w8 w9 w10"))
  }

  test("vocabulary: top-k by frequency, ties on token") {
    val df = Seq("b a a", "c b a  c").toDF("text")
    val out = TextAnalysis.vocabulary(df, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", 3L, 1L), ("b", 2L, 2L)))
  }

  test("linearScore: broadcast weights, exact logit, bias-only empty docs") {
    val docs = Seq(
      (1L, "good good bad"),   // 2·300 − 500 + 10 = 110 → keep
      (2L, "bad bad"),         // −1000 + 10 = −990 → drop
      (3L, "unknown words"),   // all-unknown: bias only → keep (10 > 0)
      (4L, "")                 // token-less: bias only
    ).toDF("doc_id", "text")
    val weights = Seq(("good", 300L), ("bad", -500L)).toDF("token", "w_milli")
    val out = TextAnalysis.linearScore(docs, "doc_id", "text", weights,
        biasMilli = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out == Map(
      1L -> (110L, true), 2L -> (-990L, false),
      3L -> (10L, true), 4L -> (10L, true)), out)
    // the weight probe must be a broadcast join (a model never shuffles
    // the corpus)
    val plan = TextAnalysis.linearScore(docs, "doc_id", "text", weights)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("heavyHitters == vocabulary when f_k clears the support bound") {
    // tiny corpus: every candidate survives any merge order, so the
    // sketch-candidates + exact-recount path must be bit-equal
    val df = Seq("b a a", "c b a  c", "d a b").toDF("text")
    def key(o: Array[org.apache.spark.sql.Row]) =
      o.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(key(TextAnalysis.heavyHitters(df, "text", 3, support = 0.05)
        .collect()) ==
      key(TextAnalysis.vocabulary(df, "text", 3).collect()))
    // and on the real sf0.001 documents table at the registry's support
    val docs = spark.read.parquet(sf("documents"))
    assert(key(TextAnalysis.heavyHitters(docs, "text", 50, support = 0.0005)
        .orderBy("rank").collect()) ==
      key(TextAnalysis.vocabulary(docs, "text", 50).orderBy("rank").collect()))
  }

  test("oovRate: exact counts against the top-k vocabulary; empty-safe") {
    // corpus freq: a=3, b=2, c=1, z=1 → top-2 vocab {a, b}
    val df = Seq((1L, "b a a"), (2L, "c b a z"), (3L, ""), (4L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(df, "doc_id", "text", vocabK = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 0L, 0L)))            // all in vocab
    assert(out(2L) == ((4L, 2L, 500L)))          // c, z are OOV
    assert(out(3L) == ((0L, 0L, 0L)))            // empty doc survives
    assert(out(4L) == ((0L, 0L, 0L)))            // whitespace-only too
  }

  test("repetition: duplicate n-gram fractions flag boilerplate") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now"), // pure repetition
      (2L, "a quick brown fox jumps over dogs"), // all distinct
      (3L, "hi") // short doc: one whole-text shingle per n
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 8 words {buy, now}: dup_word = 6/8; bigrams 7 total,
    // 3 distinct {buy now, now buy} + trailing... compute: 7 bigrams,
    // distinct {"buy now","now buy"} = 2 → 5/7
    assert(out(1L).getAs[Double]("dup_word_fraction") == 6.0 / 8)
    assert(out(1L).getAs[Double]("dup_bigram_fraction") == 5.0 / 7)
    assert(out(2L).getAs[Double]("dup_word_fraction") == 0.0)
    assert(out(2L).getAs[Double]("dup_trigram_fraction") == 0.0)
    assert(out(3L).getAs[Long]("n_tokens") == 1L)
    assert(out(3L).getAs[Double]("dup_trigram_fraction") == 0.0)
  }

  test("lmPerplexity: hand-computed quarter-bit NLL on a toy model") {
    // ref: bigrams (the,cat)x2 (cat,sat) (cat,ren); ctx the=2 cat=2;
    // V = |{the,cat,sat,ren}| + 1 = 5; α = 1/10
    val ref = Seq((10L, "the cat sat"), (11L, "the cat ren")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat"),  // (the,cat): A=21,B=25 → floor(4·log2(25/21)) = 1
                            // (cat,sat): A=11,B=25 → (25/11)⁴≈26.7 → 4
      (2L, "zebra jumps"),  // unseen ctx: A=1,B=5 → 5⁴=625 → 9
      (3L, "the dog"),      // seen ctx, unseen pair: A=1,B=25 → 18
      (4L, "hi")            // no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexity(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L, 5L, 625L)), out(1L))   // 5000 div 8
    assert(out(2L) == ((1L, 9L, 2250L)), out(2L))  // 9000 div 4
    assert(out(3L) == ((1L, 18L, 4500L)), out(3L))
    assert(out(4L) == ((0L, 0L, 0L)), out(4L))
    // partitioning-independent (exact integer path end to end)
    val rep = TextAnalysis.lmPerplexity(docs.repartition(7), "doc_id", "text",
      ref.repartition(3), "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep == out)
  }

  test("dsirImportance/dsirSelect: hand-computed quarter-bit log-ratios") {
    // target: tpc (the,cat)x2 (cat,sat) (cat,ren); tctx the=2 cat=2; tV=5
    // background adds (zebra,jumps); bctx zebra=1; bV=7
    val target = Seq((10L, "the cat sat"), (11L, "the cat ren"))
      .toDF("doc_id", "text")
    val bg = Seq((10L, "the cat sat"), (11L, "the cat ren"),
      (12L, "zebra jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat"), // t: 1+4=5  b: floor(4lg(27/21))=1, floor(4lg(27/11))=5 → 6
      (2L, "zebra jumps"), // t: unseen ctx → bitlen(5^4)-1=9; b: A=11,B=17 → 2
      (3L, "the dog"),     // t: A=1,B=25 → 18; b: A=1,B=27 → 19
      (4L, "hi")           // no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dsirImportance(docs, "doc_id", "text",
      target, "text", bg, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((2L, 5L, 6L, 1L)), out(1L))
    assert(out(2L) == ((1L, 9L, 2L, -7L)), out(2L))
    assert(out(3L) == ((1L, 18L, 19L, 1L)), out(3L))
    assert(out(4L) == ((0L, 0L, 0L, 0L)), out(4L))
    // selection: importance desc, doc_id ties → 1, 3, 4
    val sel = TextAnalysis.dsirSelect(docs, "doc_id", "text",
      target, "text", bg, "text", k = 3)
      .select("doc_id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sel == Map(1L -> 1L, 3L -> 2L, 4L -> 3L), sel)
  }

  test("phraseSearch: adjacency, overlaps, repeated words, 1-based pos") {
    import spark.implicits._
    val d = Seq(
      (1L, "big table scan then table scan again"), // 2 matches, first 2
      (2L, "table then scan apart"), // words present, never adjacent
      (3L, "a a a"), // overlapping repeated-word matches
      (4L, "scan table"), // wrong order
      (5L, "")).toDF("doc_id", "text")
    val two = TextAnalysis.phraseSearch(d, "doc_id", "text",
      Seq("table", "scan")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_matches"),
        r.getAs[Long]("first_pos"))).toSet
    assert(two == Set((1L, 2L, 2L)), s"got: $two")
    val rep = TextAnalysis.phraseSearch(d, "doc_id", "text", Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_matches"),
        r.getAs[Long]("first_pos"))).toSet
    assert(rep == Set((3L, 2L, 1L)), s"got: $rep") // positions 1-2, 2-3
  }

  test("vocabularyCoverage: Zipf head shares, ties by term, empty text") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c"), (2L, ""), (3L, "b")).toDF(
      "doc_id", "text")
    // counts: a=3, b=3, c=1; ranks (cnt desc, term): a, b, c
    val got = TextAnalysis.vocabularyCoverage(d, "text", Seq(1, 2, 3))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("covered_tokens"),
          r.getAs[Long]("total_tokens"), r.getAs[Long]("total_types"),
          r.getAs[Double]("coverage")))).toMap
    assert(got(1L) == ((1L, 3L, 7L, 3L, 3.0 / 7.0)), s"got: $got")
    assert(got(2L) == ((2L, 6L, 7L, 3L, 6.0 / 7.0)), s"got: $got")
    assert(got(3L) == ((3L, 7L, 7L, 3L, 1.0)), s"got: $got")
  }

  test("textRankKeywords: the connective word outranks its satellites") {
    import spark.implicits._
    // hub is adjacent to 4 distinct words; each satellite only to hub.
    // A lone one-word doc must not break pair generation.
    val d = Seq((1L, "hub x hub y"), (2L, "hub z hub w"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.textRankKeywords(d, "doc_id", "text",
        iterations = 3, topK = 5).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("rank_ppb")))
    val byRank = got.sortBy(-_._2)
    assert(byRank.head._1 == "hub", s"got: ${byRank.toSeq}")
    // the four satellites are structurally identical → identical ranks
    val sat = got.filter(_._1 != "hub").map(_._2).toSet
    assert(sat.size == 1, s"satellite ranks differ: $got")
  }

  test("textRankKeywords: chain centrality — middle outranks the ends") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.textRankKeywords(d, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("rank_ppb"))
      .toMap
    assert(got("b") > got("a"), s"got: $got")
    assert(got("a") == got("c"), s"got: $got")
  }

  test("textRankKeywords: partitioning-invariant") {
    import spark.implicits._
    val d = (0 until 30).map(i => (i.toLong,
      s"w${i % 5} w${i % 7} w${i % 3} w${i % 5}")).toDF("doc_id", "text")
    val a = TextAnalysis.textRankKeywords(d.repartition(1),
      "doc_id", "text").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet
    val b = TextAnalysis.textRankKeywords(d.repartition(9),
      "doc_id", "text").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("phraseSearch: 3-word chain joins through the middle word") {
    import spark.implicits._
    val d = Seq(
      (1L, "full table scan merge now"), // match at 2
      (2L, "table scan x merge")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(d, "doc_id", "text",
      Seq("table", "scan", "merge")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_matches"),
        r.getAs[Long]("first_pos"))).toSet
    assert(got == Set((1L, 1L, 2L)), s"got: $got")
  }

  test("chunkCensus: exact chunk counts at the window/stride " +
      "boundaries and overlap re-emission accounting") {
    // window 4, stride 3 (overlap 1): n=4 → 1 chunk; n=5 → 2 chunks
    // (emitted 5+1); n=7 → 2 (over=3, ceil(3/3)=1); n=8 → 3 (over=4)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words(4)), (2L, words(5)), (3L, words(7)),
      (4L, words(8)), (5L, words(2))).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkCensus(d, "text", window = 4, stride = 3)
      .collect().map(r => r.getAs[Long]("n_chunks") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens_total"),
          r.getAs[Long]("emitted_total")))).toMap
    // 1 chunk: docs n=4 and n=2 → tokens 6, emitted 6 (no overlap)
    assert(rows(1L) == ((2L, 6L, 6L)), s"got ${rows(1L)}")
    // 2 chunks: n=5 and n=7 → tokens 12, emitted 12 + 2·1 overlap
    assert(rows(2L) == ((2L, 12L, 14L)), s"got ${rows(2L)}")
    // 3 chunks: n=8 → emitted 8 + 2·1
    assert(rows(3L) == ((1L, 8L, 10L)), s"got ${rows(3L)}")
    val r2 = TextAnalysis.chunkCensus(d, "text", window = 4, stride = 3)
      .collect().find(_.getAs[Long]("n_chunks") == 2L).get
    assert(math.abs(r2.getAs[Double]("dup_ratio") - 14.0 / 12.0) < 1e-15)
  }

  test("boilerplateGrams: shared header surfaces, singletons and " +
    "short docs excluded") {
    val header = "LICENSE-HEADER-V2.0 " // 20 shared chars
    val d = Seq(
      (1L, header + "alpha body text that differs per doc"),
      (2L, header + "beta entirely different tail content"),
      (3L, header + "gamma third variant of the body here"),
      (4L, "short")) // < 16 chars: no grams
      .toDF("doc_id", "text")
    val rows = TextAnalysis.boilerplateGrams(d, "doc_id", "text",
      gram = 16, stride = 8, topK = 20).collect()
    // only the position-1 header gram is shared by all three long
    // docs; every other strided gram spans doc-specific bytes
    assert(rows.length == 1, s"got ${rows.toSeq}")
    assert(rows.head.getAs[String]("gram") == header.substring(0, 16))
    assert(rows.head.getAs[Long]("df_docs") == 3L)
    // share is over ALL docs (4), floor ppb
    assert(rows.head.getAs[Long]("df_ppb") == 750000000L)
  }

  test("jsdPairs: identical slices at 0, disjoint slices at exactly " +
    "1 bit") {
    val d = Seq(
      ("a", "x y x y"), ("b", "x y x y"), // identical distributions
      ("c", "zz zz zz")                   // disjoint from both
    ).toDF("g", "text")
    val out = TextAnalysis.jsdPairs(d, "g", "text").collect()
      .map(r => ((r.getAs[String]("lang_a"), r.getAs[String]("lang_b")),
        (r.getAs[Long]("jsd2_u"), r.getAs[Double]("jsd_bits")))).toMap
    // same shares -> every term cancels exactly (qb(2p, 2e9) = qb(p, 1e9))
    assert(out(("a", "b")) == ((0L, 0.0)))
    // disjoint vocab -> each side's full ppb mass pays the flat 1-bit
    // mixing cost: jsd2_u = 2 * 1e9 * 4 quarter-bits = 8e9 -> 1.0 bit
    assert(out(("a", "c")) == ((8000000000L, 1.0)))
    assert(out(("b", "c")) == ((8000000000L, 1.0)))
  }

  test("jsdPairs: asymmetric overlap is between 0 and 1 and " +
    "partitioning-invariant") {
    val d = Seq.tabulate(40)(i =>
      ("g" + (i % 3), s"w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("g", "text")
    val a = TextAnalysis.jsdPairs(d.repartition(1), "g", "text")
      .collect().toSeq
    val b = TextAnalysis.jsdPairs(d.repartition(9), "g", "text")
      .collect().toSeq
    assert(a == b && a.size == 3)
    // true JSD is in [0, 1] bits; the quarter-bit floors undershoot
    // each log by < 1/4 bit, giving the estimator +/- 0.25-bit slack
    assert(a.forall { r =>
      val j = r.getAs[Double]("jsd_bits"); j > -0.26 && j < 1.26 })
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("memorizationRisk: repeated-shingle type and mass shares") {
    import graft.operators.Dedup
    // 3-shingles: {"a b c": df 2, "b c d": 1, "b c e": 1}
    val d = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val r = Dedup.memorizationRisk(d, "doc_id", "text",
      shingleWords = 3).collect().head
    assert(r.getAs[Long]("n_shingles") == 3L)
    assert(r.getAs[Long]("n_dup_shingles") == 1L)
    assert(r.getAs[Long]("occ_total") == 4L)
    assert(r.getAs[Long]("occ_in_dup") == 2L)
    assert(r.getAs[Long]("max_df") == 2L)
    assert(r.getAs[Long]("dup_type_share_ppb") == 333333333L)
    assert(r.getAs[Long]("dup_mass_share_ppb") == 500000000L)
  }

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (4L, "completely different content about spark catalyst optimizer internals and shuffles")
  ).toDF("id", "text")

  test("exact: duplicate group found, min id survives") {
    val out = Dedup.exact(corpus, "id", "text")
    val g = out.filter(col("dup_count") === 2).select("id", "keep_id", "keep")
      .orderBy("id").collect()
    assert(g.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(g.forall(_.getLong(1) == 1L))
    assert(g.map(_.getBoolean(2)).toSeq == Seq(true, false))
  }

  test("ngramContainmentPairs: subset scores 1.0 where Jaccard misses; " +
    "ties keep the lower id as container") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4"),           // 2 shingles — subset of doc 2
      (2L, "w1 w2 w3 w4 w5 w6"),     // 4 shingles
      (3L, "w1 w2 w3 w4 w5 w6"),     // exact dup of 2 (size tie)
      (4L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      shingleWords = 3, threshold = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("contained_id"), r.getAs[Long]("container_id"),
        r.getAs[Long]("n_common"), r.getAs[Double]("containment"))).toSet
    assert(got == Set(
      (1L, 2L, 2L, 1.0), // smaller set is the contained side
      (1L, 3L, 2L, 1.0),
      (3L, 2L, 4L, 1.0)), // tie: lower id survives as container
      s"got: $got")
    // the symmetric score misses the genuine subset pair at the same bar
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == Set((2L, 3L)),
      s"jaccard at 0.9 must only keep the exact dup: $jac")
  }

  test("paragraphDedup: first occurrence wins, in-doc dups, empty docs") {
    val docs = Seq(
      (1L, "A\n\nB\n\nA"),   // in-doc dup: second A removed
      (2L, "B\n\nC"),        // B already seen in doc 1
      (3L, ""),              // empty doc survives as-is
      (4L, "X")              // single paragraph, untouched
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, "A\n\nB", 1L), (2L, "C", 1L), (3L, "", 0L), (4L, "X", 0L)))
  }

  test("spanDedupRewrite: duplicated blocks excised, first occurrence kept") {
    // spanWords = 4 over 3 docs: doc 1 and doc 2 share their first two
    // 4-word blocks (8 words of boilerplate); doc 2 keeps only its
    // unique tail; doc 3 is pure boilerplate (all blocks duplicate
    // doc 1's) and comes back empty. Doc 1, first occurrence, is whole.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta one two three four"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta five six seven eight"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "")
    ).toDF("id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
      Dedup.spanDedupRewrite(df, "id", "text", spanWords = 4)
        .collect().map(r =>
          r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val out = rows(docs)
    assert(out(1L) ==
      ("alpha beta gamma delta epsilon zeta eta theta one two three four", 0L))
    assert(out(2L) == ("five six seven eight", 2L))
    assert(out(3L) == ("", 2L), "pure boilerplate must empty out")
    assert(out(4L) == ("", 0L), "empty input stays empty, nothing removed")
    assert(rows(docs.repartition(5)) == out,
      "rewrite must not depend on partitioning")
  }

  test("spanDuplicationProfile: block totals, fraction, affected docs") {
    // 4-word blocks; docs 1 and 2 share their first block; doc 3 empty
    val docs = Seq(
      (1L, "alpha beta gamma delta one two three four"),
      (2L, "alpha beta gamma delta five six seven eight"),
      (3L, "")
    ).toDF("id", "text")
    val out = Dedup.spanDuplicationProfile(docs, "id", "text", spanWords = 4)
      .collect()(0)
    assert(out.getAs[Long]("n_blocks") == 4L)
    assert(out.getAs[Long]("n_dup_blocks") == 1L,
      "doc 2's copy of the shared block is the one duplicate")
    assert(out.getAs[Long]("n_docs_with_blocks") == 2L)
    assert(out.getAs[Long]("n_docs_affected") == 1L)
    assert(out.getAs[Double]("dup_fraction") == 0.25)
  }

  test("spanDecontaminate: eval blocks excised from train, rest survives") {
    // 4-word blocks. Train doc 1 quotes eval doc 10's first block in its
    // middle block; doc 2 is clean; doc 3 is a verbatim eval quote and
    // empties out; doc 4 is empty input.
    val train = Seq(
      (1L, "one two three four alpha beta gamma delta nine ten eleven twelve"),
      (2L, "completely clean training text with no quoted benchmark words"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "")
    ).toDF("id", "text")
    val eval_ = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("id", "text")
    def rows(t: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
      Dedup.spanDecontaminate(t, "id", "text", e, "id", "text",
          spanWords = 4)
        .collect().map(r =>
          r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val out = rows(train, eval_)
    assert(out(1L) == ("one two three four nine ten eleven twelve", 1L),
      "the quoted eval block must excise, its neighbors survive")
    assert(out(2L) ==
      ("completely clean training text with no quoted benchmark words", 0L))
    assert(out(3L) == ("", 2L), "fully-contaminated doc empties out")
    assert(out(4L) == ("", 0L))
    // unlike spanDedupRewrite there is no first-occurrence privilege:
    // EVERY train copy of an eval block is cut, even the earliest
    assert(!out.values.exists(_._1.contains("alpha")),
      "no train occurrence of an eval block may survive")
    assert(rows(train.repartition(5), eval_.repartition(3)) == out,
      "rewrite must not depend on partitioning")
  }

  test("crossCorpusContamination: quoted eval doc flagged at containment 1") {
    val train = Seq(
      // contains eval doc 10 verbatim inside a longer page
      (1L, "intro text here the quick brown fox jumps over the lazy dog and more trailing words"),
      (2L, "completely unrelated training page about catalyst optimizer internals"),
      (3L, "shares the quick brown tail only")
    ).toDF("id", "text")
    val eval_ = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "nothing in common with any training document at all whatsoever")
    ).toDF("id", "text")
    val out = Dedup.crossCorpusContamination(train, "id", "text",
      eval_, "id", "text", shingleWords = 3, minShared = 1)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // doc 10 has 7 tri-gram shingles, all inside train doc 1 → containment 1.0
    assert(rows.get((1L, 10L)).exists { case (n, c) => n == 7L && c == 1.0 },
      s"got $rows")
    // partial overlap scored as the covered fraction, asymmetric by probe
    assert(rows.contains((3L, 10L)) && rows((3L, 10L))._2 < 1.0)
    // no pair ever forms against the disjoint eval doc or train doc 2
    assert(!rows.keys.exists { case (t, p) => p == 11L || t == 2L })
    // minShared prunes the weak pair; the verbatim quote survives
    val strict = Dedup.crossCorpusContamination(train, "id", "text",
      eval_, "id", "text", shingleWords = 3, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 10L)))
    // the unhinted shingle join broadcasts at this size — no postings
    // shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe postings should broadcast:\n$plan")
  }

  test("crossCorpusContamination: shuffle join with broadcast disabled, same rows") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely different words here entirely")).toDF("id", "text")
    val eval_ = Seq((10L, "alpha beta gamma delta")).toDF("id", "text")
    def rows() = Dedup.crossCorpusContamination(
        train, "id", "text", eval_, "id", "text",
        shingleWords = 2, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val broadcastRows = rows()
    val sharded = withoutBroadcast(rows())
    assert(broadcastRows.nonEmpty && sharded == broadcastRows,
      s"shuffle arm diverged: $sharded vs $broadcastRows")
  }

  test("dropHotBuckets: non-broadcast arm drops the same buckets") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => ("hot", i)) ++
      Seq(("cold", 1L), ("cold", 2L))
    val df = rows.toDF("bucket", "id")
    def kept(): Set[(String, Long)] =
      Dedup.dropHotBuckets(df, Seq("bucket"), maxSize = 10L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = Set(("cold", 1L), ("cold", 2L))
    assert(kept() == expected)
    assert(withoutBroadcast(kept()) == expected,
      "non-broadcast anti-join arm diverged")
  }

  test("building dropHotBuckets and crossCorpusContamination runs no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rows = (1L to 40L).map(i => (if (i <= 30) "hot" else s"k$i", i))
      .toDF("k", "id")
    val train = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val eval_ = Seq((10L, "alpha beta gamma")).toDF("id", "text")
    // Jobs are told apart by a local property of this thread, so other
    // work in the shared session is not counted; a marker job after the
    // build drains the listener bus.
    val sc = spark.sparkContext
    val tag = "graft.spec.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "build")
      Dedup.dropHotBuckets(rows, Seq("k"), maxSize = 10L)
      Dedup.crossCorpusContamination(train, "id", "text",
        eval_, "id", "text", shingleWords = 2)
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(jobs.asScala.toSeq == Seq("marker"),
      s"building ran jobs: ${jobs.asScala.mkString(",")}")
  }

  test("minhash: exact + near duplicates collide, unrelated do not") {
    val pairs = Dedup.minhashNearDuplicates(corpus, "id", "text",
      shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical text → distance 0; unrelated text far") {
    val sh = Dedup.simhash(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 10)
  }

  test("native simhash60 expression == compositional aggregation, and codegens") {
    val native = Dedup.simhash(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashViaAggregation(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == agg)
    // the native path stays inside WholeStageCodegen with no exchange
    val plan = Dedup.simhash(corpus, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    // SQL registration path works too
    graft.functions.GraftFunctions.register(spark)
    corpus.createOrReplaceTempView("sh_corpus")
    val viaSql = spark.sql(
      "SELECT id, simhash60(split(trim(text), '\\\\s+')) AS s FROM sh_corpus")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == native)
  }

  test("native minhash_signature == compositional aggregation") {
    val native = Dedup.minhashSignatures(corpus, "id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val agg = Dedup.minhashSignaturesViaAggregation(corpus, "id", "text", 3, 16)
      .collect().map(r => r.getLong(0) ->
        (0 until 16).map(i => r.getAs[Long](s"mh_$i"))).toMap
    assert(native == agg)
  }

  test("ngramJaccard: near-dup scores high, jaccard in (0,1]") {
    val out = Dedup.ngramJaccardPairs(corpus, "id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) > 0.5 && out((1L, 3L)) < 1.0)
  }

  test("dropHotBuckets plan shape: join-free when nothing is hot, broadcast anti-join when hot") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (if (i <= 30) "hot" else s"k$i", i))
      .toDF("k", "id")
      .persist()
    // the final adaptive plan, after an action has run it
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.asInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
        .executedPlan.toString
    try {
      // no hot keys at a permissive cap → AQE drops the join
      val cold = Dedup.dropHotBuckets(rows, Seq("k"), maxSize = 100L)
      assert(cold.collect().length == 40)
      assert(!finalPlan(cold).contains("Join"),
        s"no-hot-keys case must run join-free:\n${finalPlan(cold)}")
      // one hot key → broadcast LEFT ANTI join, hot rows gone, rest intact
      val pruned = Dedup.dropHotBuckets(rows, Seq("k"), maxSize = 10L)
      val kept = pruned.collect().map(_.getString(0))
      assert(kept.length == 10 && !kept.contains("hot"))
      val plan = finalPlan(pruned)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"expected broadcast anti-join, got:\n$plan")
      // every key has > 0 rows → all dropped
      assert(Dedup.dropHotBuckets(rows, Seq("k"), maxSize = 0L).count() == 0L)
    } finally rows.unpersist()
  }

  test("winnowed fingerprint sets: shuffle-free per-row plan (no Window, no Exchange)") {
    import spark.implicits._
    val docs = Seq((1L, "some text about winnowing fingerprints at scale"))
      .toDF("doc_id", "text")
    val plan = graft.operators.TextAnalysis
      .winnowedFingerprintSets(docs, "doc_id", "text", k = 8, w = 4)
      .queryExecution.executedPlan.toString
    // the r4 formulation paid an explode + window-function shuffle per
    // corpus pass; the fused kernel must keep selection inside the scan
    assert(!plan.contains("Window"), s"selection fell back to a window:\n$plan")
    assert(!plan.contains("Exchange"), s"per-row selection must not shuffle:\n$plan")
  }

  test("hot-bucket pre-filter: over-full postings drop whole buckets, rest unchanged") {
    import spark.implicits._
    // three docs share shingle-space pairwise; with maxDocFreq=2 every
    // bucket holding all three is dropped BEFORE aggregation, so only
    // evidence carried by <=2-doc shingles survives — and with a
    // permissive cap the result equals the unpruned one.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), // exact pair via all shingles
      (3L, "a b c x y z"), (4L, "p q r s t u")  // 3 shares prefix with 1,2
    ).toDF("id", "text")
    val loose = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.01,
      maxDocFreq = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // shingles "a b c" + "b c x"… — (1,3) share exactly "a b c" (1 common)
    assert(loose((1L, 2L)) == 4L && loose((1L, 3L)) == 1L)
    // cap 2: the only 3-doc bucket is "a b c" → (1,3)/(2,3) lose their
    // single shared shingle and vanish; (1,2) keeps its 3 private ones
    val tight = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.01,
      maxDocFreq = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(tight.keySet == Set((1L, 2L)), s"got $tight")
    assert(tight((1L, 2L)) == 3L)
  }

  test("connectedComponents: chains collapse to the min id") {
    import spark.implicits._
    // chain 1-2-3, pair 7-9, singleton-free by construction
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // long path: convergence needs multiple propagation rounds
    val path = (1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val ccPath = Dedup.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccPath.values.toSet == Set(1L))
  }

  test("connectedComponents: local union-find finish == distributed stars") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    def labels(threshold: Long) =
      Dedup.connectedComponents(pairs, localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L << 20) == labels(0L))
  }

  test("connectedComponents: empty pairs input yields empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    // self-loops only is empty after loop-dropping too
    val loops = Seq((5L, 5L)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(loops).count() == 0L)
  }

  test("connectedComponents: 1000-node path converges in O(log n) rounds") {
    import spark.implicits._
    val n = 1000L
    // worst case for label propagation: diameter n-1 (would need ~n rounds)
    val path = (1L to n).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    // threshold 0 forces the distributed star path (no local finish)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(path,
      maxIter = 30, localEdgeThreshold = 0)
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == n && cc.values.toSet == Set(1L))
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"star rounds $rounds exceed 2*log2(n) = $bound")
  }

  test("connectedComponents: hash-scale ids do not overflow the fixpoint test") {
    import spark.implicits._
    // ids near 2^60 — a Long label-sum fixpoint would overflow under ANSI
    val base = 1L << 60
    val pairs = Seq((base + 1L, base + 2L), (base + 2L, base + 3L),
      (base + 7L, base + 9L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(base + 1L -> (base + 1L), base + 2L -> (base + 1L),
      base + 3L -> (base + 1L), base + 7L -> (base + 7L),
      base + 9L -> (base + 7L)))
  }

  test("applyComponentDedupWithStats: survivors + cluster provenance") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y"), (9L, "z"))
      .toDF("doc_id", "payload")
    // cluster {1,2,3} (keeper = component rep), singleton 7 and 9
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.applyComponentDedupWithStats(df, "doc_id", pairs)
      .select("doc_id", "cluster_size", "n_removed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 3L, 2L), (7L, 1L, 0L), (9L, 1L, 0L)), out)
    // same survivors as the plain apply
    val plain = Dedup.applyComponentDedup(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(out.map(_._1) == plain)
  }

  test("prefix-filtered ngramJaccard == full postings join (lossless)") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    Seq(0.3, 0.6, 0.9).foreach { t =>
      val full = key(Dedup.ngramJaccardPairs(corpus, "id", "text", 3, t))
      val pref = key(Dedup.ngramJaccardPairsPrefix(corpus, "id", "text", 3, t))
      assert(pref == full, s"prefix filtering lost/added pairs at t=$t")
    }
    // and on the sf0.001 documents table
    val docs = spark.read.parquet(sf("documents"))
    val t = 0.5
    val full = key(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t))
    val pref = key(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, t))
    assert(pref == full)
    assert(full.nonEmpty) // exact dups exist in the corpus
  }

  test("prefix dedup salts over-cap buckets: hot shingles lose no pairs") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // A HOT-bucket corpus: every doc shares the boilerplate head, so its
    // shingles put all 40 docs in the same prefix buckets. Pairs of docs
    // that are near-dups of each other differ only in the tail token.
    val boiler = "terms of service apply to all content on this site"
    val docs = (0 until 40).map { i =>
      // 20 near-dup pairs: (2k, 2k+1) share everything but the last word
      (i.toLong, s"$boiler item ${i / 2} variant ${i % 2}")
    }.toDF("id", "text")
    val t = 0.6
    val exact = key(Dedup.ngramJaccardPairs(docs, "id", "text", 3, t))
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    // cap of 5 forces S = ceil(40/5) = 8-way salting on every hot bucket;
    // the pre-r9 drop-at-cap behavior returns NO pairs here (every shared
    // shingle is over-cap) — salting must return the exact pair set
    val salted = key(Dedup.ngramJaccardPairsPrefix(docs, "id", "text", 3, t,
      maxDocFreq = 5L))
    assert(salted == exact, "salted over-cap buckets lost or added pairs")
    // and with the cap far above every bucket, the cold branch agrees too
    val cold = key(Dedup.ngramJaccardPairsPrefix(docs, "id", "text", 3, t,
      maxDocFreq = 100000L))
    assert(cold == exact)
  }

  test("prefix filter REFUSES a saturated shingle space (width " +
      "contract enforced, not just documented)") {
    import spark.implicits._
    // 120 docs over a 4-word vocabulary at shingleWords = 1: the
    // universe (4) is nowhere near the corpus — exactly the sf1
    // rehearsal pathology that heap-OOMed the w=3 form mid-shuffle.
    // The guard must refuse BEFORE the pair expansion, name the
    // counts, and point at the fix.
    val sat = (0 until 120).map { i =>
      (i.toLong, Seq("big", "data", "dup", "row")
        .map(w => Seq(w, w, w)((i + w.length) % 3)).mkString(" "))
    }.toDF("id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(sat, "id", "text",
        shingleWords = 1, threshold = 0.5).count()
    }
    assert(ex.getMessage.contains("saturated shingle space"),
      ex.getMessage)
    assert(ex.getMessage.contains("Widen shingleWords"), ex.getMessage)
    // the documented override runs the same corpus to completion
    assert(Dedup.ngramJaccardPairsPrefix(sat, "id", "text",
      shingleWords = 1, threshold = 0.5,
      minUniverseRatio = 0.0).count() >= 0L)
  }

  test("minhashBandSweep: nested candidates, monotone frontier, and " +
      "agreement with the single-config quality eval") {
    import graft.operators.Dedup
    // near-dup pairs at several margins plus singletons
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine"),
      (5L, "one two three four five six seven eight ten"),
      (6L, "completely different text with no overlap at all here"),
      (7L, "another unrelated document body entirely its own words")
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashBandSweep(docs, "doc_id", "text",
        shingleWords = 3, k = 64, bandsSweep = Seq(8, 16, 32),
        threshold = 0.10)
      .collect().sortBy(_.getAs[Long]("bands"))
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(8L, 16L, 32L))
    assert(rows.map(_.getAs[Long]("rows_per_band")).toSeq ==
      Seq(8L, 4L, 2L))
    // a full-band agreement implies both half-band agreements, so the
    // candidate sets are NESTED in the band count: counts, kept pairs,
    // and hits are all monotone non-decreasing
    for (c <- Seq("n_candidates", "n_pred", "n_hit")) {
      val v = rows.map(_.getAs[Long](c)).toSeq
      assert(v == v.sorted, s"$c not monotone: $v")
    }
    // the 16-band row must reproduce the standalone quality eval
    val eval = Dedup.minhashQualityEval(docs, "doc_id", "text",
      shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.10)
      .collect().head
    val b16 = rows(1)
    for (c <- Seq("n_truth", "n_pred", "n_hit"))
      assert(b16.getAs[Long](c) == eval.getAs[Long](c),
        s"$c: sweep=${b16.getAs[Long](c)} eval=${eval.getAs[Long](c)}")
    // exact duplicates (1,3) always share every band → candidate and
    // predicted at every config
    assert(rows.head.getAs[Long]("n_pred") >= 1L)
  }

  test("blockedEntityPairs: in-block Levenshtein matches, cross-block " +
    "and far names excluded") {
    val d = Seq(
      (1L, "Acme Corp", "US"), (2L, "Acme Corp.", "US"), // lev 1
      (3L, "Acme Group", "US"),                          // lev 5 from #1
      (4L, "Acme Corp", "DE"),                           // other block
      (5L, "Acmi Corp", "US")                            // lev 1 from #1
    ).toDF("id", "name", "country")
    val out = Dedup.blockedEntityPairs(d, "id", "name",
      Seq("country"), maxDistance = 2, maxBlock = 1024L)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("distance")))
    // (1,2) lev 1, (1,5) lev 1, (2,5) lev 2 — (4,*) blocked away,
    // (3,*) beyond the distance cap; ordered by (distance, id_a, id_b)
    assert(out == Seq((1L, 2L, 1L), (1L, 5L, 1L), (2L, 5L, 2L)),
      s"got $out")
  }

  test("blockedEntityPairs: over-broad blocks are dropped, not " +
    "exploded") {
    val big = Seq.tabulate(40)(i => (i.toLong, s"Name$i", "hot"))
    val small = Seq((100L, "Zed Inc", "cold"), (101L, "Zed Inc", "cold"))
    val d = (big ++ small).toDF("id", "name", "block")
    val out = Dedup.blockedEntityPairs(d, "id", "name", Seq("block"),
      maxDistance = 2, maxBlock = 16L)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // the 40-row block exceeds maxBlock -> contributes nothing;
    // the cold block's exact-dup pair survives
    assert(out == Seq((100L, 101L)), s"got $out")
  }
}

class CurationSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Curation

  test("curation pipeline: gates, dedups, samples — deterministically") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it runs for fun"),
      (2L, "the quick brown fox jumps over the lazy dog and it runs for fun"), // dup
      (3L, "@@@@ ##### 12345 67890 !!!!"), // low quality
      (4L, "a house is in the woods and the river is near it for sure today")
    ).toDF("doc_id", "text")
    val stop = graft.operators.TextAnalysis.defaultMarkers.values.flatten.toSeq
    val out = Curation.basicPipeline(docs, "doc_id", "text", stop,
      minQuality = 0.3, sampleRate = 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(2L), "duplicate must not survive")
    assert(!out.contains(3L), "low-quality doc must be gated out")
    assert(out.contains(1L) && out.contains(4L))
    val again = Curation.basicPipeline(docs.repartition(5), "doc_id", "text",
      stop, minQuality = 0.3, sampleRate = 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out)
  }

  test("perplexity buckets: thirds by score, value-tied cuts") {
    // 9 docs, scores 10×3, 20×3, 30×3 → clean thirds
    val scored = (1L to 9L).map(i => (i, ((i - 1) / 3 + 1) * 10))
      .toDF("doc_id", "milli_bits_per_token")
    val out = Curation.perplexityBuckets(scored)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((1L to 3L).forall(out(_) == "head"))
    assert((4L to 6L).forall(out(_) == "middle"))
    assert((7L to 9L).forall(out(_) == "tail"))
    // ties straddling a cut share a bucket: 5 docs at score 10, 1 at 20.
    // ceil(6/3)=2 lands inside the run of 10s → all five are head.
    val tied = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L),
      (6L, 20L)).toDF("doc_id", "milli_bits_per_token")
    val tb = Curation.perplexityBuckets(tied)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((1L to 5L).forall(tb(_) == "head"), s"tied run split: $tb")
    assert(tb(6L) == "tail")
    // partition-independence
    val again = Curation.perplexityBuckets(scored.repartition(4))
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(again == out)
  }

  test("tokenBudgetPerGroup: greedy hash-order admission, soft cap") {
    val docs = (1L to 60L).map(i => (i, s"g${i % 2}", i % 7 + 3))
      .toDF("doc_id", "grp", "n_tokens")
    // full hash ordering via an effectively-unbounded budget
    val order = Curation.tokenBudgetPerGroup(docs, "grp", "doc_id",
        "n_tokens", budget = 1000000L)
      .select("grp", "doc_id", "n_tokens", "tokens_before").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(order.length == 60, "unbounded budget admits everything")
    // local greedy replay per group = the expected admitted set at 50
    val expected = order.groupBy(_._1).iterator.flatMap { case (_, g) =>
      g.sortBy(_._4).takeWhile(_._4 < 50L).map(_._2)
    }.toSet
    def admitted(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Curation.tokenBudgetPerGroup(df, "grp", "doc_id", "n_tokens", 50L)
        .select("doc_id").as[Long].collect().toSet
    val out = admitted(docs)
    assert(out == expected)
    assert(admitted(docs.repartition(7)) == out,
      "admission must not depend on partitioning")
    // soft cap: each group spends >= budget only via its crossing doc
    val spend = Curation.tokenBudgetPerGroup(docs, "grp", "doc_id",
        "n_tokens", 50L)
      .groupBy("grp").agg(max(col("tokens_before") + col("n_tokens"))
        .as("spent"), max("n_tokens").as("max_doc"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    spend.foreach { case (spent, maxDoc) =>
      assert(spent >= 50L && spent < 50L + maxDoc,
        s"spend $spent outside [budget, budget + max doc)")
    }
  }

  test("calibrateScores: exact integer ECDF over equi-width buckets") {
    val docs = (0L to 9L).map(i => (i, i.toDouble)).toDF("doc_id", "score")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long, Long)] =
      Curation.calibrateScores(df, "score", buckets = 5)
        .select("doc_id", "bucket", "cum_lt", "n_total").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
        .toMap
    val out = rows(docs)
    // bucket = min(4, floor(s * 5 / 9)): 0,0→b0 | 1..3→... hand-check all
    val expectBucket = (0L to 9L).map(i =>
      i -> math.min(4, (i * 5.0 / 9.0).toInt)).toMap
    out.foreach { case (id, (b, _, _)) =>
      assert(b == expectBucket(id), s"doc $id bucket $b") }
    // cum_lt is the exact count of strictly-lower buckets' rows
    val perBucket = expectBucket.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    out.foreach { case (id, (b, lt, n)) =>
      assert(n == 10L)
      assert(lt == (0 until b).map(perBucket.getOrElse(_, 0L)).sum,
        s"doc $id cum_lt $lt")
    }
    assert(rows(docs.repartition(4)) == out,
      "calibration must not depend on partitioning")
    // degenerate corpus: one score value → bucket 0, cum_lt 0
    val flat = Seq((1L, 7.0), (2L, 7.0)).toDF("doc_id", "score")
    val f = Curation.calibrateScores(flat, "score", 5)
      .select("bucket", "cum_lt", "n_total").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((0, 0L, 2L)))
    // percentile addressing: cum_lt >= ceil(0.7 * n) keeps the top 30 %
    val top = out.filter { case (_, (_, lt, n)) => lt >= math.ceil(0.7 * n) }
    assert(top.keySet == Set(7L, 8L, 9L) || top.keySet == Set(8L, 9L),
      s"top-fraction cut surprised: ${top.keySet}")
  }
}

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("benfordAudit: digits from BIGINT formatting, full 9-row spine") {
    import graft.operators.Profiling
    // 1.0→1, 2.0→2, 19.0→1, 0.5→5; 1e-7 floors to m=0 and drops
    val df = Seq(1.0, 2.0, 19.0, 0.5, 0.0000001).toDF("v")
    val rows = Profiling.benfordAudit(df, "v").collect()
    assert(rows.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    val byD = rows.map(r => r.getAs[Long]("digit") ->
      ((r.getAs[Long]("n_d"), r.getAs[Long]("share_ppb"),
        r.getAs[Long]("delta_ppb")))).toMap
    assert(rows.head.getAs[Long]("n_values") == 4L)
    assert(byD(1L) == ((2L, 500000000L, 500000000L - 301029996L)))
    assert(byD(2L)._1 == 1L && byD(5L)._1 == 1L)
    assert(byD(9L) == ((0L, 0L, -45757491L))) // empty digit kept
    // frozen table sanity: masses sum to 1e9 within rounding
    assert(math.abs(Profiling.BenfordPpb.map(_._2).sum -
      1000000000L) <= 2L)
  }

  test("robustOutliers: median/MAD scoring, degenerate-scale contract") {
    import graft.operators.Profiling
    // group a: [1,2,3,4,100] → med 3, devs [2,1,0,1,97], mad 1 →
    // only 100 clears |x-med| > 3·mad, robust_z = 97
    // group b: [5,5,5,9] → med 5, mad 0 → z NULL, the 9 still flags
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex
        .map { case (v, i) => (i.toLong, "a", v) } ++
      Seq(5.0, 5.0, 5.0, 9.0).zipWithIndex
        .map { case (v, i) => (10L + i, "b", v) })
      .toDF("id", "grp", "value")
    def rows(d: org.apache.spark.sql.DataFrame)
        : Map[Long, (Double, Double, Option[Double], Boolean)] =
      Profiling.robustOutliers(d, "grp", "value", k = 3.0)
        .collect().map { r =>
          r.getAs[Long]("id") -> ((r.getAs[Double]("med"),
            r.getAs[Double]("mad"),
            Option(r.getAs[java.lang.Double]("robust_z"))
              .map(_.doubleValue),
            r.getAs[Boolean]("is_outlier")))
        }.toMap
    val out = rows(df)
    assert(out(4L) == ((3.0, 1.0, Some(97.0), true)), s"got ${out(4L)}")
    assert((0L to 3L).forall(!out(_)._4), "inliers must not flag")
    assert(out(0L)._3.contains(-2.0))
    // degenerate group: no scale → NULL z; deviation still flags
    assert(out(10L) == ((5.0, 0.0, None, false)))
    assert(out(13L) == ((5.0, 0.0, None, true)),
      "any deviation from a zero-MAD group flags")
    assert(rows(df.repartition(5)) == out,
      "scoring must not depend on partitioning")
  }

  import spark.implicits._
  import graft.operators.Profiling

  test("corpusProfile: exact lower median, totals, and shares") {
    val df = Seq(
      ("en", "web", 10L), ("en", "web", 30L), ("en", "web", 20L),
      ("en", "web", 40L), // even group: lower median = 20
      ("de", "web", 7L), ("de", "web", 7L), ("de", "web", 9L) // ties: 7
    ).toDF("lang", "source", "n_chars")
    val out = Profiling.corpusProfile(df, Seq("lang", "source"), "n_chars")
      .collect().map(r => (r.getString(0), r)).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 4L)
    assert(en.getAs[Long]("total_size") == 100L)
    assert(en.getAs[Long]("median_size") == 20L)
    assert(en.getAs[Long]("min_size") == 10L && en.getAs[Long]("max_size") == 40L)
    assert(en.getAs[Double]("share") == 4.0 / 7)
    val de = out("de")
    assert(de.getAs[Long]("median_size") == 7L)
    assert(de.getAs[Double]("share") == 3.0 / 7)
  }

  test("corpusProfile: NULL group keys form a group, not a dropped row") {
    val df = Seq((Option("en"), "web", 10L), (Option.empty[String], "web", 4L),
        (Option.empty[String], "web", 6L))
      .toDF("lang", "source", "n_chars")
    val out = Profiling.corpusProfile(df, Seq("lang", "source"), "n_chars")
      .collect()
    assert(out.length == 2)
    val nullGroup = out.find(_.isNullAt(0)).get
    assert(nullGroup.getAs[Long]("n_docs") == 2L)
    assert(nullGroup.getAs[Long]("median_size") == 4L) // lower median
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  private def docs = (1L to 1000L).map(i => (i, s"lang${i % 3}"))
    .toDF("doc_id", "lang")

  test("uniform: deterministic, partition-independent, splits disjoint") {
    val a = Sampling.uniform(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.uniform(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    // roughly the right size (hash-uniform over 1000 keys)
    assert(a.size > 200 && a.size < 400, s"got ${a.size}")
    // a narrower rate is a strict subset → disjoint [0,r1) / [r1,r2) splits
    val narrow = Sampling.uniform(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(narrow.subsetOf(a))
  }

  test("stratifiedCap: at most N per stratum, deterministic ranks") {
    val out = Sampling.stratifiedCap(docs, "lang", "doc_id", 25)
    val perLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.values.forall(_ == 25L))
    val again = Sampling.stratifiedCap(docs.repartition(5), "lang", "doc_id", 25)
      .select("doc_id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = out.select("doc_id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == first)
  }

  test("shardAssign: a partition-independent permutation in shard order") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      Sampling.shardAssign(df, "doc_id", 8)
        .select("doc_id", "shard", "position").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val out = rows(docs)
    // every row assigned exactly once, shards in range
    assert(out.size == 1000 && out.map(_._1).size == 1000)
    assert(out.forall { case (_, s, _) => s >= 0 && s < 8 })
    // positions are contiguous 1..n within every shard → (shard, position)
    // is a total order over the corpus (a true epoch permutation)
    out.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3) == (1L to g.size).toSet, s"shard $s positions")
    }
    // hash-uniform shards stay balanced (1000 rows over 8 shards)
    val sizes = out.groupBy(_._2).values.map(_.size)
    assert(sizes.min > 80 && sizes.max < 170, s"skewed shards: $sizes")
    assert(rows(docs.repartition(7)) == out,
      "shard layout must not depend on input partitioning")
  }

  test("packTokenBudget: greedy bins respect the soft budget, deterministic") {
    val withTokens = docs.withColumn("n_tokens",
      (col("doc_id") % 100 + 1).cast(org.apache.spark.sql.types.LongType))
    def packed(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      Sampling.packTokenBudget(df, "doc_id", "n_tokens", 256L, 4)
        .select("doc_id", "n_tokens", "shard", "bin", "bin_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val out = packed(withTokens)
    assert(out.size == 1000)
    // per (shard, bin): the bin total may overflow 256 by less than its
    // LAST document only (greedy soft bound), and bins are dense 0..max
    out.groupBy(t => (t._3, t._4)).foreach { case ((s, b), g) =>
      val total = g.map(_._2).sum
      val maxDoc = g.map(_._2).max
      assert(total < 256L + maxDoc, s"bin ($s,$b) total $total")
      assert(g.map(_._5).toSet == (1L to g.size).toSet, s"bin ($s,$b) pos")
    }
    out.groupBy(_._3).foreach { case (s, g) =>
      val bins = g.map(_._4).toSet
      assert(bins == (0L to bins.max).toSet, s"shard $s bins not dense")
    }
    assert(packed(withTokens.repartition(9)).toSet == out.toSet,
      "packing must not depend on input partitioning")
  }

  test("mixtureSample: per-group multiplicity, deterministic, unlisted drop") {
    // lang0: straight 2× upsample; lang1: kept; lang2 unlisted → dropped
    val rates = Map("lang0" -> 2.0, "lang1" -> 1.0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      Sampling.mixtureSample(df, "doc_id", "lang", rates)
        .select("doc_id", "lang", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val out = rows(docs)
    val byLang = out.groupBy(_._2)
    assert(!byLang.contains("lang2"), "unlisted groups must drop")
    // integer rates are exact: every lang0 row twice (epochs 0 and 1),
    // every lang1 row once (epoch 0)
    val lang0Docs = docs.filter(col("lang") === "lang0")
      .select("doc_id").as[Long].collect().toSet
    assert(byLang("lang0") ==
      lang0Docs.flatMap(d => Set((d, "lang0", 0L), (d, "lang0", 1L))))
    assert(byLang("lang1").forall(_._3 == 0L) &&
      byLang("lang1").size == 334)
    assert(rows(docs.repartition(7)) == out,
      "mixture must not depend on partitioning")
    // fractional rate: multiplicity 1 or 2, expectation ~1.5, and the
    // upsampled subset is exactly the uniform(rate-1) draw — same hash
    val frac = Sampling.mixtureSample(docs, "doc_id", "lang",
        Map("lang1" -> 1.5))
      .groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(frac.values.forall(n => n == 1L || n == 2L))
    val doubled = frac.filter(_._2 == 2L).keySet
    val halfDraw = Sampling.uniform(
        docs.filter(col("lang") === "lang1"), "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(doubled == halfDraw,
      "fractional copies must ride the same hash draw as uniform()")
  }

  test("fixedSize: exactly k, monotone in k, partition-independent") {
    def ids(df: org.apache.spark.sql.DataFrame, k: Int): Seq[Long] =
      Sampling.fixedSize(df, "doc_id", k)
        .orderBy("sample_rank").select("doc_id").as[Long].collect().toSeq
    val k50 = ids(docs, 50)
    assert(k50.size == 50 && k50.distinct.size == 50)
    assert(ids(docs.repartition(7), 50) == k50,
      "fixed-size draw must not depend on partitioning")
    // monotone: a bigger budget only APPENDS draws
    assert(ids(docs, 80).take(50) == k50)
    // same draw order as uniform(): the 50 smallest hashes are all
    // below any rate cut that admits at least 50 rows
    val r30 = Sampling.uniform(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(r30.size >= 50 && k50.toSet.subsetOf(r30),
      "fixed-size and fixed-rate samples must share the hash order")
    // plan: TakeOrderedAndProject, never a global sort
    val plan = Sampling.fixedSize(docs, "doc_id", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("temperatureSample: rates ∝ sqrt(n_max/n_g), derived not handed in") {
    // skewed corpus: 600 big / 300 mid / 100 small
    val skewed = ((1L to 600L).map((_, "big")) ++
        (601L to 900L).map((_, "mid")) ++
        (901L to 1000L).map((_, "small")))
      .toDF("doc_id", "lang")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      Sampling.temperatureSample(df, "doc_id", "lang", headRate = 0.5)
        .select("doc_id", "lang", "epoch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val out = rows(skewed)
    assert(rows(skewed.repartition(7)) == out,
      "temperature mixture must not depend on partitioning")
    val byLang = out.groupBy(_._2)
    // head samples at exactly the uniform(0.5) draw (rate anchored there)
    val bigKept = byLang("big").map(_._1)
    val bigDraw = Sampling.uniform(
        skewed.filter(col("lang") === "big"), "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(bigKept == bigDraw, "head group must ride the plain 0.5 draw")
    // small group: rate = 0.5*sqrt(6) ≈ 1.22 → every doc at least once,
    // the doubled subset is exactly the fractional-draw (same op order
    // as the operator: sqrt and divide are correctly rounded)
    val smallRate = 0.5 * math.sqrt(600.0 / 100.0)
    assert(byLang("small").map(_._1) == (901L to 1000L).toSet,
      "rate > 1 → every small-group doc kept at least once")
    val doubled = byLang("small").groupBy(_._1)
      .filter(_._2.size == 2).keySet
    val fracDraw = Sampling.uniform(
        skewed.filter(col("lang") === "small"), "doc_id",
        smallRate - math.floor(smallRate))
      .select("doc_id").as[Long].collect().toSet
    assert(doubled == fracDraw,
      "upsample fraction must ride the same hash draw as uniform()")
    // expected counts ∝ sqrt(n_g): 600→~300, 300→~212, 100→~122
    assert(byLang("mid").size > 170 && byLang("mid").size < 255,
      s"mid kept ${byLang("mid").size}, expected ≈ 212")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("hubnessCensus: hub in-degree counted, antihubs kept at zero") {
    import graft.operators.Similarity
    // a and b are each other's (and everyone's) neighborhood core;
    // d points away and collects nothing
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.1f)),
      (3L, Array(0.98f, -0.1f)), (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hubnessCensus(vecs, "vec_id", "embedding",
      k = 1, topHubs = 10).collect()
      .map(r => r.getAs[Long]("vid") -> r.getAs[Long]("in_degree"))
      .toMap
    assert(got.size == 4)
    assert(got(1L) == 2L, s"$got") // top-1 of 2 and 3
    assert(got(2L) == 2L, s"$got") // top-1 of 1 and 4
    assert(got(3L) == 0L && got(4L) == 0L, s"$got") // antihubs kept
  }

  test("mutualTopK: only reciprocal pairs survive, hub edge dropped") {
    import graft.operators.Similarity
    // a↔b mutual at k=1; c's top-1 is b but b's top-1 is a → dropped
    val d = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val rows = Similarity.mutualTopK(d, "vec_id", "embedding", k = 1)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getAs[Long]("u"), r.getAs[Long]("v")) == ((1L, 2L)))
    assert(r.getAs[Long]("rank_uv") == 1L && r.getAs[Long]("rank_vu") == 1L)
  }

  test("anchored exact arms: budget >= n reproduces the brute forms; " +
      "small budgets are exact per-pair subsets; pick is deterministic") {
    import graft.operators.{Embeddings, Similarity}
    val vecs = (0L until 12L).map { i =>
      val a = (i % 3).toDouble; val b = (i / 3).toDouble
      (i, Array((1.0 + a).toFloat, (0.3 * b).toFloat,
        (0.1 * i).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // budget >= n: the anchor set IS the corpus — byte-identical to brute
    assert(sorted(Similarity.mutualTopKAnchored(vecs, "vec_id",
        "embedding", k = 3, anchorBudget = 100)) ==
      sorted(Similarity.mutualTopK(vecs, "vec_id", "embedding", k = 3)))
    assert(sorted(Similarity.hubnessCensusAnchored(vecs, "vec_id",
        "embedding", k = 3, topHubs = 12, anchorBudget = 100)) ==
      sorted(Similarity.hubnessCensus(vecs, "vec_id", "embedding",
        k = 3, topHubs = 12)))
    assert(Embeddings.intrinsicDimensionAnchored(vecs, "vec_id",
        "embedding", anchorBudget = 100).collect().toSeq ==
      Embeddings.intrinsicDimension(vecs, "vec_id", "embedding")
        .collect().toSeq)
    // the pick: exact budget, deterministic across invocations
    val anchors = Similarity.anchorSample(vecs, "vec_id", 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(anchors.size == 4)
    assert(Similarity.anchorSample(vecs, "vec_id", 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet == anchors)
    // small budget: anchored mutual = brute mutual pairs with at least
    // one anchored endpoint (per-pair semantics untouched)
    val expect = Similarity.mutualTopK(vecs, "vec_id", "embedding",
        k = 3).collect()
      .filter(r => anchors(r.getAs[Long]("u")) || anchors(r.getAs[Long]("v")))
      .map(_.toString).sorted.toSeq
    assert(sorted(Similarity.mutualTopKAnchored(vecs, "vec_id",
      "embedding", k = 3, anchorBudget = 4)) == expect)
    // small budget: anchored hubness = in-degrees of the brute kNN
    // graph restricted to anchor queries, universe intact
    val tk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3, cosine = true,
        excludeSelf = true).collect()
      .filter(r => anchors(r.getAs[Long]("query_id")))
    val indeg = tk.groupBy(_.getAs[Long]("corpus_id"))
      .view.mapValues(_.length.toLong).toMap
    val got = Similarity.hubnessCensusAnchored(vecs, "vec_id",
        "embedding", k = 3, topHubs = 12, anchorBudget = 4).collect()
      .map(r => r.getAs[Long]("vid") -> r.getAs[Long]("in_degree"))
      .toMap
    assert(got.size == 12) // full universe, antihubs at 0
    assert(got.forall { case (vid, d) => d == indeg.getOrElse(vid, 0L) })
    // anchored TwoNN folds exactly budget ratios (vectors all distinct)
    assert(Embeddings.intrinsicDimensionAnchored(vecs, "vec_id",
        "embedding", anchorBudget = 4)
      .collect().head.getAs[Long]("n_points") == 4L)
  }

  test("IVF kNN-graph forms: single-cell index reproduces the brute " +
      "forms exactly; multi-cell probe never returns self") {
    import graft.operators.{Embeddings, Similarity}
    // 12 vectors, 3 loose directions — enough rows that top-5 lists,
    // mutual pairs, and TwoNN ratios are all non-trivial
    val vecs = (0L until 12L).map { i =>
      val a = (i % 3).toDouble; val b = (i / 3).toDouble
      (i, Array((1.0 + a).toFloat, (0.3 * b).toFloat,
        (0.1 * i).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    // numCentroids = 1 ⇒ every vector shares the one cell ⇒ the IVF
    // candidate set IS the all-pairs set: byte-identical results
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(sorted(Similarity.mutualTopKIvf(vecs, "vec_id", "embedding",
        k = 3, numCentroids = 1, nprobe = 1)) ==
      sorted(Similarity.mutualTopK(vecs, "vec_id", "embedding", k = 3)))
    assert(sorted(Similarity.hubnessCensusIvf(vecs, "vec_id", "embedding",
        k = 3, topHubs = 12, numCentroids = 1, nprobe = 1)) ==
      sorted(Similarity.hubnessCensus(vecs, "vec_id", "embedding",
        k = 3, topHubs = 12)))
    assert(Embeddings.intrinsicDimensionIvf(vecs, "vec_id", "embedding",
        numCentroids = 1, nprobe = 1).collect().toSeq ==
      Embeddings.intrinsicDimension(vecs, "vec_id", "embedding")
        .collect().toSeq)
    // multi-cell: self never appears, ranks stay contiguous from 1
    val topk = Similarity.ivfSelfTopK(vecs, "vec_id", "embedding",
      k = 3, numCentroids = 4, refineRounds = 1, nprobe = 2).collect()
    assert(topk.nonEmpty)
    assert(topk.forall(r =>
      r.getAs[Long]("query_id") != r.getAs[Long]("corpus_id")))
    topk.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq,
        s"ranks not contiguous for query $q: $ranks")
      assert(ranks.length <= 3)
    }
  }

  test("ivfRecallSweep: monotone frontier, full probe reaches exact " +
      "recall") {
    import graft.operators.Similarity
    val vecs = (0L until 24L).map { i =>
      (i, Array((i % 4).toFloat, (i % 7).toFloat,
        (0.5f * i), 1.0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val rows = Similarity.ivfRecallSweep(q, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3, numCentroids = 4,
        refineRounds = 1, nprobes = Seq(1, 2, 4))
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    assert(rows.forall(_.getAs[Long]("n_queries") == 4L))
    // candidates and recall both monotone non-decreasing in nprobe
    val cands = rows.map(_.getAs[Long]("n_candidates")).toSeq
    val recs = rows.map(_.getAs[Long]("recall_ppm")).toSeq
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
    assert(recs == recs.sorted, s"recall not monotone: $recs")
    // probing every cell IS exact search: recall_ppm = 10^6 and the
    // candidate set is the whole corpus per query MINUS the query's
    // own row — the sweep is leave-one-out on both arms (the advice-
    // round fix: a self match inflated recall@k by up to 1/k)
    assert(recs.last == 1000000L, s"full probe must be exact: $recs")
    assert(cands.last == 23L * 4L,
      s"full probe scores all non-self pairs: $cands")
  }

  test("kmeansSummary: exact sizes/inertia, drained clusters report zero") {
    // two tight value classes over 8 vectors
    val two = ((1L to 4L).map((_, Array(1.0f, 0.0f, 0.0f, 0.0f))) ++
        (5L to 8L).map((_, Array(0.0f, 1.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame, k: Int)
        : Map[Long, (Long, Double)] =
      Similarity.kmeansSummary(df, "vec_id", "embedding", k = k,
          refineRounds = 1)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
    val out = rows(two, 2)
    assert(out.size == 2)
    assert(out.values.map(_._1).sum == 8L, s"members must total 8: $out")
    assert(out.values.forall(_._2 >= 0))
    assert(rows(two.repartition(5), 2) == out,
      "summary must not depend on partitioning")
    // all-identical corpus, k = 3: ties drain two clusters — they must
    // still report (0, 0), and the surviving cluster is inertia-free
    val same = (1L to 3L).map((_, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val deg = rows(same, 3)
    assert(deg.size == 3)
    assert(deg.values.map(_._1).toSeq.sorted == Seq(0L, 0L, 3L))
    assert(deg.values.forall(_._2 == 0),
      s"identical members ⇒ zero inertia everywhere: $deg")
  }

  test("silhouetteSummary: separated clusters ≈1, degenerate 0, " +
      "partition-independent") {
    // two tight, well-separated value classes → members score near 1
    val two = ((1L to 4L).map((_, Array(10.0f, 0.0f, 0.0f, 0.0f))) ++
        (5L to 8L).map((_, Array(-10.0f, 0.0f, 0.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    // 3 Lloyd rounds: even if both md5-ordered seeds land in one blob,
    // the drained-centroid escape + two reassignments separate them
    def rows(df: org.apache.spark.sql.DataFrame, k: Int)
        : Map[Long, (Long, Option[Double])] =
      Similarity.silhouetteSummary(df, "vec_id", "embedding", k = k,
          refineRounds = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val out = rows(two, 2)
    assert(out.size == 2)
    assert(out.values.map(_._1).sum == 8L)
    assert(out.values.forall(_._2.exists(s => s > 0.9 && s <= 1.0)),
      s"tight separated clusters must score near 1: $out")
    assert(rows(two.repartition(5), 2) == out,
      "silhouette must not depend on partitioning")
    // all-identical corpus: every vector sits ON both centroids →
    // b2 = 0 convention scores 0; drained clusters report NULL
    val same = (1L to 3L).map((_, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val deg = rows(same, 3)
    assert(deg.size == 3)
    assert(deg.values.map(_._1).toSeq.sorted == Seq(0L, 0L, 3L))
    assert(deg.values.filter(_._1 > 0).forall(_._2.contains(0.0)),
      s"identical corpus ⇒ zero silhouette: $deg")
    assert(deg.values.filter(_._1 == 0).forall(_._2.isEmpty),
      s"drained clusters ⇒ NULL silhouette: $deg")
  }

  test("sq8TopK: hand-computed codes and exact reconstruction scores") {
    // dims: d1 ∈ [0,1] span 1e6; d2 ∈ [0,2] span 2e6
    val corpus = Seq(
      (1L, Array(0.0f, 0.0f)),   // codes [0,0]
      (2L, Array(1.0f, 2.0f)),   // codes [255,255] → exact corners
      (3L, Array(0.5f, 1.0f))    // codes [127,127] (127.5 floors)
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(q, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // v2 reconstructs exactly (grid corners): score = 1·1 + 1·2 = 3.0
    // v3: (127/255)·1 + (127/255)·2 = 381/255; v1: mn corner = 0.0
    assert(out == Seq((2L, 3.0, 1L), (3L, 381.0 / 255.0, 2L),
      (1L, 0.0, 3L)))
  }

  test("bruteForceTopK cosine: self is rank 1, neighbor rank 2") {
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 2, cosine = true)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 0L && out(0).getDouble(2) > 0.999)
    assert(out(1).getLong(1) == 1L)
  }

  test("dotExact matches hand-computed quantized dot product exactly") {
    val out = vecs.filter(col("vec_id") === 1L)
      .select(Similarity.dotExact(col("embedding"), col("embedding")).as("d"))
      .head().getDouble(0)
    def q6(x: Float): BigDecimal =
      BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(out == (q6(0.9f) * q6(0.9f) + q6(0.1f) * q6(0.1f)).toDouble)
  }

  test("native vector kernels == compositional formulations bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val V = graft.functions.VectorFunctions
    val pairs = vecs.as("x").crossJoin(vecs.select(col("embedding").as("e2")))
    val rows = pairs.select(
      Similarity.dotExact(col("embedding"), col("e2")).as("de_ref"),
      V.dotExact(col("embedding"), col("e2")).as("de"),
      Similarity.normExact(col("embedding")).as("ne_ref"),
      V.normExact(col("embedding")).as("ne")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot_exact differs")
      assert(r.getDouble(2) == r.getDouble(3), "norm_exact differs")
    }
    // rhp_signatures over quantized vectors: table t == compositional
    // signature for that table
    (0 until 3).foreach { t =>
      val sig = vecs.select(V.quantize6(col("embedding")).as("q"))
        .select(
          Similarity.rhpSignature(col("q"), 4, t, 4).as("ref"),
          element_at(V.rhpSignatures(col("q"), 4, 3), t + 1).as("fast"))
      sig.collect().foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"rhp signature differs for table $t"))
    }
  }

  test("lshTopK: self retrieved (identical vectors share every bucket)") {
    val out = Similarity.lshTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 1, planes = 4, tables = 2)
      .collect()
    assert(out.length == 1 && out(0).getLong(1) == 0L)
  }

  test("ivfTopK: probes the nearest cell and ranks members exactly") {
    // Fixed-K centroids = the 2 ids smallest in md5_60 order: {1, 2}.
    // Cells: v0,v1,v3→c1, v2→c2. Query 0 probes c1 → candidates {0,1,3}.
    val out = Similarity.ivfTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 2, numCentroids = 2, nprobe = 1)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 0L) // self, dot 1.0
    assert(out(1).getLong(1) == 1L) // near neighbor, dot 0.9
  }

  test("lshTopKMultiProbe: candidate set == exactly Hamming-distance ≤ 1") {
    // Compute every vector's table-0 signature, then assert from first
    // principles: with k large enough to never truncate, single-probe
    // retrieves EXACTLY the equal-signature vectors and multi-probe
    // EXACTLY those within Hamming distance 1 — a regression in the
    // probe expansion (e.g. dropping the bit flips) breaks the equality.
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.{VectorFunctions => V}
    val sigs = vecs.select(col("vec_id"),
        element_at(V.rhpSignatures(V.quantize6(col("embedding")), 4, 1), 1)
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = sigs(0L)
    val sameBucket = sigs.filter(_._2 == q).keySet
    val withinOne = sigs.filter(s => java.lang.Long.bitCount(s._2 ^ q) <= 1).keySet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(1)).toSet
    val single = ids(Similarity.lshTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 10, planes = 4, tables = 1))
    val multi = ids(Similarity.lshTopKMultiProbe(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 10, planes = 4, tables = 1))
    assert(single == sameBucket, s"single-probe $single != bucket $sameBucket")
    assert(multi == withinOne, s"multi-probe $multi != d<=1 set $withinOne")
    // non-vacuity: the fixture must actually exercise the expansion
    assume(withinOne != sameBucket,
      "fixture has no 1-bit neighbor; flip assertion vacuous")
  }

  test("pqTopK: codes and ADC scores match the hand computation") {
    // M = 2 subspaces over 4 dims, K = 2 codes; seeds (md5 order) = {1, 2}
    // → codebook m0: r1 = (0.9, 0.1), r2 = (0, 1); m1: both (0, 0).
    // Encodings: v0 → [r1, r1] (d2 0.02 vs 2), v1 → [r1, r1] (exact),
    // v2 → [r2, r1], v3 → [r1, r1] (m0: 0.82 < 1; m1 tie → r1).
    // Query v0 tables: m0 contribs (0.9, 0), m1 (0, 0) → ADC scores:
    // v0 = v1 = v3 = 0.9, v2 = 0. Ties break on corpus_id.
    val out = Similarity.pqTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 4, numSubspaces = 2, numCodes = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 0.9, 1L), (1L, 0.9, 2L),
      (3L, 0.9, 3L), (2L, 0.0, 4L)), s"got ${out.toSeq}")
    // determinism across reruns and partitionings
    val again = Similarity.pqTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs.repartition(3), "vec_id", "embedding", k = 4,
      numSubspaces = 2, numCodes = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("ivfPqTopK: probed cell bounds candidates, ADC prices them") {
    // IVF (K=2, no refinement): centroids {1, 2}; cells v0,v1,v3 → c1,
    // v2 → c2; query 0 probes c1 only (nprobe = 1) → candidates {0,1,3}.
    // PQ (M=2, 2 codes): ADC scores 0.9 for all three (see the pqTopK
    // spec) → ranks by id; v2 is NEVER scored despite its equal-rank
    // cosine irrelevance — the cell bound, not the score, excluded it.
    val out = Similarity.ivfPqTopK(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 4, numCentroids = 2,
      refineRounds = 0, nprobe = 1, numSubspaces = 2, numCodes = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 0.9, 1L), (1L, 0.9, 2L), (3L, 0.9, 3L)),
      s"got ${out.toSeq}")
  }

  test("ivfTopK2: coarse cell routes to fine cells, exact ranks inside") {
    // fine = {1, 2} (md5_60 order), coarse = {1}: both fine centroids
    // hang off coarse 1; query 0 probes coarse 1, picks nearest fine 1
    // (nprobe=1) → candidates are cell-1 members {0, 1, 3}
    val out = Similarity.ivfTopK2(
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 2,
      numCentroids = 2, numCoarse = 1, nprobe = 1, cprobe = 1)
      .orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 0L)
    assert(out(1).getLong(1) == 1L)
  }

  test("prunePrototypes: keeps the hardest per cell, hand-checked") {
    // K=2, no refinement: centroids {1, 2} (md5_60 order); cells
    // c1 = {0, 1, 3}, c2 = {2}. d2 to c1: v3 = 1.82, v0 = 0.02, v1 = 0
    // → hardest-first v3, v0, v1; keep 2. c2: v2 alone.
    val out = Similarity.prunePrototypes(vecs, "vec_id", "embedding",
      numCentroids = 2, refineRounds = 0, keepPerCell = 2)
      .select("corpus_id", "cent_id", "hard_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((3L, 1L, 1L), (0L, 1L, 2L), (2L, 2L, 1L)), out)
    // an unbounded budget keeps the whole corpus, each exactly once
    val all = Similarity.prunePrototypes(vecs, "vec_id", "embedding",
      numCentroids = 2, refineRounds = 0, keepPerCell = 1000)
      .select("corpus_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("hardNegativesIvf: nearest same-label impostor is excluded") {
    // labels: 0,1 → A; 2 → B; 3 → C. Anchor 0's nearest neighbor is 1
    // (dot 0.9) but shares label A — hard negatives must be {2, 3}
    // (both dot 0, tie → corpus_id order), and the anchor itself never
    // appears (own label).
    val labeled = Seq((0L, 10), (1L, 10), (2L, 20), (3L, 30))
      .toDF("vec_id", "label")
    val corpus = vecs.join(labeled, "vec_id")
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 4)
    val out = Similarity.hardNegativesIvf(idx, corpus, "vec_id", "label",
      corpus.filter(col("vec_id") === 0L), "vec_id", "embedding", "label",
      k = 2, nprobe = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(out.toSeq == Seq((2L, 20L, 1L), (3L, 30L, 2L)), s"got ${out.toSeq}")
  }

  test("hardNegativesIvf full-probe == exact filtered ranking (sf0.001)") {
    val e = spark.read.parquet(sf("embeddings"))
    val n = e.count().toInt
    val anchors = e.filter(col("vec_id") < 10)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding",
      numCentroids = 16, refineRounds = 1)
    val got = Similarity.hardNegativesIvf(idx, e, "vec_id", "label",
      anchors, "vec_id", "embedding", "label", k = 5, nprobe = 16)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // oracle: ALL exact pair scores, label-filtered in the driver, re-ranked
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val all = Similarity.bruteForceTopK(anchors, "vec_id", "embedding",
      e, "vec_id", "embedding", k = n)
      .select("query_id", "corpus_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = all.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.filter(r => labels(r._2) != labels(q))
        .sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
        .map { case (r, i) => (q, r._2, (i + 1).toLong) }
    }.toSet
    assert(got == want)
  }

  test("mrrEval: hand-ranked lists — exact reciprocal-rank fold") {
    import spark.implicits._
    // gold: q1→c5, q2→c7, q3→c9
    val truth = Seq((1L, 5L, 1L), (2L, 7L, 1L), (3L, 9L, 1L))
      .toDF("query_id", "corpus_id", "rank")
    // system: q1 places its gold at rank 3, q2 at rank 1, q3 misses
    val approx = Seq(
      (1L, 8L, 1L), (1L, 6L, 2L), (1L, 5L, 3L),
      (2L, 7L, 1L), (2L, 5L, 2L),
      (3L, 2L, 1L)).toDF("query_id", "corpus_id", "rank")
    val r = Similarity.mrrEval(approx, truth, k = 10).collect()(0)
    assert(r.getAs[Long]("n_queries") == 3L)
    assert(r.getAs[Long]("n_hits") == 2L)
    assert(r.getAs[Long]("n_hits_at_1") == 1L)
    // lcm(1..10)=2520: 2520/3 + 2520/1 = 840 + 2520
    assert(r.getAs[Long]("rr_scaled_sum") == 3360L)
    assert(r.getAs[Double]("mrr") == 3360.0 / (3 * 2520.0))
  }

  test("mrrEval: gold beyond k never counts; k bound is the cutoff") {
    import spark.implicits._
    val truth = Seq((1L, 5L, 1L)).toDF("query_id", "corpus_id", "rank")
    val approx = Seq((1L, 5L, 2L)).toDF("query_id", "corpus_id", "rank")
    val r1 = Similarity.mrrEval(approx, truth, k = 1).collect()(0)
    assert(r1.getAs[Long]("n_hits") == 0L)
    assert(r1.getAs[Double]("mrr") == 0.0)
    val r2 = Similarity.mrrEval(approx, truth, k = 2).collect()(0)
    assert(r2.getAs[Long]("n_hits") == 1L)
    assert(r2.getAs[Double]("mrr") == 0.5) // lcm(1..2)/2 over 1·lcm
  }

  test("radiusNeighborCounts: boundary inclusive, cross-cell, negatives") {
    import spark.implicits._
    // r = 0.02 (cell = 20000 micro). A-B exactly r apart (inclusive
    // boundary); D sits in the NEGATIVE cell across the origin from A
    // (floor assignment + 3x3 replication must still pair them);
    // C reaches only B; E is isolated.
    val d = Seq(
      (1L, Array(0.0f, 0.0f)), // A
      (2L, Array(0.02f, 0.0f)), // B: dist(A,B) = r exactly
      (3L, Array(0.029f, 0.0f)), // C: 0.009 from B, 0.029 from A
      (4L, Array(-0.01f, -0.01f)), // D: 0.0141 from A, cell (-1,-1)
      (5L, Array(0.5f, 0.5f)) // E: alone
    ).toDF("vec_id", "embedding")
    val got = Similarity.radiusNeighborCounts(d, "vec_id", "embedding",
        rMicro = 20000L, topK = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_neighbors")))
      .toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 1L), (4L, 1L)), s"got: $got")
  }

  test("radiusNeighborCounts: partitioning-invariant, symmetric counts") {
    import spark.implicits._
    val d = (0 until 40).map(i =>
      (i.toLong, Array((i % 7) * 0.01f - 0.03f, (i % 5) * 0.01f - 0.02f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.radiusNeighborCounts(d.repartition(1),
      "vec_id", "embedding", 15000L, 40).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq
    val b = Similarity.radiusNeighborCounts(d.repartition(13),
      "vec_id", "embedding", 15000L, 40).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    // every counted pair is mutual: total ordered-pair count is even
    assert(a.map(_._2).sum % 2 == 0)
  }

  test("ndcgEval: hand-scored lists — integer DCG fold, partial truth") {
    import spark.implicits._
    // k=3 weights: 1000000000, 630929754, 500000000
    val truth = Seq(
      (1L, 5L, 1L), (1L, 6L, 2L), (1L, 7L, 3L), // q1: rel 3, 2, 1
      (2L, 1L, 1L), (2L, 2L, 2L) // q2: only 2 true neighbors
    ).toDF("query_id", "corpus_id", "rank")
    // q1 swaps the top two and wastes rank 3 on a miss; q2 absent
    val approx = Seq((1L, 6L, 1L), (1L, 5L, 2L), (1L, 9L, 3L))
      .toDF("query_id", "corpus_id", "rank")
    val got = Similarity.ndcgEval(approx, truth, k = 3).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("dcg_scaled"), r.getAs[Long]("idcg_scaled"),
          r.getAs[Double]("ndcg")))).toMap
    // q1: dcg = 2·1e9 + 3·630929754, idcg = 3·1e9 + 2·630929754 + 5e8
    assert(got(1L) == ((3892789262L, 4761859508L,
      3892789262.0 / 4761859508.0)))
    // q2: no system rows → dcg 0; idcg from its 2-row truth list
    assert(got(2L) == ((0L, 4261859508L, 0.0)))
  }

  test("ndcgEval: perfect ordering scores exactly 1.0") {
    import spark.implicits._
    val truth = Seq((1L, 5L, 1L), (1L, 6L, 2L), (1L, 7L, 3L))
      .toDF("query_id", "corpus_id", "rank")
    val r = Similarity.ndcgEval(truth, truth, k = 3).collect()(0)
    assert(r.getAs[Long]("dcg_scaled") == r.getAs[Long]("idcg_scaled"))
    assert(r.getAs[Double]("ndcg") == 1.0)
  }

  test("ANN recall on sf0.001: multi-probe >= single-probe; all nonzero") {
    // recall@5 vs the exact brute-force baseline over the real embedding
    // corpus — the quality axis of the approximate family
    val e = spark.read.parquet(sf("embeddings"))
    val q = e.filter(col("vec_id") < 10)
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(Similarity.bruteForceTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding", k = 5))
    def recall(approx: Set[(Long, Long)]): Double =
      (exact intersect approx).size.toDouble / exact.size
    val single = recall(topkSet(Similarity.lshTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, planes = 8, tables = 2)))
    val multi = recall(topkSet(Similarity.lshTopKMultiProbe(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, planes = 8, tables = 2)))
    val ivf = recall(topkSet(Similarity.ivfTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, nprobe = 2)))
    assert(multi >= single,
      s"multi-probe recall $multi must not trail single-probe $single")
    assert(single > 0.0 && ivf > 0.0, s"degenerate recall: lsh=$single ivf=$ivf")
    // every query must at least retrieve itself (it is in the corpus)
    assert(multi >= 0.2)
    // the compressed family trades recall for memory, not for zero:
    // ADC ranking over 4×16 sampled codes must keep signal, and adding
    // the IVF bound must not lift recall above unbounded PQ
    val pq = recall(topkSet(Similarity.pqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numSubspaces = 4, numCodes = 16)))
    val ivfpq = recall(topkSet(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16)))
    val ivfpqRes = recall(topkSet(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true)))
    assert(pq > 0.0 && ivfpq > 0.0 && ivfpqRes > 0.0,
      s"degenerate compressed-family recall: pq=$pq ivfpq=$ivfpq res=$ivfpqRes")
    // PRODUCTION-budget ADC: M=8 subspaces × 256 codes (the standard
    // PQ configuration) must recover most of what the 4×16 demo budget
    // loses — with 8-dim subspaces and a 256-entry codebook over a
    // 500-vector corpus, quantization error is small enough that ADC
    // ranking approaches the exact ordering.
    val pqProd = recall(topkSet(Similarity.pqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numSubspaces = 8, numCodes = 256)))
    assert(pqProd >= pq,
      s"production budget 8x256 recall $pqProd under demo 4x16 $pq")
    assert(pqProd >= 0.5, s"production-budget ADC recall too low: $pqProd")
    println(s"[recall@5 sf0.001] lsh=$single multi=$multi ivf=$ivf " +
      s"pq=$pq ivfpq=$ivfpq ivfpq_res=$ivfpqRes pq_8x256=$pqProd")
  }

  test("production PQ budget (M=8, 256 codes): residual ADC ~= IVF recall") {
    // The demo budget (4 subspaces × 16 codes on 64 dims) deliberately
    // underfits — it shows the machinery, not the deployment point. At a
    // production-ish budget (8 subspaces × 256 codes = 8 bytes/vector,
    // the classic IVFADC configuration) residual ADC must recover
    // (nearly) everything the candidate bound allows: uncompressed IVF
    // at the same nprobe is the ceiling — the two may only differ where
    // quantization error reorders near-ties at the top-k boundary.
    val e = spark.read.parquet(sf("embeddings"))
    val q = e.filter(col("vec_id") < 20)
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(Similarity.bruteForceTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding", k = 5))
    def recall(approx: Set[(Long, Long)]): Double =
      (exact intersect approx).size.toDouble / exact.size
    val ivf = recall(topkSet(Similarity.ivfTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, nprobe = 2)))
    val adcRes = recall(topkSet(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, refineRounds = 0, nprobe = 2,
      numSubspaces = 8, numCodes = 256, residual = true)))
    println(s"[recall@5 sf0.001 M=8x256] ivf=$ivf ivfadc_res=$adcRes")
    assert(adcRes >= ivf - 0.05,
      s"production-budget residual ADC recall $adcRes must sit within " +
        s"0.05 of the uncompressed IVF ceiling $ivf at equal nprobe")
  }

  test("IVFADC+R: exact rerank recovers every true hit the shortlist holds") {
    // Reranking re-scores the ADC top-`rerank` with exact dot products,
    // so (a) its recall can only meet or beat raw ADC at the same k, and
    // (b) it is EXACTLY the brute-force ranking restricted to the
    // shortlist: any true top-k pair inside the shortlist MUST surface.
    val e = spark.read.parquet(sf("embeddings"))
    val q = e.filter(col("vec_id") < 20)
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(Similarity.bruteForceTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding", k = 5))
    def recall(approx: Set[(Long, Long)]): Double =
      (exact intersect approx).size.toDouble / exact.size
    val adcTop5 = topkSet(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true))
    val shortlist = topkSet(Similarity.ivfPqTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 10, numCentroids = 16, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true))
    val rr = topkSet(Similarity.ivfPqTopKRerank(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, rerank = 10, numCentroids = 16, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true))
    println(s"[recall@5 sf0.001 IVFADC+R] adc=${recall(adcTop5)} " +
      s"rerank=${recall(rr)}")
    assert(recall(rr) >= recall(adcTop5),
      s"rerank recall ${recall(rr)} must not trail ADC ${recall(adcTop5)}")
    val inShortlist = exact intersect shortlist
    assert(inShortlist.subsetOf(rr),
      "exact rerank must recover every true top-5 pair the ADC " +
        s"shortlist contains; missing ${inShortlist -- rr}")
  }

  test("semanticNearDupPairs: same-cell cosine pairs only, threshold respected") {
    // numCentroids=2 → the corpus splits into two refined cells; the
    // near-parallel pair (0,1) must surface with its exact cosine, and
    // orthogonal vectors must not pair whatever cell they share.
    val out = Similarity.semanticNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.5,
      numCentroids = 2, refineRounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((0L, 1L)), s"got $out")
    val expected = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(out((0L, 1L)) - expected) < 1e-9)
    // raising the threshold above the pair's cosine empties the result
    val none = Similarity.semanticNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.999,
      numCentroids = 2, refineRounds = 1).count()
    assert(none == 0L)
  }

  test("IVF Lloyd refinement: evens out cell sizes, keeps K and determinism") {
    val e = spark.read.parquet(sf("embeddings"))
    def cellSizes(rounds: Int): Seq[Long] =
      Similarity.buildIvfIndex(e, "vec_id", "embedding",
          numCentroids = 16, refineRounds = rounds)
        .cells.groupBy("cent_id").count()
        .collect().map(_.getLong(1)).toSeq
    def imbalance(sizes: Seq[Long]): Double =
      sizes.max.toDouble / sizes.min.toDouble
    val seed = cellSizes(0)
    val refined = cellSizes(1)
    // centroid count is FIXED-K through refinement (empty cells keep
    // their seed coordinates rather than vanishing)
    assert(refined.size == seed.size)
    // md5-sampled seeds are uniform over the corpus, not over space; one
    // k-means step must not make the worst-case cell imbalance worse
    assert(imbalance(refined) <= imbalance(seed),
      s"refinement worsened balance: seed=$seed refined=$refined")
    // determinism: the refined index is bit-stable across rebuilds
    val again = cellSizes(1)
    assert(refined.sorted == again.sorted)
  }

  test("persisted LSH/IVF index: probe == one-shot, zero corpus scans") {
    val e = spark.read.parquet(sf("embeddings"))
    // Detach the query side from the corpus file so any appearance of the
    // corpus parquet in a probe plan is a corpus RESCAN, not the queries.
    val q = spark.createDataFrame(
      spark.sparkContext.parallelize(
        e.filter(col("vec_id") < 5).collect().toSeq), e.schema)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val lshIdx = Similarity.writeLshIndex(e, "vec_id", "embedding",
      s"$tmp/lsh", planes = 8, tables = 4)
    val ivfIdx = Similarity.writeIvfIndex(e, "vec_id", "embedding",
      s"$tmp/ivf", numCentroids = 16)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val lshProbe = Similarity.probeLsh(lshIdx, q, "vec_id", "embedding", k = 5)
    val ivfProbe = Similarity.probeIvf(ivfIdx, q, "vec_id", "embedding",
      k = 5, nprobe = 2)
    // identical results to the one-shot operators (same oracle semantics)
    assert(rows(lshProbe) == rows(Similarity.lshTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, planes = 8, tables = 4)))
    assert(rows(ivfProbe) == rows(Similarity.ivfTopK(
      q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 5, numCentroids = 16, nprobe = 2)))
    // the probe stage reads ONLY the index tables
    Seq("lsh" -> lshProbe, "ivf" -> ivfProbe).foreach { case (name, p) =>
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings"),
        s"$name probe plan rescans the corpus parquet:\n$plan")
      assert(plan.contains("graft_idx"), s"$name probe plan misses the index")
    }
  }

  test("cosineNearDuplicates finds the near pair, not the orthogonal one") {
    val out = Similarity.cosineNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.95, planes = 2, tables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 1L)))
    assert(!out.contains((0L, 2L)))
  }
}

class ExportManifestSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  private def corpus = Seq((1L, "alpha beta"), (2L, "gamma"),
    (3L, "delta epsilon zeta"), (4L, "eta")).toDF("doc_id", "text")

  private def byShard(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("shard") -> r.toSeq).toMap

  test("exportManifest: partition-order invariant (XOR is commutative)") {
    val a = byShard(Sampling.exportManifest(corpus.repartition(1),
      "doc_id", "text", 4))
    val b = byShard(Sampling.exportManifest(corpus.repartition(7),
      "doc_id", "text", 4))
    assert(a == b)
  }

  test("exportManifest: edited content flips ONLY the content checksum") {
    val before = byShard(Sampling.exportManifest(corpus, "doc_id", "text", 1))
    val edited = corpus.withColumn("text",
      when(col("doc_id") === 2L, lit("gamma EDITED")).otherwise(col("text")))
    val after = byShard(Sampling.exportManifest(edited, "doc_id", "text", 1))
    val (b0, a0) = (before(0L), after(0L))
    assert(b0(5) == a0(5), "key_checksum must not move on an edit")
    assert(b0(6) != a0(6), "content_checksum must flip on an edit")
  }

  test("exportManifest: a dropped row flips the membership checksum") {
    val before = byShard(Sampling.exportManifest(corpus, "doc_id", "text", 1))
    val after = byShard(Sampling.exportManifest(
      corpus.filter(col("doc_id") =!= 3L), "doc_id", "text", 1))
    assert(before(0L)(5) != after(0L)(5))
    assert(before(0L)(1) == 4L && after(0L)(1) == 3L)
  }
}

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def evts = Seq(
    // user 1: events at t=0, 300, 900 (vals 10, 20, 40)
    (1L, 0L, 10.0, 100L), (1L, 300L, 20.0, 101L), (1L, 900L, 40.0, 102L),
    // user 2: one event, then a 2h gap
    (2L, 0L, 5.0, 103L), (2L, 7200L, 6.0, 104L)
  ).toDF("user_id", "epoch", "value", "event_id")
    .withColumn("ts", timestamp_seconds(col("epoch")))

  test("userGapHistogram: longest gap per key, single-day keys at 0") {
    // user 1 active days {0,1,5}: gaps 1,4 → longest 4; user 2: one
    // day → 0
    val d = Seq((1L, 0L), (1L, 86400L), (1L, 5L * 86400L),
      (1L, 5L * 86400L + 60L), (2L, 86400L)).toDF("user_id", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.userGapHistogram(d, "ts", "user_id")
      .collect().map(r => r.getAs[Long]("longest_gap_days") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("user_share_ppb"))))
      .toMap
    assert(got == Map(4L -> ((1L, 500000000L)),
      0L -> ((1L, 500000000L))), s"$got")
  }

  test("linearAttribution: equal split inside the closed segment, " +
    "open-tail touches uncredited") {
    // view,click,purchase,view: the trailing view's segment never
    // closes → only the first two touches share the credit 50/50
    val d = Seq((1L, 1L, "view", 10L), (1L, 2L, "click", 11L),
      (1L, 3L, "purchase", 12L), (1L, 4L, "view", 13L),
      (2L, 1L, "view", 20L)) // user 2 never converts
      .toDF("user_id", "epoch", "t", "event_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.linearAttribution(d, "ts", "user_id", "t",
      "event_id", "purchase").collect()
      .map(r => r.getAs[String]("touch_type") ->
        ((r.getAs[Long]("n_touches"), r.getAs[Long]("credit_ppb"))))
      .toMap
    assert(got == Map("view" -> ((1L, 500000000L)),
      "click" -> ((1L, 500000000L))), s"$got")
  }

  test("markovAttribution: hand-solved chain, removal effects exact") {
    // u1: click→purchase; u2: click (never converts); u3:
    // view→purchase; u4: purchase with no touches. Counts:
    // start→{click:2, view:1, conv:1}; click→{conv:1, null:1};
    // view→{conv:1}. p(click)=1/2, p(view)=1 → base p(start)=3/4;
    // removing click → 1/2; removing view → 1/2. Effects 1/4 each →
    // attribution 50/50.
    val d = Seq(
      (1L, 1L, "click", 10L), (1L, 2L, "purchase", 11L),
      (2L, 1L, "click", 20L),
      (3L, 1L, "view", 30L), (3L, 2L, "purchase", 31L),
      (4L, 1L, "purchase", 40L))
      .toDF("user_id", "event_id", "t", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.markovAttribution(d, "ts", "user_id", "t",
      "event_id", "purchase", channels = Seq("click", "view"),
      horizon = 16).collect()
      .map(r => (r.getAs[String]("touch_type"),
        r.getAs[Long]("p_conv_base_ppb"),
        r.getAs[Long]("p_conv_removed_ppb"),
        r.getAs[Long]("removal_effect_ppb"),
        r.getAs[Long]("attribution_ppb")))
    assert(got.toSeq == Seq(
      ("click", 750000000L, 500000000L, 250000000L, 500000000L),
      ("view", 750000000L, 500000000L, 250000000L, 500000000L)),
      s"got ${got.toSeq}")
  }

  test("markovAttribution: cyclic journeys stay bounded and " +
    "partitioning-invariant") {
    // a view↔click loop before conversion — the horizon caps the
    // cyclic mass; determinism across partitionings is the contract
    val rows = (0 until 30).flatMap { u =>
      val path = Seq("view", "click", "view", "click") ++
        (if (u % 3 == 0) Seq("purchase") else Nil)
      path.zipWithIndex.map { case (t, i) =>
        (u.toLong, i.toLong + 1L, t, u * 100L + i) }
    }
    val d = rows.toDF("user_id", "event_id", "t", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val a = TimeSeries.markovAttribution(d.repartition(1), "ts",
      "user_id", "t", "event_id", "purchase",
      Seq("click", "view")).collect().toSeq
    val b = TimeSeries.markovAttribution(d.repartition(7), "ts",
      "user_id", "t", "event_id", "purchase",
      Seq("click", "view")).collect().toSeq
    assert(a.map(_.toString) == b.map(_.toString) && a.size == 2)
    val base = a.head.getAs[Long]("p_conv_base_ppb")
    assert(base > 0L && base <= 1000000000L)
  }

  test("rateBreaches: per-minute peak, earliest peak minute, order") {
    val d = Seq((1L, 0L), (1L, 10L), (1L, 20L), (1L, 130L), (2L, 70L))
      .toDF("user_id", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val rows = TimeSeries.rateBreaches(d, "ts", "user_id")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("peak_per_minute"), r.getAs[Long]("peak_minute"),
        r.getAs[Long]("n_events")))
    assert(rows.toSeq == Seq((1L, 3L, 0L, 4L), (2L, 1L, 1L, 1L)),
      s"${rows.toSeq}")
  }

  test("markovTwoStepAudit: perfect alternating chain has zero gap") {
    // A,B,A,B,A: P(A→B)=P(B→A)=1e9; two-step is deterministic too,
    // so chained prediction matches observation exactly.
    val d = Seq((1L, 1L, "A", 10L), (1L, 2L, "B", 11L),
      (1L, 3L, "A", 12L), (1L, 4L, "B", 13L), (1L, 5L, "A", 14L))
      .toDF("user_id", "epoch", "state", "event_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries
      .markovTwoStepAudit(d, "ts", "user_id", "event_id", "state")
      .collect().map(r => (r.getAs[String]("from_state"),
        r.getAs[String]("to_state")) ->
        ((r.getAs[Long]("n_two_step"), r.getAs[Long]("obs_ppb"),
          r.getAs[Long]("pred_ppb"), r.getAs[Long]("gap_ppb"))))
      .toMap
    assert(got.keySet == Set(("A", "A"), ("B", "B")), s"$got")
    assert(got(("A", "A")) ==
      ((2L, 1000000000L, 1000000000L, 0L)), s"$got")
    assert(got(("B", "B")) ==
      ((1L, 1000000000L, 1000000000L, 0L)), s"$got")
  }

  test("activityMatrix: integer dow/hour (epoch day 0 = Thursday), " +
    "ppb shares") {
    val d = Seq(0L, 5L * 3600L, 4L * 86400L).toDF("epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.activityMatrix(d, "ts").collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("share_ppb"))))
      .toMap
    assert(got((3L, 0L)) == ((1L, 333333333L)), s"$got") // Thu 00h
    assert(got((3L, 5L)) == ((1L, 333333333L)), s"$got") // Thu 05h
    assert(got((0L, 0L)) == ((1L, 333333333L)), s"$got") // Mon 00h
  }

  test("intervalConcurrency: sweep-line peak, half-open ends, " +
    "earliest argmax, start-day attribution") {
    // day 0: starts 100, 200, 1900 with 1800-s spans — [100,1900)
    // ends exactly as [1900,...) opens (net 0: no triple overlap);
    // peak 2 is reached at 200 first (1900 ties, later). day 1: solo.
    val d = Seq(100L, 200L, 1900L, 86410L).toDF("epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.intervalConcurrency(d, "ts", 1800L)
      .collect().map(r => r.getAs[Long]("day_s") ->
        ((r.getAs[Long]("n_intervals"),
          r.getAs[Long]("max_concurrent"),
          r.getAs[Long]("peak_at_s")))).toMap
    assert(got(0L) == ((3L, 2L, 200L)), s"got: $got")
    assert(got(86400L) == ((1L, 1L, 86410L)), s"got: $got")
  }

  test("autocorrelation: alternating series — exact -1 at lag 1, " +
    "+1 at lag 2; constant series degenerates to NULL") {
    val alt = (0 until 6).map(i =>
      (i.toLong * 86400L, if (i % 2 == 0) 1.0 else 2.0))
      .toDF("epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.autocorrelation(alt, "ts", "value", maxLag = 3)
      .collect().map(r => r.getAs[Long]("lag") ->
        ((r.getAs[Long]("n_pairs"),
          r.getAs[Double]("acf")))).toMap
    // lag 1's denominator is sqrt(6)·sqrt(6) — deterministic but one
    // ulp off 6, so the anti-correlation lands within 1e-12 of -1;
    // lag 2's sqrt(4)·sqrt(4) is exact, so +1.0 is bit-exact
    assert(got(1L)._1 == 5L && math.abs(got(1L)._2 + 1.0) < 1e-12,
      s"got: $got")
    assert(got(2L) == ((4L, 1.0)), s"got: $got")
    val const = (0 until 5).map(i => (i.toLong * 86400L, 3.0))
      .toDF("epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val g2 = TimeSeries.autocorrelation(const, "ts", "value", maxLag = 2)
      .collect()
    assert(g2.forall(_.isNullAt(g2(0).fieldIndex("acf"))))
  }

  test("holtForecast: hand-unrolled integer recursion, daily rollup") {
    // days 0/1/2 sum to y = [4, 8, 6] units (day 0 from TWO events):
    //   init  level=4e6 trend=4e6
    //   t=2   level=(8+4+4)/2=8e6   trend=(8-4+4)/2=4e6
    //   t=3   level=(6+8+4)/2=9e6   trend=(9-8+4)/2=2.5e6
    val d = Seq((0L, 2.5), (0L, 1.5), (86400L, 8.0), (172800L, 6.0))
      .toDF("epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.holtForecast(d, "ts", "value").collect()
      .map(r => r.getAs[Long]("horizon_days") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("level_micro"),
          r.getAs[Long]("trend_micro"), r.getAs[Long]("forecast_micro"),
          r.getAs[Double]("forecast")))).toMap
    assert(out.size == 7)
    assert(out(1L) == ((3L, 9000000L, 2500000L, 11500000L, 11.5)))
    assert(out(7L) == ((3L, 9000000L, 2500000L, 26500000L, 26.5)))
  }

  test("holtForecast: FLOOR (not truncate) halving on negative trend") {
    // y = [3, 0, 0] micro-units: t=3 level = floor(-3/2) = -2 — a
    // truncating division would give -1 and diverge from the oracle
    val d = Seq((0L, 0.000003), (86400L, 0.0), (172800L, 0.0))
      .toDF("epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val r = TimeSeries.holtForecast(d, "ts", "value")
      .filter(col("horizon_days") === 1L).collect()(0)
    assert(r.getAs[Long]("level_micro") == -2L)
    assert(r.getAs[Long]("trend_micro") == -3L)
    assert(r.getAs[Long]("forecast_micro") == -5L)
  }

  test("holtForecast: single-day series forecasts flat") {
    val d = Seq((0L, 5.0)).toDF("epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.holtForecast(d, "ts", "value").collect()
    assert(out.length == 7)
    assert(out.forall(r => r.getAs[Long]("n_days") == 1L &&
      r.getAs[Long]("trend_micro") == 0L &&
      r.getAs[Double]("forecast") == 5.0))
  }

  test("historicAverage minutes=0: the raw arm returns ranged samples") {
    // average=0 is a legal reference value (PurpleAirAPI.py:261): no
    // bucketing, just the half-open range scan
    val out = TimeSeries.historicAverage(evts, "ts", "user_id", "value",
        "1970-01-01 00:00:00", "1970-01-01 00:15:00", 0)
      .collect()
    assert(out.length == 3) // t=900 and t=7200 excluded by the range
    assert(out.map(_.getDouble(2)).sorted.toSeq == Seq(5.0, 10.0, 20.0))
  }

  test("slidingAverage: trailing 600s range frame") {
    val out = TimeSeries.slidingAverage(evts, "ts", "user_id", "value", 600L)
      .filter(col("user_id") === 1L).orderBy("epoch_s")
      .select("sliding_avg").collect().map(_.getDouble(0))
    assert(out(0) == 10.0)         // [0]
    assert(out(1) == 15.0)         // [0,300]
    assert(out(2) == 30.0)         // [300,900]
  }

  test("slidingAverage preBucket retains null keys like the window path") {
    val e = Seq((Option(1L), 0L, 10.0), (Option.empty[Long], 0L, 5.0),
        (Option.empty[Long], 300L, 7.0))
      .toDF("user_id", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    def run(pre: Boolean) =
      TimeSeries.slidingAverage(e, "ts", "user_id", "value", 600L,
          preBucket = pre)
        .select("epoch", "sliding_avg").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val window = run(false)
    val bucketed = run(true)
    assert(bucketed == window)
    assert(bucketed.size == 3, "null-key rows must be retained")
    assert(bucketed.contains((300L, 6.0)), "null keys form one sliding group")
  }

  test("slidingAverage preBucket (skew path) == plain window") {
    // real sf0.001 parquet: ts arrives as TIMESTAMP_NTZ (µs, no TZ) —
    // slidingAverage's epochSeconds must route it through TimestampType
    val e = spark.read.parquet(sf("events"))
    def run(pre: Boolean) =
      TimeSeries.slidingAverage(e, "ts", "user_id", "value", 600L, preBucket = pre)
        .select("event_id", "sliding_avg").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = run(false)
    val bucketed = run(true)
    assert(plain == bucketed)
  }

  test("sessionize: 1800s gap starts a new session") {
    val out = TimeSeries.sessionize(evts, "ts", "user_id", "event_id", 1800L)
      .groupBy("user_id").agg(max("session_id").as("sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L) // all within gaps
    assert(out(2L) == 2L) // split by the 2h gap
  }

  test("gapfillLocf: complete spine, carried values, n=0 on filled rows") {
    // user 1 observes buckets 0, 300, 900 (300 s buckets) → bucket 600
    // is a gap: locf carries 20.0 (the bucket-300 max), n = 0, filled
    val out = TimeSeries.gapfillLocf(evts, "ts", "user_id", "value", 300L)
      .filter(col("user_id") === 1L).orderBy("bucket_s")
      .select("bucket_s", "value_locf", "n", "filled")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (0L, 10.0, 1L, false),
      (300L, 20.0, 1L, false),
      (600L, 20.0, 0L, true),   // gap: carried forward
      (900L, 40.0, 1L, false)))
    // user 2's 2 h gap at 300 s buckets: 25 spine rows, 23 filled, all
    // carrying 5.0 until the 7200 observation
    val u2 = TimeSeries.gapfillLocf(evts, "ts", "user_id", "value", 300L)
      .filter(col("user_id") === 2L).orderBy("bucket_s").collect()
    assert(u2.length == 25)
    assert(u2.count(_.getBoolean(4)) == 23)
    assert(u2.init.forall(_.getDouble(2) == 5.0) &&
      u2.last.getDouble(2) == 6.0)
    // partition-independence
    val again = TimeSeries.gapfillLocf(evts.repartition(5), "ts", "user_id",
        "value", 300L).filter(col("user_id") === 1L).orderBy("bucket_s")
      .select("bucket_s", "value_locf", "n", "filled")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("gapfillInterp: linear between neighbors, exact on observed") {
    // user 1 at 300 s buckets: observed 0→10, 300→20, 900→40; the 600
    // gap interpolates 20 + (40-20) * (300/600) = 30.0
    val out = TimeSeries.gapfillInterp(evts, "ts", "user_id", "value", 300L)
      .filter(col("user_id") === 1L).orderBy("bucket_s")
      .select("bucket_s", "value_interp", "n", "filled")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (0L, 10.0, 1L, false),
      (300L, 20.0, 1L, false),
      (600L, 30.0, 0L, true),   // straight line 300→900
      (900L, 40.0, 1L, false)))
    // user 2: 5.0 at bucket 0, 6.0 at 7200 — every filled bucket lies on
    // the line 5 + b/7200; never NULL (spine ends at observed buckets)
    val u2 = TimeSeries.gapfillInterp(evts, "ts", "user_id", "value", 300L)
      .filter(col("user_id") === 2L).orderBy("bucket_s").collect()
    assert(u2.length == 25 && u2.forall(!_.isNullAt(2)))
    assert(u2.forall(r =>
      r.getDouble(2) == 5.0 + 1.0 * (r.getLong(1).toDouble / 7200.0)))
  }

  test("rangeJoin: inclusive ends, multi-cell intervals, overlap fan-out") {
    val pts = Seq((1L, 1L, 100L), (2L, 1L, 250L), (3L, 1L, 399L),
        (4L, 1L, 99L), (5L, 2L, 100L))
      .toDF("pid", "k", "t")
    val ivs = Seq((10L, 1L, 100L, 400L),   // spans cells 1-4 at W=100
        (11L, 1L, 200L, 260L),             // overlaps 10 → fan-out at 250
        (12L, 2L, 500L, 600L),             // user 2, no match
        (13L, 2L, 600L, 500L))             // empty range: dropped
      .toDF("iid", "k", "lo", "hi")
    val out = TimeSeries.rangeJoin(pts, "pid", "t", ivs, "iid",
        "lo", "hi", "k", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(out == Set((1L, 10L),           // lo end inclusive
      (2L, 10L), (2L, 11L),                // overlap fan-out, exactly once each
      (3L, 10L)))                          // point past hi of 11, inside 10
    // hi end inclusive, and each pair appears exactly ONCE despite the
    // interval covering several cells
    val hiEdge = Seq((6L, 1L, 400L)).toDF("pid", "k", "t")
    val rows = TimeSeries.rangeJoin(hiEdge, "pid", "t", ivs, "iid",
        "lo", "hi", "k", 100L).collect()
    assert(rows.length == 1 && rows.head.getLong(3) == 10L)
  }

  test("rollupSummary: every prefix level + grand total, one Expand pass") {
    val df = Seq(("a", 1L, 1.0), ("a", 1L, 2.0), ("a", 2L, 4.0),
        ("b", 1L, 8.0)).toDF("t", "d", "v")
    val out = TimeSeries.rollupSummary(df, Seq("t", "d"), "v")
      .collect().map(r => (Option(r.getString(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getInt(2), r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set(
      (Some("a"), Some(1L), 0, 2L, 3.0), (Some("a"), Some(2L), 0, 1L, 4.0),
      (Some("b"), Some(1L), 0, 1L, 8.0),
      (Some("a"), None, 1, 3L, 7.0), (Some("b"), None, 1, 1L, 8.0),
      (None, None, 3, 4L, 15.0)))
    // all levels from ONE scan: a single Expand feeds the aggregate
    val plan = TimeSeries.rollupSummary(df, Seq("t", "d"), "v")
      .queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).length >= 1 &&
      "Scan".r.findAllIn(plan).length <= 1, plan)
  }

  test("pivotCounts: wide matrix, absent cells zero") {
    val df = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "y"))
      .toDF("k", "t")
    val out = TimeSeries.pivotCounts(df, "k", "t", Seq("x", "y", "zz"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(1L -> (2L, 1L, 0L), 2L -> (0L, 1L, 0L)))
  }

  test("anomalyZScore: trailing stats, minPrior gate, constant window") {
    val df = Seq(
      // user 1: three 10.0s then a spike — z = (50-10)/0 is gated (σ=0
      // constant window → NULL z, no flag); then a real spread
      (1L, 0L, 10.0, 1L), (1L, 60L, 10.0, 2L), (1L, 120L, 10.0, 3L),
      (1L, 180L, 50.0, 4L),   // σ=0 → NULL z
      (1L, 240L, 10.0, 5L),   // prior {10,10,10,50}: σ>0, z defined
      // user 2: only two priors → below minPrior, NULL z
      (2L, 0L, 1.0, 6L), (2L, 60L, 2.0, 7L), (2L, 120L, 9.0, 8L))
      .toDF("user_id", "epoch", "value", "event_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.anomalyZScore(df, "ts", "user_id", "value",
        3600L, 2.0)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("z"))) None
         else Some(r.getAs[Double]("z")),
          r.getAs[Boolean]("anomaly"))).toMap
    assert(out(1L) == (None, false)) // no priors
    assert(out(4L) == (None, false)) // constant window: σ gated
    assert(out(8L) == (None, false)) // below minPrior
    val (z5, flag5) = out(5L)
    // prior {10,10,10,50}: mean 20, var = 2800/4 − 400 = 300
    assert(z5.isDefined && flag5 == (math.abs(z5.get) >= 2.0))
    assert(math.abs(z5.get - (-10.0 / math.sqrt(300.0))) < 1e-12, z5)
  }

  test("histogram: equi-width bins, right-closed top edge, degenerate key") {
    val df = Seq(("a", 0.0), ("a", 2.5), ("a", 4.9), ("a", 10.0),
        ("a", 10.0), ("b", 7.0), ("b", 7.0))
      .toDF("k", "v")
    val out = TimeSeries.histogram(df, "k", "v", 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(4))).toSet
    // a: [0,10] in 4 bins of 2.5: 0→bin0, 2.5→bin1, 4.9→bin1, 10→bin3 ×2
    // (max lands in the LAST bin, not bin4); b: mn==mx → bin 0
    assert(out == Set(("a", 0, 1L), ("a", 1, 2L), ("a", 3, 2L),
      ("b", 0, 2L)))
    // bin edges reconstruct the range
    val a3 = TimeSeries.histogram(df, "k", "v", 4)
      .filter(col("k") === "a" && col("bin") === 3).collect().head
    assert(a3.getDouble(2) == 7.5 && a3.getDouble(3) == 10.0)
  }

  test("histogramEquiDepth: ntile buckets, remainder to the front") {
    // 10 values in 4 buckets → populations 3,3,2,2 (SQL-standard NTILE)
    val df = (1 to 10).map(i => ("g", i.toDouble, i.toLong))
      .toDF("k", "v", "id")
    val out = TimeSeries.histogramEquiDepth(df, "k", "v", "id", 4)
      .collect().map(r =>
        r.getInt(1) -> (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out == Map(1 -> (1.0, 3.0, 3L), 2 -> (4.0, 6.0, 3L),
      3 -> (7.0, 8.0, 2L), 4 -> (9.0, 10.0, 2L)))
  }

  test("slidingActiveUsers: trailing-7d distinct, once-per-window, " +
      "real days only") {
    val d = 86400L
    val df = Seq(
      (10L, d * 1), (11L, d * 1),    // day 1: users 10, 11
      (10L, d * 2), (10L, d * 2 + 5), // day 2: user 10 (twice — counts once)
      (11L, d * 9))                   // day 9: user 11 (day 2 outside window)
      .toDF("user_id", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.slidingActiveUsers(df, "ts", "user_id", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // day 8 (user 10's window tail) is a phantom — not emitted
    assert(out == Set((d * 1, 2L, 2L), (d * 2, 1L, 2L), (d * 9, 1L, 1L)))
  }

  test("cohortRetention: first week anchors the cohort, offsets count once") {
    val wk = 604800L
    val df = Seq(
      (1L, 0L), (1L, 86400L),          // user 1: week 0, twice (counts once)
      (1L, wk + 1L),                   // …and week 1
      (2L, wk * 2), (2L, wk * 4))      // user 2: cohort week 2, offset 0 & 2
      .toDF("user_id", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.cohortRetention(df, "ts", "user_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set((0L, 0, 1L), (0L, 1, 1L),
      (wk * 2, 0, 1L), (wk * 2, 2, 1L)))
  }

  test("funnel: strictly-after ladder, one shuffle") {
    val df = Seq(
      // user 1 completes the funnel in order
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      // user 2 clicks BEFORE viewing: click must not count
      (2L, 100L, "click"), (2L, 200L, "view"),
      // user 3: click at the same µs as view — strict > rejects it
      (3L, 100L, "view"), (3L, 100L, "click"),
      // user 4 never views: nothing counts despite a purchase
      (4L, 100L, "purchase"))
      .toDF("user_id", "epoch", "event_type")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.funnel(df, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out == Map(0 -> 3L, 1 -> 1L, 2 -> 1L))
    // plan: the ladder must reuse ONE exchange — windows + the per-key
    // collapse all run on the key partitioning
    val plan = TimeSeries.funnel(df, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"funnel should shuffle once, got $exchanges:\n$plan")
  }

  test("funnelLatency: exact mean deltas over converting keys only") {
    val df = Seq(
      (1L, 100L, "view"), (1L, 160L, "click"), (1L, 400L, "purchase"),
      (2L, 100L, "view"), (2L, 140L, "click"),       // converts step 1 only
      (3L, 100L, "click"), (3L, 200L, "view"))       // never converts
      .toDF("user_id", "epoch", "event_type")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.funnelLatency(df, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    // view→click: users 1 (60 s) and 2 (40 s) → mean 50 s
    assert(out(1) == ("view", "click", 2L, Some(50.0 * 1000000)))
    // click→purchase: user 1 only (240 s)
    assert(out(2) == ("click", "purchase", 1L, Some(240.0 * 1000000)))
  }

  test("distinctCountSketch tracks exact countDistinct within its rsd") {
    val df = (1 to 5000).map(i => ("g", (i % 1213).toLong)).toDF("g", "u")
    val approx = TimeSeries.distinctCountSketch(df, Seq("g"), "u", 0.02)
      .collect().head
    assert(approx.getLong(2) == 5000L)
    // 1213 distinct; 5 sigma at rsd=0.02 → ±121
    assert(math.abs(approx.getLong(1) - 1213L) <= 121L)
  }

  test("topKPerGroup: exact top-k, map-side WindowGroupLimit plan") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L),
        ("a", 4L, 5L), ("b", 1L, 1L))
      .toDF("g", "u", "n")
    val top = TimeSeries.topKPerGroup(df, Seq("g"),
      Seq(col("n").desc, col("u")), 2)
    val rows = top.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    // ties (u=2, u=3 at n=30) break on u; u=1's 10 is rank 3, cut
    assert(rows == Set(("a", 2L, 1), ("a", 3L, 2), ("b", 1L, 1)))
    // the rank<=k filter must be pushed into a WindowGroupLimit (partial
    // before the exchange), not evaluated post-shuffle over full groups
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"grouped top-k should plan as WindowGroupLimit:\n$plan")
  }

  test("percentileSummary: exact cont + disc; sketch tracks exact") {
    // 1..100 per key: p50 cont = 50.5 (interp), p50 disc = 50 (a real
    // value), p95 cont = 95.05
    val df = (1 to 100).map(i => (1L, i.toDouble)).toDF("k", "v")
    val r = TimeSeries.percentileSummary(df, "k", "v", Seq(0.5, 0.95))
      .collect().head
    assert(r.getLong(1) == 100L)
    assert(r.getDouble(2) == 50.5)
    assert(r.getDouble(3) == 95.05) // 1 + 0.95*99 rank interpolation
    assert(r.getDouble(4) == 50.0)
    // sketch at accuracy 10000 is exact-rank on 100 values
    val s = TimeSeries.percentileSketch(df, "k", "v", Seq(0.5, 0.95))
      .collect().head
    assert(math.abs(s.getDouble(2) - 50.5) <= 1.0 &&
      math.abs(s.getDouble(3) - 95.05) <= 1.0)
  }

  test("asofJoin: at-or-before inclusive, NULL before first ref") {
    // probes (id, t): before any ref → NULL; equal-ts → inclusive;
    // between refs → earlier ref
    val probe = Seq((200L, 50L, 1L), (201L, 300L, 1L), (202L, 500L, 1L),
        (203L, 10L, 2L))
      .toDF("event_id", "epoch", "user_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val ref = Seq((1L, 100L, 1.0), (1L, 300L, 3.0), (1L, 300L, 2.0),
        (2L, 400L, 9.0))
      .toDF("user_id", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimeSeries.asofJoin(probe, "event_id", "ts",
        ref, "ts", "value", "user_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(200L).isEmpty)          // before the first reference
    assert(out(201L).contains(3.0))    // equal ts: inclusive, max tie-break
    assert(out(202L).contains(3.0))    // between refs: latest prior
    assert(out(203L).isEmpty)          // user 2's ref is later
  }

  test("gapfill locf+interp match a brute-force oracle on random data") {
    val rnd = new scala.util.Random(19)
    val rows = Seq.fill(400)((rnd.nextInt(4).toLong,
      rnd.nextInt(3000).toLong, rnd.nextInt(50).toDouble))
    val df = rows.toDF("user_id", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val W = 100L
    // brute force per key: bucket maxes, full spine, locf + interp
    val byKey = rows.groupBy(_._1).map { case (k, rs) =>
      val obs = rs.groupBy(r => (r._2 / W) * W)
        .map { case (b, g) => b -> g.map(_._3).max }
      k -> obs
    }
    val expected = byKey.flatMap { case (k, obs) =>
      val (lo, hi) = (obs.keys.min, obs.keys.max)
      val buckets = lo.to(hi, W)
      var last = 0.0
      buckets.map { b =>
        obs.get(b).foreach(last = _)
        val prev = buckets.filter(x => x <= b && obs.contains(x)).max
        val next = buckets.filter(x => x >= b && obs.contains(x)).min
        val interp =
          if (obs.contains(b)) obs(b)
          else obs(prev) + (obs(next) - obs(prev)) *
            ((b - prev).toDouble / (next - prev).toDouble)
        (k, b) -> (last, interp, obs.contains(b))
      }
    }
    val locf = TimeSeries.gapfillLocf(df, "ts", "user_id", "value", W)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), !r.getBoolean(4))).toMap
    val interp = TimeSeries.gapfillInterp(df, "ts", "user_id", "value", W)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getDouble(2)).toMap
    assert(locf.keySet == expected.keySet)
    expected.foreach { case (key, (el, ei, observed)) =>
      assert(locf(key) == (el, observed), s"locf@$key")
      assert(interp(key) == ei, s"interp@$key")
    }
  }

  test("asofJoin matches a brute-force oracle on random data") {
    val rnd = new scala.util.Random(8)
    val refs = Seq.fill(200)((rnd.nextInt(5).toLong,
      rnd.nextInt(1000).toLong, rnd.nextInt(100).toDouble))
    val probes = Seq.tabulate(300)(i => (i.toLong,
      rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    // brute force: max value among refs at the greatest ts <= probe ts
    val expected = probes.map { case (id, k, t) =>
      val prior = refs.filter(r => r._1 == k && r._2 <= t)
      id -> (if (prior.isEmpty) None else {
        val best = prior.map(_._2).max
        Some(prior.filter(_._2 == best).map(_._3).max)
      })
    }.toMap
    val refDf = refs.toDF("user_id", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val probeDf = probes.toDF("event_id", "user_id", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val got = TimeSeries.asofJoin(probeDf, "event_id", "ts",
        refDf, "ts", "value", "user_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got == expected)
  }

  test("downsampleMax buckets align to the hour") {
    val out = TimeSeries.downsampleMax(evts, "ts", "user_id", "value", "1 hour")
      .filter(col("user_id") === 1L).collect()
    assert(out.length == 1 && out(0).getAs[Double]("max_value") == 40.0)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractFeatures: deterministic stub codec, payloads never null") {
    val docs = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text")
    val f1 = Multimodal.extractFeatures(media, 4).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media.repartition(3), 4)
      .orderBy("media_id").collect()
    assert(f1.length == 2)
    assert(f1(0).getSeq[Double](3).toSeq ==
      f2(0).getSeq[Double](3).toSeq) // partition-independent
    assert(f1(0).getAs[Long]("n_bytes") == 5L)
  }

  private def le32(v: Int): Seq[Byte] =
    Seq(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
  private def le16(v: Int): Seq[Byte] = Seq(v, v >> 8).map(_.toByte)

  /** 2×2 24-bit BMP, 8-byte rows (6 pixel bytes + 2 pad), bottom-up.
    * Storage-order luminance sums: 765, 0, 255, 255. */
  private def bmpBytes: Array[Byte] =
    (Seq('B'.toByte, 'M'.toByte) ++ le32(70) ++ le32(0) ++
      le32(54) ++ le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      // row 0: white, black (+2 pad); row 1: blue-only, red-only (+2 pad)
      Seq(255, 255, 255, 0, 0, 0, 0, 0).map(_.toByte) ++
      Seq(255, 0, 0, 0, 0, 255, 0, 0).map(_.toByte)).toArray

  /** mono 16-bit PCM WAV, samples 16384, -16384, 0, 32767. */
  private def wavBytes(byteRate: Int): Array[Byte] =
    ("RIFF".getBytes.toSeq ++ le32(36 + 8) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(byteRate) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(8) ++
      Seq(16384, -16384, 0, 32767).flatMap(le16)).toArray

  test("MediaCodec: real BMP/WAV decodes match hand-computed features") {
    import graft.operators.Multimodal.MediaCodec
    val bmp = bmpBytes
    assert(MediaCodec.isBmp(bmp))
    val bf = MediaCodec.decode(bmp, 2)
    assert(bf.toSeq == Seq(765.0 / 1530.0, 510.0 / 1530.0), bf.toSeq)
    val wav = wavBytes(16000)
    assert(MediaCodec.isWav(wav))
    val wf = MediaCodec.decode(wav, 2)
    assert(wf.toSeq == Seq(0.5, 32767.0 / 65536.0), wf.toSeq)
    // anything else (the oracle-gated text corpus included) stays on the
    // md5 stub — replicate the documented formula to pin no regression
    val garbage = "not a media file".getBytes
    val sf = MediaCodec.decode(garbage, 3)
    (0 until 3).foreach { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(garbage); md.update(j.toString.getBytes)
      val d = md.digest()
      var h = 0L
      (0 until 8).foreach(i => h = (h << 8) | (d(i) & 0xffL))
      assert(sf(j) == (h >>> 4).toDouble / (1L << 60).toDouble)
    }
    // truncated/corrupt headers fall back to the stub, never throw
    assert(MediaCodec.decode(bmp.take(40), 2).length == 2)
    assert(MediaCodec.decode(wav.take(20), 2).length == 2)
  }

  /** Encode a raster as JPEG with the same JDK ImageIO the decoder
    * gates on — the fixture is built by the codec's own public
    * inverse, not by the decode path under test. */
  private def jpegBytes(im: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpeg", out)
    out.toByteArray
  }

  test("MediaCodec: real JPEG decode — features, sniff parity, dhash") {
    import graft.operators.Multimodal.MediaCodec
    // 64×32 vertical step: top half luma 32, bottom half 224 — slice 0
    // of 2 covers exactly the top rows in row-major order
    val step = new java.awt.image.BufferedImage(
      64, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64) {
      val v = if (y < 16) 32 else 224
      step.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val jpg = jpegBytes(step)
    assert(MediaCodec.isJpeg(jpg))
    val sn = MediaCodec.sniff(jpg).get
    assert(sn.mime == "image/jpeg" && sn.width.contains(64) &&
      sn.height.contains(32), sn)
    val f = MediaCodec.decode(jpg, 2)
    // JPEG is lossy: means land near the true plateaus, not bit-equal
    assert(math.abs(f(0) - 32.0 / 255.0) < 0.03, f.toSeq)
    assert(math.abs(f(1) - 224.0 / 255.0) < 0.03, f.toSeq)
    assert(MediaCodec.decode(jpg, 2).toSeq == f.toSeq,
      "same bytes must decode to the same features")

    // dHash: a horizontal luma ramp encoded as JPEG and as lossless P6
    // must fingerprint (near-)identically — the stub arm would differ
    // on ~half of the 60 bits
    val ramp = new java.awt.image.BufferedImage(
      64, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64) {
      val v = (x * 255) / 63
      ramp.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val pnm = ("P6 64 32 255\n".getBytes.toSeq ++
      (0 until 32).flatMap(_ => (0 until 64).flatMap { x =>
        val v = ((x * 255) / 63).toByte; Seq(v, v, v)
      })).toArray
    val hj = MediaCodec.dhash60(jpegBytes(ramp))
    val hp = MediaCodec.dhash60(pnm)
    assert(java.lang.Long.bitCount(hj ^ hp) <= 6,
      f"jpeg/pnm dhash diverged: $hj%x vs $hp%x")

    // truncated stream keeps the magic but cannot decode → stub arm,
    // never a throw
    val broken = jpg.take(50)
    assert(MediaCodec.isJpeg(broken))
    assert(MediaCodec.dhash60(broken) == MediaCodec.stubPhash(broken))
    val sf = MediaCodec.decode(broken, 2)
    (0 until 2).foreach { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(broken); md.update(j.toString.getBytes)
      val d = md.digest()
      var h = 0L
      (0 until 8).foreach(i => h = (h << 8) | (d(i) & 0xffL))
      assert(sf(j) == (h >>> 4).toDouble / (1L << 60).toDouble,
        "undecodable JPEG must take the md5 stub features")
    }
    assert(MediaCodec.sniff(broken).isEmpty)
  }

  private def pngBe32(v: Int): Seq[Byte] =
    Seq(v >> 24, v >> 16, v >> 8, v).map(_.toByte)
  private def pngChunk(typ: String, data: Array[Byte]): Seq[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes); crc.update(data)
    pngBe32(data.length) ++ typ.getBytes.toSeq ++ data.toSeq ++
      pngBe32(crc.getValue.toInt)
  }
  /** Real PNG bytes (valid CRCs, zlib IDAT) around caller-supplied
    * FILTERED scanlines, so tests pick the filter types. */
  private def pngBytes(w: Int, h: Int, colorType: Int,
      filtered: Array[Byte], plte: Option[Array[Byte]] = None,
      interlace: Int = 0): Array[Byte] = {
    val ihdr = (pngBe32(w) ++ pngBe32(h) ++
      Seq(8, colorType, 0, 0, interlace).map(_.toByte)).toArray
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    (Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++
      pngChunk("IHDR", ihdr) ++
      plte.map(p => pngChunk("PLTE", p)).getOrElse(Seq.empty) ++
      pngChunk("IDAT", out.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)).toArray
  }

  test("MediaCodec: PNG decode — all five filters, hand-computed features") {
    import graft.operators.Multimodal.MediaCodec
    // 3×5 grayscale, one scanline per filter type. Filtered bytes are
    // hand-derived from the target pixels (NOT via the decoder's math):
    //   row0 None    : px 10  20  30  -> raw 10 20 30
    //   row1 Sub     : px 10  30  60  -> raw 10 20 30
    //   row2 Up      : px 20  40  70  -> raw 10 10 10
    //   row3 Average : px 30  60 100  -> raw 20 25 35
    //   row4 Paeth   : px 40  80 120  -> raw 10 20 20
    val filtered = Array[Byte](
      0, 10, 20, 30,
      1, 10, 20, 30,
      2, 10, 10, 10,
      3, 20, 25, 35,
      4, 10, 20, 20)
    val png = pngBytes(3, 5, 0, filtered)
    assert(MediaCodec.isPng(png))
    val f = MediaCodec.decode(png, 3)
    // 15 pixels -> 3 slices of 5; gray luminance = v/255
    assert(f.toSeq == Seq(20.0 / 255.0, 44.0 / 255.0, 80.0 / 255.0), f.toSeq)
  }

  test("MediaCodec: PNG RGB/RGBA/palette branches + stub fallbacks") {
    import graft.operators.Multimodal.MediaCodec
    // RGBA 2×2, filter 0: luminance ignores alpha
    val rgba = pngBytes(2, 2, 6, Array[Byte](
      0, -1, 0, 0, 10, 0, -1, 0, 20,        // (255,0,0,10) (0,255,0,20)
      0, 0, 0, -1, 30, -1, -1, -1, 40))     // (0,0,255,30) (255,255,255,40)
    val fa = MediaCodec.decode(rgba, 2)
    assert(fa.toSeq == Seq(510.0 / 1530.0, 1020.0 / 1530.0), fa.toSeq)
    // RGB 1×2 with Sub on a 3-byte bpp: a = previous PIXEL, not byte
    val rgb = pngBytes(2, 1, 2, Array[Byte](1, 100, 50, 25, 10, 10, 10))
    val fr = MediaCodec.decode(rgb, 2)
    assert(fr.toSeq == Seq(175.0 / 765.0, 205.0 / 765.0), fr.toSeq)
    // palette 2×2: PLTE rows (30,60,90) and (255,255,255), indices 0110
    val pal = pngBytes(2, 2, 3,
      Array[Byte](0, 0, 1, 0, 1, 0),
      plte = Some(Array[Byte](30, 60, 90, -1, -1, -1)))
    val fp = MediaCodec.decode(pal, 1)
    assert(fp.toSeq == Seq((180.0 + 765.0 + 765.0 + 180.0) / 3060.0), fp.toSeq)
    // outside the decode gate -> md5 stub + sniff None (exact parity):
    // corrupt zlib stream; interlaced; palette image missing its PLTE
    val corrupt = pngBytes(3, 5, 0, Array[Byte](0, 10, 20, 30, 1, 10, 20, 30,
      2, 10, 10, 10, 3, 20, 25, 35, 4, 10, 20, 20))
    // IDAT data begins at 8 (sig) + 25 (IHDR chunk) + 8 = offset 41;
    // flipping the zlib CMF byte fails the header check on inflate
    corrupt(41) = (corrupt(41) ^ 0x5a).toByte
    assert(MediaCodec.sniff(corrupt).isEmpty)
    assert(MediaCodec.decode(corrupt, 3).toSeq !=
      MediaCodec.decode(pngBytes(3, 5, 0, Array[Byte](0, 10, 20, 30,
        1, 10, 20, 30, 2, 10, 10, 10, 3, 20, 25, 35, 4, 10, 20, 20)), 3).toSeq)
    val interlaced = pngBytes(2, 1, 2,
      Array[Byte](1, 100, 50, 25, 10, 10, 10), interlace = 1)
    assert(MediaCodec.sniff(interlaced).isEmpty)
    val noPlte = pngBytes(2, 2, 3, Array[Byte](0, 0, 1, 0, 1, 0))
    assert(MediaCodec.sniff(noPlte).isEmpty)
    // and sniff/decode parity on a GOOD file: sizes from the real parse
    val sniffed = MediaCodec.sniff(rgba)
    assert(sniffed.exists(s => s.mime == "image/png" &&
      s.width.contains(2) && s.height.contains(2) && s.durationMs.isEmpty))
  }

  test("MediaCodec: PPM/PGM decode — comments, strict gates, sniff parity") {
    import graft.operators.Multimodal.MediaCodec
    // P6 2×2, maxval 255, comment in header: pixels white, black /
    // red-only, blue-only → slice sums 765+0, 255+255
    val p6 = ("P6 # a comment\n2 2\n255\n".getBytes.toSeq ++
      Seq(255, 255, 255, 0, 0, 0, 255, 0, 0, 0, 0, 255).map(_.toByte)).toArray
    assert(MediaCodec.isPnm(p6))
    assert(MediaCodec.decode(p6, 2).toSeq ==
      Seq(765.0 / 1530.0, 510.0 / 1530.0))
    // P5 1×4 gray ramp 0,85,170,255 → slice means 42.5/255, 212.5/255
    val p5 = ("P5\n1 4\n255\n".getBytes.toSeq ++
      Seq(0, 85, 170, 255).map(_.toByte)).toArray
    assert(MediaCodec.decode(p5, 2).toSeq ==
      Seq(85.0 / 510.0, 425.0 / 510.0))
    // strict gates: maxval ≠ 255 and short raster both fall to the stub
    val p6bad = ("P6\n2 2\n65535\n".getBytes.toSeq ++
      Seq.fill(24)(7.toByte)).toArray
    val p6short = ("P6\n2 2\n255\n".getBytes.toSeq ++
      Seq.fill(11)(7.toByte)).toArray
    // a uniform-7 raster would really decode to 21/765 per slice; the
    // gated payloads must NOT produce that (they take the md5 stub)
    assert(MediaCodec.decode(p6bad, 2).toSeq !=
      Seq(21.0 / 765.0, 21.0 / 765.0))
    assert(MediaCodec.decode(p6short, 2).toSeq !=
      Seq(21.0 / 765.0, 21.0 / 765.0))
    // sniff parity: good payloads yield dimensions, bad ones None
    assert(MediaCodec.sniff(p6).contains(
      MediaCodec.Sniffed("image/x-portable-pixmap", Some(2), Some(2), None)))
    assert(MediaCodec.sniff(p5).contains(
      MediaCodec.Sniffed("image/x-portable-graymap", Some(1), Some(4), None)))
    assert(MediaCodec.sniff(p6bad).isEmpty)
    assert(MediaCodec.sniff(p6short).isEmpty)
  }

  test("dhash60: gradient-invariant on real rasters; md5-stub otherwise") {
    import graft.operators.Multimodal.MediaCodec
    // 16×8 P5 horizontal ramp: luma = 10·x + shift (max 150+shift ≤ 255)
    def ramp(shift: Int, desc: Boolean): Array[Byte] =
      ("P5\n16 8\n255\n".getBytes.toSeq ++
        (0 until 8).flatMap(_ => (0 until 16).map { x =>
          val v = 10 * (if (desc) 15 - x else x) + shift
          v.toByte
        })).toArray
    val base = MediaCodec.dhash60(ramp(0, desc = false))
    // uniform brightness shift preserves every gradient comparison
    assert(base == MediaCodec.dhash60(ramp(40, desc = false)),
      "dHash must survive a uniform brightness shift")
    // reversed ramp flips every comparison → far in Hamming space
    val rev = MediaCodec.dhash60(ramp(0, desc = true))
    assert(java.lang.Long.bitCount(base ^ rev) > 30,
      s"reversed gradient too close: ${java.lang.Long.bitCount(base ^ rev)}")
    // BMP bottom-up storage is flipped to top-down luma
    assert(MediaCodec.grayRaster(bmpBytes).contains((2, 2,
      Array(85, 85, 255, 0))) ||
      MediaCodec.grayRaster(bmpBytes).exists { case (w, h, g) =>
        w == 2 && h == 2 && g.toSeq == Seq(85, 85, 255, 0) },
      s"bmp luma: ${MediaCodec.grayRaster(bmpBytes).map(_._3.toSeq)}")
    // out-of-gate payload → first 60 bits of md5 (oracle-reproducible)
    val txt = "no raster here".getBytes
    val md = java.security.MessageDigest.getInstance("MD5").digest(txt)
    var expect = 0L
    (0 until 8).foreach(i => expect = (expect << 8) | (md(i) & 0xffL))
    assert(MediaCodec.dhash60(txt) == (expect >>> 4))
    // sub-grid rasters (w < 9 or h < 8) also fall to the stub: an 8-wide
    // thumbnail has no 9-sample gradient row
    val tiny = ("P5\n4 4\n255\n".getBytes.toSeq ++
      Seq.fill(16)(9.toByte)).toArray
    assert(MediaCodec.dhash60(tiny) == MediaCodec.stubPhash(tiny))
  }

  test("phashNearDuplicates: brightness twin pairs; distinct image does not") {
    val mk = (shift: Int, desc: Boolean) =>
      ("P5\n16 8\n255\n".getBytes.toSeq ++
        (0 until 8).flatMap(_ => (0 until 16).map { x =>
          (10 * (if (desc) 15 - x else x) + shift).toByte
        })).toArray
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "image", mk(0, false), "x",
        Integer.valueOf(16), Integer.valueOf(8), null, null),
      org.apache.spark.sql.Row(2L, "image", mk(40, false), "x",
        Integer.valueOf(16), Integer.valueOf(8), null, null),
      org.apache.spark.sql.Row(3L, "image", mk(0, true), "x",
        Integer.valueOf(16), Integer.valueOf(8), null, null))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("mime",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("width",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("height",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("duration_ms",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("caption",
        org.apache.spark.sql.types.StringType)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val pairs = Multimodal.phashNearDuplicates(media)
      .select("id_a", "id_b", "hamming").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)), pairs.mkString(","))
    assert(pairs.head.getLong(2) == 0L, "brightness twins must be hamming 0")
  }

  test("sniffMetadata: parsed headers override declared values; others keep them") {
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "image", bmpBytes, "application/octet-stream",
        Integer.valueOf(99), Integer.valueOf(99), null, null),
      // byteRate 4 B/s over 8 data bytes → 2000 ms
      org.apache.spark.sql.Row(2L, "audio", wavBytes(4), "application/octet-stream",
        null, null, java.lang.Long.valueOf(7L), null),
      org.apache.spark.sql.Row(3L, "image", "plain text bytes".getBytes, "text/plain",
        Integer.valueOf(640), Integer.valueOf(480), null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.sniffMetadata(df).orderBy("media_id").collect()
    assert(out(0).getAs[String]("mime") == "image/bmp")
    assert(out(0).getAs[Int]("width") == 2 && out(0).getAs[Int]("height") == 2)
    assert(out(1).getAs[String]("mime") == "audio/wav")
    assert(out(1).getAs[Long]("duration_ms") == 2000L)
    // unparseable payload: every declared value flows through unchanged
    assert(out(2).getAs[String]("mime") == "text/plain")
    assert(out(2).getAs[Int]("width") == 640 &&
      out(2).getAs[Int]("height") == 480)
    assert(out(2).isNullAt(out(2).fieldIndex("duration_ms")))
  }

  test("resize rewrites payload + metadata deterministically") {
    val docs = Seq((1L, "a longer payload for resize"), (2L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text")
    val out = Multimodal.resize(media, 4, 2).orderBy("media_id").collect()
    assert(out.forall(_.getAs[Int]("width") == 4))
    assert(out.forall(_.getAs[Int]("height") == 2))
    assert(out(0).getAs[Array[Byte]]("payload").length == 8) // w*h budget
    assert(out(1).getAs[Array[Byte]]("payload").length == 2) // short payload
    val rep = Multimodal.resize(media.repartition(3), 4, 2)
      .orderBy("media_id").collect()
    assert(rep(0).getAs[Array[Byte]]("payload").toSeq ==
      out(0).getAs[Array[Byte]]("payload").toSeq) // partition-independent
  }

  test("resize: REAL nearest-neighbor resample for PNM and BMP rasters") {
    import graft.operators.Multimodal.MediaCodec
    // P6 4×1: four distinct pixels; downsample to 2×1 picks x = 0, 2
    val p6 = ("P6\n4 1\n255\n".getBytes.toSeq ++
      Seq(10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42).map(_.toByte))
      .toArray
    val down = MediaCodec.resizeRaster(p6, 2, 1).get
    assert(new String(down.take(10)) == "P6\n2 1\n255", new String(down))
    assert(down.drop(down.length - 6).toSeq ==
      Seq(10, 11, 12, 30, 31, 32).map(_.toByte))
    // P5 1×2 upsample to 2×4: each gray repeats as a 2×2 block
    val p5 = ("P5\n1 2\n255\n".getBytes.toSeq ++ Seq(7, 9).map(_.toByte))
      .toArray
    val up = MediaCodec.resizeRaster(p5, 2, 4).get
    assert(up.drop(up.length - 8).toSeq ==
      Seq(7, 7, 7, 7, 9, 9, 9, 9).map(_.toByte))
    // the re-encoded output is a first-class image: sniff reads the new
    // dims, decode sees the sampled pixels
    assert(MediaCodec.sniff(up).contains(
      MediaCodec.Sniffed("image/x-portable-graymap", Some(2), Some(4), None)))
    // BMP 2×2 → 1×1: storage pixel (0,0) survives, row pads to 4 bytes
    val one = MediaCodec.resizeRaster(bmpBytes, 1, 1).get
    assert(MediaCodec.sniff(one).contains(
      MediaCodec.Sniffed("image/bmp", Some(1), Some(1), None)))
    assert(one.length == 54 + 4)
    // storage pixel (0,0) of the fixture is white
    assert(one.slice(54, 57).toSeq == Seq(255, 255, 255).map(_.toByte))
    // PNG RGB 2×1 → 1×1: decode, sample pixel (0,0), re-encode — the
    // output PNG round-trips through the SAME decoder
    val rgb = pngBytes(2, 1, 2,
      Array[Byte](0, 10, 20, 30, 40, 50, 60))
    val png1 = MediaCodec.resizeRaster(rgb, 1, 1).get
    val dec = MediaCodec.pngDecode(png1).get
    assert(dec._1 == 1 && dec._2 == 1 && dec._3 == 2)
    assert(dec._5.toSeq == Seq[Byte](10, 20, 30))
    assert(MediaCodec.sniff(png1).contains(
      MediaCodec.Sniffed("image/png", Some(1), Some(1), None)))
    // palette PNG upsample: indices resample, PLTE survives
    val pal = Array[Byte](0, 0, 0, 100, 110, 120)
    val palPng = pngBytes(2, 1, 3, Array[Byte](0, 0, 1), plte = Some(pal))
    val palUp = MediaCodec.resizeRaster(palPng, 4, 1).get
    val palDec = MediaCodec.pngDecode(palUp).get
    assert(palDec._3 == 3 && palDec._4.toSeq == pal.toSeq)
    assert(palDec._5.toSeq == Seq[Byte](0, 0, 1, 1))
    // undecodable payloads keep the stub contract
    assert(MediaCodec.resizeRaster("not an image".getBytes, 2, 2).isEmpty)
    // and the operator routes rasters through the real path
    val rows = Seq(org.apache.spark.sql.Row(1L, "image", p6,
      "image/x-portable-pixmap", Integer.valueOf(4), Integer.valueOf(1),
      null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.resize(df, 2, 1).collect()(0)
    assert(out.getAs[Array[Byte]]("payload").toSeq == down.toSeq)
    assert(out.getAs[Int]("width") == 2 && out.getAs[Int]("height") == 1)
  }

  test("resampleAudio: real frame-sampled WAV re-encode, pass-through gate") {
    import graft.operators.Multimodal.MediaCodec
    // fixture: mono 8000 Hz, samples 16384, -16384, 0, 32767
    val wav = wavBytes(16000)
    // downsample 8000 → 4000: frames 0, 2 survive
    val down = MediaCodec.resampleWav(wav, 4000).get
    assert(MediaCodec.decode(down, 2).toSeq ==
      Seq(16384.0 / 32768.0, 0.0))
    assert(MediaCodec.sniff(down).exists(_.mime == "audio/wav"))
    // upsample 8000 → 16000: every frame doubled —
    // [16384, 16384, -16384, -16384, 0, 0, 32767, 32767]
    val up = MediaCodec.resampleWav(wav, 16000).get
    assert(MediaCodec.decode(up, 8).toSeq ==
      Seq(16384, 16384, 16384, 16384, 0, 0, 32767, 32767)
        .map(_ / 32768.0),
      s"got ${MediaCodec.decode(up, 8).toSeq}")
    // duration preserved: same frames/second ratio → byteRate doubles
    // with the rate, so sniffed duration is unchanged
    assert(MediaCodec.sniff(up).map(_.durationMs) ==
      MediaCodec.sniff(wav).map(_.durationMs))
    // out-of-gate payloads pass through unchanged via the operator
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "audio", wav, "audio/wav",
        null, null, null, null),
      org.apache.spark.sql.Row(2L, "image", bmpBytes, "image/bmp",
        null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.resampleAudio(df, 4000).orderBy("media_id")
      .collect()
    assert(out(0).getAs[Array[Byte]]("payload").toSeq == down.toSeq)
    assert(out(1).getAs[Array[Byte]]("payload").toSeq == bmpBytes.toSeq,
      "non-WAV payloads must pass through untouched")
  }

  test("metadataProfile prunes payload column from the scan") {
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text")
    val plan = Multimodal.metadataProfile(media)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("payload"))
  }
}

class EmbeddingsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Embeddings

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 0.0f)),
    (2L, Array(3.0f, 0.0f, 0.0f)),
    (3L, Array(5.0f, 4.0f, 0.0f)),
    (4L, Array(7.0f, 2.0f, 0.0f))).toDF("vec_id", "embedding")

  test("intrinsicDimension: exact shifted quarter-bit ratios on a " +
    "1-D fixture") {
    // 1-D points 0, 1, 3 → squared micro distances 1e12/4e12/9e12;
    // replicate the shifted quarter-bit kernel driver-side
    def qlb(d1: Long, d2: Long): Long = {
      val s = math.max(0, java.lang.Long.toBinaryString(d2).length - 15)
      val b = d2 >> s
      val a = math.max(d1 >> s, 1L)
      java.math.BigInteger.valueOf(b).pow(4)
        .divide(java.math.BigInteger.valueOf(a).pow(4))
        .bitLength - 1L
    }
    val want = qlb(1000000000000L, 9000000000000L) +
      qlb(1000000000000L, 4000000000000L) +
      qlb(4000000000000L, 9000000000000L)
    val df = Seq((1L, Array(0.0f)), (2L, Array(1.0f)),
      (3L, Array(3.0f))).toDF("vec_id", "embedding")
    val r = Embeddings.intrinsicDimension(df, "vec_id", "embedding")
      .collect().head
    assert(r.getAs[Long]("n_points") == 3L)
    assert(r.getAs[Long]("sum_qlb") == want, s"sum_qlb: $r want $want")
    assert(r.getAs[Double]("id_estimate") ==
      8.0 * 3.0 / (0.6931471805599453 * want.toDouble))
  }

  test("centroidConfusion: planted mislabel lands off-diagonal") {
    // label 0 = {0, 0.1, 1.0(mislabeled)}, label 1 = {1.0, 1.0}:
    // the 1.0@label0 point sits on label 1's centroid → pred 1
    val df = Seq((1L, 0, Array(0.0f)), (2L, 0, Array(0.1f)),
      (3L, 0, Array(1.0f)), (4L, 1, Array(1.0f)), (5L, 1, Array(1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Embeddings
      .centroidConfusion(df, "vec_id", "label", "embedding")
      .collect().map(r => (r.getAs[Int]("true_label"),
        r.getAs[Int]("pred_label")) ->
        ((r.getAs[Long]("n_points"), r.getAs[Long]("row_share_ppb"))))
      .toMap
    assert(got((0, 0)) == ((2L, 666666666L)), s"$got")
    assert(got((0, 1)) == ((1L, 333333333L)), s"$got")
    assert(got((1, 1)) == ((2L, 1000000000L)), s"$got")
    assert(!got.contains((1, 0)))
  }

  test("normProfile: exact q12 squared norms, rank-picked median, " +
    "fixed-order RMS") {
    val df = Seq((1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.5f, 0.5f))).toDF("vec_id", "label", "embedding")
    val r = Embeddings.normProfile(df, "vec_id", "label", "embedding")
      .collect().head
    assert(r.getAs[Long]("n_vecs") == 2L)
    assert(r.getAs[Long]("min_norm2_q12") == 500000000000L)
    assert(r.getAs[Long]("max_norm2_q12") == 1000000000000L)
    assert(r.getAs[Long]("p50_norm2_q12") == 500000000000L)
    assert(r.getAs[Double]("rms_norm") ==
      math.sqrt((1500000000000.0 / 2.0) / 1.0e12))
  }

  test("mislabelCandidates: farthest-from-centroid ranking, exact " +
    "integer micro-distances") {
    // 1-D label 0 at micros {0, 100000, 1000000}: s=1100000, n=3 →
    // rounded mean m = 2200003 div 6 = 366667
    val df = Seq((10L, 0, Array(0.0f)), (11L, 0, Array(0.1f)),
      (12L, 0, Array(1.0f))).toDF("vec_id", "label", "embedding")
    val rows = Embeddings
      .mislabelCandidates(df, "vec_id", "label", "embedding", topK = 3)
      .collect().sortBy(_.getAs[Long]("mis_rank"))
    val m = 366667L
    def sq(x: Long) = (x - m) * (x - m)
    assert(rows.map(r => (r.getAs[Long]("vid"),
      r.getAs[Long]("d2_micro2"))).toSeq ==
      Seq((12L, sq(1000000L)), (10L, sq(0L)), (11L, sq(100000L))))
    assert(rows.head.getAs[Double]("dist") ==
      math.sqrt(sq(1000000L).toDouble) / 1.0e6)
  }

  test("labelCentroidSimilarity: exact centroids, hand cosines, " +
      "zero-norm NULL") {
    val df = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(1.0f, 0.0f)), // centroid (1, 0)
      (1, Array(0.0f, 2.0f)),                         // centroid (0, 2)
      (2, Array(1.0f, 1.0f)), (2, Array(3.0f, 1.0f)), // centroid (2, 1)
      (3, Array(0.0f, 0.0f))                          // zero norm
    ).toDF("label", "embedding")
    val got = Embeddings.labelCentroidSimilarity(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.size == 6)
    assert(got((0, 1)).contains(0.0))
    assert(got((0, 2)).contains(2.0 / (1.0 * math.sqrt(5.0))))
    assert(got((1, 2)).contains(2.0 / (2.0 * math.sqrt(5.0))))
    assert(got((0, 3)).isEmpty && got((1, 3)).isEmpty &&
      got((2, 3)).isEmpty, "zero-norm centroid must yield NULL")
  }

  test("covariance: exact hand values, partition-independent") {
    // x0 mean 4, x1 mean 2: cov00 = (1+9+25+49)/4-16 = 5, cov01 =
    // (2+0+20+14)/4-8 = 1, cov11 = (4+0+16+4)/4-4 = 2, x2 constant → 0
    val got = Embeddings.covariance(vecs, "embedding", 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 5.0, (0, 1) -> 1.0, (0, 2) -> 0.0,
      (1, 1) -> 2.0, (1, 2) -> 0.0, (2, 2) -> 0.0))
    val again = Embeddings.covariance(vecs.repartition(7), "embedding", 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == got) // decimal sums: bit-equal across partitionings
  }

  test("pcaPowerTop: recovers a planted dominant direction, exact " +
    "integer orbit is partitioning-invariant") {
    // rank-1-ish data along (1, 0.1): cov = [[2.5, 0.25], [0.25,
    // 0.025]] = 2.5*vv' -> top eigenvalue 2.525, eigenvector (1, 0.1)
    val planted = Seq(1.0f, -1.0f, 2.0f, -2.0f)
      .map(t => Tuple1(Array(t, 0.1f * t))).toDF("embedding")
    val rows = Embeddings.pcaPowerTop(planted, "embedding", dim = 2,
      iterations = 8).collect()
    val v = rows.map(r => r.getAs[Long]("i") -> r.getAs[Long]("v_ppb"))
      .toMap
    // dominant component saturates the ppb scale; the other sits at
    // the planted 1:10 ratio (integer truncation only)
    assert(math.abs(v(0L)) >= 999999999L, s"v0 = ${v(0L)}")
    // scale-8 covariance quantization + truncating normalization put
    // the minor component within ~50 ppb of the planted 1:10 ratio
    assert(math.abs(v(1L) * 10 - v(0L)) <= 50L, s"ratio off: $v")
    val lambda = rows.head.getAs[Double]("lambda")
    assert(math.abs(lambda - 2.525) < 1e-3, s"lambda = $lambda")
    val again = Embeddings.pcaPowerTop(planted.repartition(3),
      "embedding", dim = 2, iterations = 8).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("jacobiEigen: recovers a known symmetric spectrum") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1
    val (eig, basis) = Embeddings.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(eig(0) - 3.0) < 1e-12 && math.abs(eig(1) - 1.0) < 1e-12)
    // eigenvector of 3 is (1,1)/sqrt2 up to sign
    assert(math.abs(math.abs(basis(0)(0)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(basis(0)(0) - basis(0)(1)) < 1e-12)
  }

  test("pcaWhiten: whitened covariance is the identity on live axes") {
    val out = Embeddings.pcaWhiten(vecs, "embedding", 3)
      .select(col("whitened")).as[Array[Double]].collect()
    // empirical covariance of the whitened components
    val n = out.length.toDouble
    def mean(k: Int) = out.map(_(k)).sum / n
    def cov(a: Int, b: Int) =
      out.map(v => v(a) * v(b)).sum / n - mean(a) * mean(b)
    // two live axes → unit variance, zero cross-covariance; the dead
    // third axis stays at zero variance (floor guard, no blowup)
    assert(math.abs(cov(0, 0) - 1.0) < 1e-9, s"var0=${cov(0, 0)}")
    assert(math.abs(cov(1, 1) - 1.0) < 1e-9, s"var1=${cov(1, 1)}")
    assert(math.abs(cov(0, 1)) < 1e-9, s"cross=${cov(0, 1)}")
    assert(math.abs(cov(2, 2)) < 1e-9, s"dead=${cov(2, 2)}")
    assert(out.forall(v => v.forall(x => !x.isNaN && !x.isInfinite)))
  }

  test("meanShiftDrift: hand-computed axes shift, tie goes to the " +
      "smallest dim, and the group contract is enforced") {
    import graft.operators.Embeddings
    // cohort 0 mean (1,0), cohort 1 mean (0,1): shift ±1e6 micro on
    // each axis → sq 1e12 each, mmd2 = 2.0, top_dim tie → 0, share 50%
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("grp", pmod($"vec_id", lit(2L)))
    val r = Embeddings.meanShiftDrift(d, "vec_id", "embedding", "grp")
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("n_dims") == 2L)
    assert(math.abs(r.getAs[Double]("mmd2") - 2.0) < 1e-15)
    assert(r.getAs[Long]("top_dim") == 0L)
    assert(r.getAs[Long]("top_share_ppm") == 500000L)
    // identical cohorts → zero shift, null share (0/0 guarded)
    val same = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("grp", pmod($"vec_id", lit(2L)))
    val z = Embeddings.meanShiftDrift(same, "vec_id", "embedding", "grp")
      .collect().head
    assert(z.getAs[Double]("mmd2") == 0.0)
    assert(z.isNullAt(z.fieldIndex("top_share_ppm")))
    // a single-cohort input must fail loudly, not silently emit zeros
    val one = Seq((0L, Array(1.0f))).toDF("vec_id", "embedding")
      .withColumn("grp", lit(0L))
    val ex = intercept[IllegalArgumentException] {
      Embeddings.meanShiftDrift(one, "vec_id", "embedding", "grp")
    }
    assert(ex.getMessage.contains("must cover exactly"))
  }
}
