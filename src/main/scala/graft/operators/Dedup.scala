package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. (Embedding-cosine near-dup lives in
  * [[Similarity.cosineNearDuplicates]].)
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash `groupBy` — partial aggregation + one shuffle
  *    on a 128-bit digest, never on the raw text.
  *  - MinHash/SimHash avoid the O(n²) pair space by *banding*: candidate
  *    pairs are generated bucket-locally (group ids per (band, hash),
  *    explode in-bucket pairs) — one shuffle of short keys, no self-join,
  *    hot buckets skipped by `maxBucket`. Only candidates are verified.
  *  - Signatures are native codegen'd expressions ([[graft.functions.SimHash60]],
  *    [[graft.functions.MinHashSignature]]): one pass per row, zero shuffle;
  *    compositional `ViaAggregation` fallbacks are kept and cross-checked.
  */
object Dedup {

  /** Exact dedup assignment: per-row content digest plus the size of its
    * duplicate group and the canonical (minimum) id that survives.
    * `keep = (id == keep_id)` selects survivors.
    *
    * Two-phase: digest groupBy (partial-agg shuffle) then a broadcast-able
    * join back — at 100 TB the group table is tiny relative to the corpus
    * (only digests + counts), and AQE broadcasts it.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val digest = md5(col(textCol).cast(BinaryType))
    val withDigest = df.withColumn("content_md5", digest)
    val groups = withDigest.groupBy(col("content_md5"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))
    withDigest.join(groups, Seq("content_md5"))
      .withColumn("keep", col(idCol) === col("keep_id"))
  }

  /** C4-style span dedup, REWRITE form: any `spanWords`-word block that
    * occurs more than once ACROSS the corpus survives only at its first
    * occurrence — smallest `(doc_id, block_no)` — and every other copy
    * is cut out of its document; the remaining blocks re-join in order.
    * This is the published web-corpus recipe (C4 removes any
    * three-sentence span occurring twice; over a line-less corpus the
    * fixed word-block is the granularity) — distinct from the pair/
    * component operators above, which FLAG whole documents: here
    * boilerplate is excised and the document survives. Whitespace is
    * normalized to single spaces by the rewrite (the block join), like
    * [[TextAnalysis.normalize]].
    *
    * Returns `(doc_id, text, n_removed)` for every input row — docs with
    * all blocks removed (pure boilerplate) come back with empty text,
    * `n_removed` is the per-doc telemetry a curation pipeline thresholds
    * on.
    *
    * Scale shape: blocks explode to `words/spanWords` rows; the
    * first-occurrence window shuffles once on the 128-bit span digest
    * (span text rides as payload — bounded at `spanWords` words; groups
    * are duplicate-count-sized, no hot-key risk beyond true boilerplate,
    * which is exactly what gets cut); the rebuild is one `groupBy` on
    * doc id with an ordered in-memory fold of that doc's own blocks.
    * Two narrow shuffles, no driver state. */
  def spanDedupRewrite(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val flagged = wordBlocks(base, spanWords).withColumn("keep",
      row_number().over(
        Window.partitionBy(md5(col("span").cast(BinaryType)))
          .orderBy(col("doc_id"), col("block_no"))) === 1)
    rebuildFromBlocks(base, flagged)
  }

  /** Non-overlapping `k`-word blocks of every non-empty doc:
    * `(doc_id, block_no, span)` — the shared front of the span-rewrite
    * operators. */
  private def wordBlocks(base: DataFrame, k: Int): DataFrame =
    base
      .withColumn("ws", TextAnalysis.tokens(col("text")))
      .withColumn("nw", when(length(trim(col("text"))) === 0, lit(0))
        .otherwise(size(col("ws"))))
      .filter(col("nw") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          expr(s"(nw + ${k - 1}) div $k").cast(IntegerType) - 1))
          .as("block_no"),
        col("ws"))
      .withColumn("span",
        array_join(slice(col("ws"), col("block_no") * k + 1, lit(k)), " "))
      .drop("ws")

  /** Re-join each doc's kept blocks in order and restore block-less
    * rows: `(doc_id, text, n_removed)` for EVERY row of `base`. */
  private def rebuildFromBlocks(base: DataFrame,
      flagged: DataFrame, joiner: String = " "): DataFrame = {
    val rebuilt = flagged.groupBy(col("doc_id")).agg(
      array_join(
        transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("block_no"), col("span"))))),
          s => s.getField("span")),
        joiner).as("text"),
      sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("n_removed"))
    base.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** PARAGRAPH-level dedup (the Dolma `dedupe-paragraphs` recipe): any
    * paragraph — a `\n\n`-delimited block, the NATURAL-boundary
    * complement of [[spanDedupRewrite]]'s fixed k-word blocks — survives
    * only at its first corpus occurrence (order: doc_id, then position
    * within the doc); documents come back REWRITTEN with the surviving
    * paragraphs re-joined by `\n\n` plus `n_removed` telemetry. Catches
    * the boilerplate the fixed-block excision chops through mid-span:
    * nav bars, footers, license blocks repeat as WHOLE paragraphs, so
    * deduping at the author's own boundaries removes them cleanly
    * without shifting any surviving text. A paragraph duplicated within
    * one document dedups the same way (first position wins); empty
    * paragraphs (consecutive delimiters) participate like any block.
    *
    * Same two-shuffle shape as [[spanDedupRewrite]]: one digest-keyed
    * first-occurrence window (the md5 partition key is uniform — no hot
    * key survives the hash), one per-doc rebuild groupBy; no driver
    * state, no corpus self-join. */
  def paragraphDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val paras = base
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n\n")).as(Seq("block_no", "span")))
    val flagged = paras.withColumn("keep",
      row_number().over(
        Window.partitionBy(md5(col("span").cast(BinaryType)))
          .orderBy(col("doc_id"), col("block_no"))) === 1)
    rebuildFromBlocks(base, flagged, joiner = "\n\n")
  }

  /** Corpus duplication-rate telemetry off the span-dedup decision —
    * the "how much boilerplate is in this crawl" number a pipeline
    * reads before deciding whether span excision is worth a rewrite
    * pass: total blocks, duplicated (non-first-occurrence) blocks, the
    * duplication fraction, and how many docs are touched. One row out;
    * same two shuffles as [[spanDedupRewrite]] minus the rebuild. */
  def spanDuplicationProfile(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val flagged = wordBlocks(base, spanWords).withColumn("keep",
      row_number().over(
        Window.partitionBy(md5(col("span").cast(BinaryType)))
          .orderBy(col("doc_id"), col("block_no"))) === 1)
    flagged.agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_dup_blocks"),
      count_distinct(col("doc_id")).as("n_docs_with_blocks"),
      count_distinct(when(!col("keep"), col("doc_id")))
        .as("n_docs_affected"))
      .withColumn("dup_fraction",
        col("n_dup_blocks").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_blocks").cast(org.apache.spark.sql.types.DoubleType))
  }

  /** Span-level DECONTAMINATION, rewrite form: every `spanWords`-word
    * train block whose text also appears as an eval-corpus block is cut
    * — the document survives with the quoted benchmark material excised,
    * where [[crossCorpusContamination]] would flag (and a pipeline would
    * drop) the whole document. This is the surgical arm of the published
    * decontamination recipes: dropping a long web page because it quotes
    * one benchmark question wastes the rest of the page; excising the
    * span keeps it. Same block granularity, rewrite contract, and
    * telemetry as [[spanDedupRewrite]] — `(doc_id, text, n_removed)` for
    * every train row, whitespace normalized to single spaces, fully
    * contaminated docs come back empty with their block count in
    * `n_removed`.
    *
    * Scale shape: the eval corpus is benchmark-sized by definition, so
    * its distinct block digests BROADCAST; train blocks mark themselves
    * contaminated map-side (no data-sized shuffle for the check — the
    * [[crossCorpusContamination]] asymmetry), and the only shuffle is
    * the per-doc rebuild groupBy. */
  def spanDecontaminate(train: DataFrame, idCol: String, textCol: String,
      evalCorpus: DataFrame, evalIdCol: String, evalTextCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    val base = train.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val evalBase = evalCorpus.select(col(evalIdCol).as("doc_id"),
      col(evalTextCol).as("text"))
    val evalDigests = wordBlocks(evalBase, spanWords)
      .select(md5(col("span").cast(BinaryType)).as("eval_md5")).distinct()
    val flagged = wordBlocks(base, spanWords)
      .join(broadcast(evalDigests),
        md5(col("span").cast(BinaryType)) === col("eval_md5"), "left")
      .withColumn("keep", col("eval_md5").isNull)
      .drop("eval_md5")
    rebuildFromBlocks(base, flagged)
  }

  /** Structural reduce-side bound for every bucket aggregation: drop the
    * rows of over-full buckets BEFORE `collect_list` ever sees them. The
    * post-hoc `size(es) <= cap` filter bounds which buckets emit PAIRS,
    * but the oversized array still materializes in one aggregation
    * buffer first — at corpus scale a boilerplate key with 10⁸ postings
    * is an executor OOM (or, routed through a window count instead, a
    * one-task straggler sorting the whole hot bucket). Here bucket sizes
    * come from a plain `count` (map-side combined, skew-irrelevant) and
    * hot rows leave through one anti-join on the bucket key. AQE picks
    * its strategy at run time: an empty hot set removes the join, a
    * small one is broadcast (hot rows die at the map side of the big
    * shuffle), and a large one is sort-merged on the bucket key.
    * Building the frame runs no job. `rows` is scanned twice (size pass + anti-join pass) —
    * callers keep the projection cheap or persisted.
    *
    * Dropping a bucket entirely (not sampling it) is the same semantics
    * as the post-hoc filter, so oracles are unchanged. */
  private[graft] def dropHotBuckets(
      rows: DataFrame, keyCols: Seq[String], maxSize: Long): DataFrame = {
    val hot = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxSize)
      .select(keyCols.map(col): _*)
    rows.join(hot, keyCols, "left_anti")
  }

  /** In-bucket candidate pairs WITHOUT a self-join — the one pair
    * generator behind every bucket/postings operator: group `rows` by
    * `bucketCols`, gather each bucket's `entryCols` as a sorted struct
    * array, and explode its C(n,2) pairs through the native
    * `pair_combinations_struct` kernel. The first entry column is the
    * id, so every pair has `id_a <= id_b`, strictly `<` when a bucket
    * holds each id once. Returns `carry` (a subset of `bucketCols`)
    * followed by each entry field `f` as `f_a`, `f_b`, one row per
    * in-bucket pair — not deduplicated across buckets.
    *
    * Buckets are materialized whole in one aggregation buffer, so any
    * hot-bucket bound ([[dropHotBuckets]]) and any width pin ([[Par]])
    * belong upstream, on `rows`. */
  private[graft] def bucketPairs(rows: DataFrame, bucketCols: Seq[String],
      entryCols: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    require(carry.forall(bucketCols.contains),
      s"bucketPairs carries only bucket columns; got ${carry.mkString(",")}")
    graft.functions.GraftFunctions.register(rows.sparkSession)
    rows.groupBy(bucketCols.map(col): _*)
      .agg(array_sort(collect_list(struct(entryCols.map(col): _*))).as("es"))
      .filter(size(col("es")) > 1)
      .select(carry.map(col) :+ explode(graft.functions.PairFunctions
        .pairCombinationsStruct(col("es"))).as("p"): _*)
      .select(carry.map(col) ++ entryCols.flatMap(f => Seq(
        col(s"p.a.$f").as(s"${f}_a"), col(s"p.b.$f").as(s"${f}_b"))): _*)
  }

  /** Distinct candidate pairs (`id_a < id_b`) from LSH buckets via
    * [[bucketPairs]]. A self-join would recompute the whole signature
    * pipeline for each side (exchange reuse does not rescue aliased
    * branches); this computes signatures once and shuffles only
    * (bucket, id[, payload]). `maxBucket` drops degenerate buckets (a hot
    * bucket is quadratic however you generate pairs — standard LSH
    * practice is to skip, not explode, them; at 2000 ids a bucket already
    * means ~2M pairs in one task) — via [[dropHotBuckets]], so an
    * over-full bucket never reaches the aggregation buffer either.
    *
    * Returns the LAZY pair frame plus the persisted bucket rows (the
    * [[ngramPairCounts]] contract): the rows feed both the hot-bucket
    * aggregate and the pair explode, and several callers' bucket
    * projections run a corpus kernel (SimHash, phash decode, hyperplane
    * hashing) that is cached nowhere else. The caller seals its verified
    * result, then unpersists the rows.
    *
    * `keyCol` (one of `bucketCols`) is kept on the output — the sweep
    * form: several banding configurations share ONE bucket shuffle and
    * each config's pair set stays separable. `payloadCol` carries one
    * small column per id through the bucket aggregation, so verification
    * needs NO join back onto the signature table (a join-back re-executes
    * the signature pipeline per side, or forces a persist) — only worth
    * it for scalar payloads; wide payloads (vectors, long signatures) are
    * cheaper to join back from a persisted side. Output
    * `([keyCol,] id_a, id_b[, <payload>_a, <payload>_b])`, distinct.
    *
    * Ids must be numeric: they are cast to LONG so every caller's pair
    * frame joins on one id type. Validated up front — a string id would
    * otherwise surface as a null/ANSI cast error deep inside the pair
    * stage. */
  private[operators] def pairsFromBuckets(
      banded: DataFrame, idCol: String, bucketCols: Seq[String],
      maxBucket: Int = 2000, keyCol: Option[String] = None,
      payloadCol: Option[String] = None): (DataFrame, DataFrame) = {
    val idType = banded.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"pairsFromBuckets requires a numeric id column (castable to LONG); " +
        s"'$idCol' is ${idType.simpleString}")
    val rows = banded.select((bucketCols ++ (idCol +: payloadCol.toSeq))
        .map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = dropHotBuckets(rows, bucketCols, maxBucket.toLong)
    // pinned width for the in-bucket pair explode (byte-sparse,
    // compute-dense — the [[Par]] rule; collect_list has no map-side
    // reduction so the moved exchange is byte-neutral). The payload
    // form (SimHash, phash) keeps AQE's width, one reduce task at sf0.1
    // local[4]: a pin to 4 took phash's median 1079 → 1307 ms.
    val pinned =
      if (payloadCol.isEmpty) Par.byKey(kept, bucketCols.map(col): _*)
      else kept
    val pairs = bucketPairs(
      pinned.select(bucketCols.map(col) ++ (col(idCol).cast(LongType)
        .as("id") +: payloadCol.toSeq.map(col)): _*),
      bucketCols, "id" +: payloadCol.toSeq, keyCol.toSeq)
      .distinct() // a payload is functionally dependent on its id
    (pairs, rows)
  }

  /** First 60 bits of MD5 as a long — the engine-portable hash primitive
    * every signature here builds on (MD5 exists in every SQL engine, so
    * the DuckDB oracle reproduces signatures exactly; and 60 bits keep
    * all arithmetic positive and overflow-free in signed 64-bit). */
  private[graft] def md5_60(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)

  /** The Kirsch–Mitzenmacher family `h_i = (b1 + i·b2) mod 2^60`,
    * written with a 54/6-bit split so no intermediate exceeds 63 bits —
    * ANSI-safe in Spark SQL, overflow-free in DuckDB, and identical to
    * [[graft.functions.MinHashImpl.kmHash]]. */
  private def kmHash(b1: Column, b2: Column, i: Int): Column = {
    val m60 = (1L << 60) - 1
    val lo = b2.bitwiseAND(lit((1L << 54) - 1))
    val hi = shiftrightunsigned(b2, 54)
    (b1 + (lit(i.toLong) * lo).bitwiseAND(lit(m60)) +
      shiftleft((lit(i.toLong) * hi).bitwiseAND(lit(63L)), 54))
      .bitwiseAND(lit(m60))
  }

  /** MinHash signature per id as an `ARRAY<LONG>` of length k, via the
    * native [[graft.functions.MinHashSignature]] expression: one codegen'd
    * pass per row, no explode, no shuffle. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // r14: spread the signature kernel (shingle + k× KM-hash fold per
    // row — the CPU-dense pass of the whole MinHash family) at a pinned
    // width; the corpus parquet is a single split at bench scale, so
    // without this the kernel runs one-task (guide §2.6).
    Par.byKey(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
      graft.functions.MinHashFunctions.minhashSignature(
        graft.functions.WordShingleFunctions
          .wordShingles(col(textCol), shingleWords), k).as("sig"))
  }

  /** Compositional formulation (explode shingles → k `min()` aggregates in
    * one groupBy): same bits as [[minhashSignatures]] (cross-checked by
    * test), kept as the no-custom-expression fallback. Costs one shuffle
    * of every shingle. */
  def minhashSignaturesViaAggregation(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, k: Int): DataFrame = {
    val sh = TextAnalysis.shingles(col(textCol), shingleWords)
    val exploded = df.select(col(idCol), explode(sh).as("shingle"))
      .withColumn("b1", md5_60(col("shingle")))
      .withColumn("b2", md5_60(concat(col("shingle"), lit("#"))))
    val hs = (0 until k).map(i => kmHash(col("b1"), col("b2"), i))
    exploded.groupBy(col(idCol))
      .agg(min(hs.head).as("mh_0"),
           hs.tail.zipWithIndex.map { case (h, i) => min(h).as(s"mh_${i + 1}") }: _*)
  }

  /** LSH band hashes for a `(id, sig)` signature frame: one row per
    * (id, band) with `band_hash`. Exploding the band index FIRST matters:
    * the Generate node materializes `sig` once per row; computing band
    * hashes before the explode would let CollapseProject inline the
    * signature kernel into every band expression (k× recompute). The band
    * hash is md5_60 of a canonical "m0,m1,..|band" string so the oracle
    * (and any persisted index) reproduces buckets exactly. */
  def bandedSignatures(sigs: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs
      .select(col(idCol), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_hash", md5_60(concat(
        concat_ws(",", transform(
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast(StringType))),
        lit("|"), col("band").cast(StringType))))

  /** MinHash + LSH banding: near-duplicate candidate pairs `(id_a, id_b)`
    * with the fraction of agreeing signature components (`sig_similarity`,
    * an unbiased Jaccard estimate). Pairs with
    * `sig_similarity >= threshold` are returned, `id_a < id_b`, distinct.
    *
    * `k = bands * rowsPerBand`. Banding makes the candidate join an
    * equi-join on `(band, hash(band rows))` — the only pairwise work is
    * within buckets, which is the whole point of LSH at scale.
    */
  def minhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    // The signature table feeds three branches (bucketing + two join-backs);
    // without a persist each branch recomputes the kernel over the corpus.
    val sigs = minhashSignatures(df, idCol, textCol, shingleWords, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashPairsFromSignatures(sigs, idCol, bands, rowsPerBand, threshold)
    finally sigs.unpersist()
  }

  /** Pair generation + verification over an ALREADY-COMPUTED `(id, sig)`
    * signature frame — callers that need the signatures for other work
    * too (e.g. [[graft.streaming.StreamingTextDedup]]'s cross-batch
    * probe) compute them once and share; [[minhashNearDuplicates]]
    * delegates here. `sigs` should be persisted by the caller (three
    * branches read it). */
  def minhashPairsFromSignatures(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val banded = bandedSignatures(sigs, idCol, bands, rowsPerBand)
    val (pairs, rows) =
      pairsFromBuckets(banded, idCol, Seq("band", "band_hash"))
    val result = pairs
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.MinHashFunctions
          .sigAgreement(col("sig_a"), col("sig_b")).cast(DoubleType) /
          lit(k.toDouble)).as("sig_similarity"))
      .filter(col("sig_similarity") >= threshold)
    // seal the small verified pair set; the bucket rows only fed it
    try Lifetime.seal(result) finally rows.unpersist()
  }

  /** MINHASH-LSH QUALITY EVAL — precision/recall of the banded-minhash
    * pair set against the EXACT n-gram Jaccard ground truth at the same
    * threshold: the knob-pricing harness for `(bands, rowsPerBand)`. The
    * LSH S-curve misses low-margin true pairs and the signature estimate
    * admits noise pairs; this measures both BEFORE a dedup config ships —
    * the same role the recall@k harness plays for the ANN family.
    *
    * Cost is the two operators themselves; the evaluation is a
    * full-outer join of two PAIR lists (tiny relative to the corpus)
    * plus a one-row rollup. Ratios are per-row double divisions of
    * exact longs — deterministic. Returns one row:
    * `(n_truth, n_pred, n_hit, precision, recall)`. */
  def minhashQualityEval(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val truth = ngramJaccardPairs(df, idCol, textCol, shingleWords,
      threshold).select(col("id_a"), col("id_b"), lit(1L).as("in_truth"))
    val pred = minhashNearDuplicates(df, idCol, textCol, shingleWords,
      bands, rowsPerBand, threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_pred"))
    truth.join(pred, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_truth"), lit(0L))).as("n_truth"),
        sum(coalesce(col("in_pred"), lit(0L))).as("n_pred"),
        sum(when(col("in_truth").isNotNull && col("in_pred").isNotNull,
          1L).otherwise(0L)).as("n_hit"))
      .withColumn("precision", when(col("n_pred") > 0,
        col("n_hit").cast(DoubleType) / col("n_pred")))
      .withColumn("recall", when(col("n_truth") > 0,
        col("n_hit").cast(DoubleType) / col("n_truth")))
  }

  /** MINHASH-LSH BAND SWEEP — the knob-pricing frontier for the dedup
    * index, the exact counterpart of [[Similarity.ivfRecallSweep]] for
    * the ANN family: for each band count `b` in `bandsSweep` (rows per
    * band `k / b`), one row with the candidate pairs that banding
    * generates, the pairs the signature estimate keeps at `threshold`,
    * and their precision/recall against the EXACT n-gram Jaccard ground
    * truth. The LSH S-curve steepens as rows-per-band grows (fewer,
    * stricter bands → fewer candidates, lower recall); this pins the
    * whole trade-off as an oracle-checkable table instead of a
    * per-config one-off ([[minhashQualityEval]]).
    *
    * ONE bucket shuffle for the whole sweep: every configuration's
    * banded rows go into a single `(bands, band, band_hash)`-keyed
    * frame, pair generation groups once ([[pairsFromBuckets]] keyed
    * on `bands`),
    * and the signature table (computed once, k components) verifies all
    * configs' candidates in one join. Ground truth is computed once and
    * shared. Counts are exact longs; precision/recall are single
    * double divisions of those longs. Hot buckets are dropped
    * per-config by the same `maxBucket` guard as the production path —
    * the sweep prices the candidate cost a config would actually pay. */
  def minhashBandSweep(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, k: Int = 64,
      bandsSweep: Seq[Int] = Seq(8, 16, 32), threshold: Double = 0.10,
      maxBucket: Int = 2000): DataFrame = {
    require(bandsSweep.nonEmpty, "minhashBandSweep: empty sweep")
    bandsSweep.foreach(b => require(b > 0 && k % b == 0,
      s"minhashBandSweep: k=$k not divisible by bands=$b"))
    val spark = df.sparkSession
    val sigs = minhashSignatures(df, idCol, textCol, shingleWords, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ngramJaccardPairs returns a sealed frame: the all-pairs pass runs
      // once for truthC and hitC, and the seal below frees it
      val truth = ngramJaccardPairs(df, idCol, textCol, shingleWords,
        threshold).select(col("id_a"), col("id_b"))
      // all configs in one banded frame; hashes computed AFTER the
      // explode (same CollapseProject guard as bandedSignatures)
      val cfgArr = array(bandsSweep.sorted.map(b =>
        struct(lit(b.toLong).as("bands"), lit((k / b).toLong).as("rpb"))): _*)
      val banded = sigs
        .select(col(idCol), col("sig"), explode(cfgArr).as("cfg"))
        .select(col(idCol), col("sig"), col("cfg.bands").as("bands"),
          col("cfg.rpb").as("rpb"))
        .select(col(idCol), col("sig"), col("bands"), col("rpb"),
          explode(sequence(lit(0L), col("bands") - 1)).as("band"))
        .withColumn("band_hash", md5_60(concat(
          concat_ws(",", transform(
            slice(col("sig"), (col("band") * col("rpb") + 1)
              .cast(IntegerType), col("rpb").cast(IntegerType)),
            _.cast(StringType))),
          lit("|"), col("band").cast(StringType))))
      // sealed: the join's inferred not-null filters, pushed below the
      // distinct, keep the counts and the verification from sharing it
      val (pairs0, rows) = pairsFromBuckets(banded, idCol,
        Seq("bands", "band", "band_hash"), maxBucket, keyCol = Some("bands"))
      val pairs = try Lifetime.seal(pairs0) finally rows.unpersist()
      val simed = pairs
        .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")),
          Seq("id_a"))
        .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")),
          Seq("id_b"))
        .select(col("bands"), col("id_a"), col("id_b"),
          (graft.functions.MinHashFunctions
            .sigAgreement(col("sig_a"), col("sig_b")).cast(DoubleType) /
            lit(k.toDouble)).as("sig_similarity"))
      // pred feeds predC and hitC: each reruns a join over sealed inputs
      val pred = simed.filter(col("sig_similarity") >= threshold)
      val cand = pairs.groupBy(col("bands"))
        .agg(count(lit(1)).as("n_candidates"))
      val predC = pred.groupBy(col("bands")).agg(count(lit(1)).as("n_pred"))
      val hitC = pred.join(truth, Seq("id_a", "id_b"), "left_semi")
        .groupBy(col("bands")).agg(count(lit(1)).as("n_hit"))
      val truthC = truth.agg(count(lit(1)).as("n_truth"))
      import spark.implicits._
      val cfgDf = bandsSweep.sorted.map(b => (b.toLong, (k / b).toLong))
        .toDF("bands", "rows_per_band")
      val result = cfgDf
        .join(cand, Seq("bands"), "left")
        .join(predC, Seq("bands"), "left")
        .join(hitC, Seq("bands"), "left")
        .crossJoin(truthC)
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("n_truth"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("precision", when(col("n_pred") > 0,
          col("n_hit").cast(DoubleType) / col("n_pred")))
        .withColumn("recall", when(col("n_truth") > 0,
          col("n_hit").cast(DoubleType) / col("n_truth")))
        .orderBy(col("bands"))
      Lifetime.seal(result, pairs, truth)
    } finally sigs.unpersist()
  }

  /** TRIANGLE CENSUS of a pair graph — the structural audit of a
    * near-dup edge set: transitivity (`3·triangles / wedges`) says
    * whether the pairs form tight cliques (template families, boiler-
    * plate — safe to collapse via [[connectedComponents]]) or sprawling
    * chains (threshold too loose: components will over-merge). Input is
    * a canonical pair frame (`id_a < id_b`, e.g. any near-dup operator's
    * output); returns one row `(n_vertices, n_edges, n_wedges,
    * n_triangles, transitivity)`.
    *
    * Scale shape: the classic DEGREE-ORIENTED enumeration — every edge
    * is directed from its lower-`(degree, id)` endpoint, so each
    * triangle is generated by exactly one wedge at its lowest-degree
    * corner and the per-vertex out-degree is O(√|E|) on any graph
    * (arboricity bound): the wedge self-join cannot explode on hub
    * vertices the way a naive neighbor join does. One join to close
    * wedges against the canonical edge set; counts are map-combined
    * aggregates; nothing ever collects. */
  def triangleStats(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    // fail loudly on non-numeric ids: a silent LongType cast would NULL
    // every edge and report an empty census indistinguishable from a
    // genuinely triangle-free graph
    Seq(idA, idB).foreach { c =>
      require(pairs.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"triangleStats needs numeric pair ids; " +
          s"'$c' is ${pairs.schema(c).dataType.sql}")
    }
    val edges = pairs
      .select(col(idA).cast(LongType).as("a"), col(idB).cast(LongType).as("b"))
      .filter(col("a") < col("b")).distinct()
      // feeds degrees, orientation, and closure — a LAZY persist, not an
      // eager localCheckpoint: merely constructing the census must not
      // run a Spark job, and a persisted edge set stays recomputable
      // under executor loss (a local checkpoint's blocks are
      // unreplicated and lineage-truncated — wrong default for an
      // operator sold as 100 TB-safe). The cache is the caller's to
      // release (session sweep: it registers in persistentRDDs).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("a")).otherwise(col("b")).as("src"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("b")).otherwise(col("a")).as("dst"))
    val closing = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(least(col("x.dst"), col("y.dst")).as("a"),
        greatest(col("x.dst"), col("y.dst")).as("b"))
    val tri = closing.join(edges, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedge = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ecnt = edges.agg(count(lit(1)).as("n_edges"))
    wedge.crossJoin(ecnt).crossJoin(tri)
      .withColumn("transitivity",
        when(col("n_wedges") > 0,
          (lit(3L) * col("n_triangles")).cast(DoubleType) / col("n_wedges")))
      .select("n_vertices", "n_edges", "n_wedges", "n_triangles",
        "transitivity")
  }

  /** 60-bit SimHash per document via the native [[graft.functions.SimHash60]]
    * expression: one codegen'd pass per row inside the scan — no explode, no
    * shuffle, nothing but the row. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      graft.functions.GraftFunctions
        .simhash60(TextAnalysis.tokens(col(textCol))).as("simhash"))
  }

  /** The compositional formulation (explode → 60 partial `sum()`s → pack):
    * same bits as [[simhash]], kept as the no-custom-expression fallback
    * and as the cross-check for the native kernel. Costs one shuffle of
    * every token. */
  def simhashViaAggregation(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", md5_60(col("tok")))
    val votes = (0 until 60).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v_$i")
    }
    val agged = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val packed = (0 until 60).map(i =>
      when(col(s"v_$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    agged.select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-duplicates: pairs within `maxHamming` bits. Candidate
    * generation bands the 60-bit hash into 4×15-bit chunks (pigeonhole: any
    * pair within hamming < 4 shares ≥1 exact chunk — we use it as a
    * standard recall/cost trade at larger `maxHamming`). Verification
    * counts differing bits via `bit_count(xor)`. The 8-byte hash rides the
    * bucket shuffle as pair payload, so the kernel runs exactly once over
    * the corpus and no join-back is needed. */
  def simhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    // explode-first for the same CollapseProject reason as minhash banding
    val chunked = sh
      .select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("chunk_val",
        expr("shiftright(simhash, CAST(chunk * 15 AS INT)) & 32767"))
    val (pairs, rows) = pairsFromBuckets(chunked, idCol,
      Seq("chunk", "chunk_val"), payloadCol = Some("simhash"))
    // the minhash family's contract: seal, then release the bucket rows
    try Lifetime.seal(
      pairs.select(col("id_a"), col("id_b"),
          bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
            .cast(LongType).as("hamming"))
        .filter(col("hamming") <= maxHamming))
    finally rows.unpersist()
  }

  /** Collapse near-duplicate PAIRS into clusters: connected components
    * over the pair graph by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the step that turns pair detection into an actual dedup decision
    * (keep one doc per component). Returns `(id, component)` for every
    * id appearing in `pairs`, where `component` is the minimum id
    * reachable — the canonical survivor's id.
    *
    * Scale shape: each round is two join+aggregate passes over the EDGE
    * set (pairs, already tiny relative to the corpus after LSH), and the
    * star contractions converge in O(log n) rounds — on a chain-shaped
    * component, min-label propagation would need O(diameter) rounds (50
    * synchronized driver rounds on a 50-deep near-dup chain); the star
    * algorithm collapses the same chain in ~log₂ rounds (spec-asserted
    * on a 1000-node path). `localCheckpoint` cuts lineage each round so
    * the plan does not grow with iterations. Convergence is detected by
    * an EXACT edge-set comparison (count + anti-join emptiness), not an
    * id-sum fingerprint — sums over hash-derived 60-bit ids would
    * overflow Long under ANSI mode. Empty input short-circuits to an
    * empty result (no aggregate over zero rows).
    *
    * HYBRID finish: once the (contracted) edge set fits comfortably on
    * the driver (`localEdgeThreshold`, default 2²⁰ edges ≈ 16 MB), the
    * remainder is solved by an in-memory union-find — per-round
    * synchronization overhead dominates tiny graphs, and post-LSH dedup
    * graphs usually START below the threshold. Large graphs still
    * contract distributed: each star round shrinks the edge set toward
    * star forests, so the local cutoff is reached in O(log n) rounds
    * regardless of input size. This is the standard two-phase CC shape
    * (contract distributed, finish local) rather than a driver-side
    * loop over big data. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 64,
      localEdgeThreshold: Long = 1L << 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, localEdgeThreshold)._1

  /** In-memory union-find with path halving — the local finish. */
  private def unionFindLocal(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        // union by MIN root so the component label is the min id
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(n => n -> find(n)).toMap
  }

  /** [[connectedComponents]] plus the number of star rounds executed —
    * exposed so tests can assert the O(log n) convergence bound (pass
    * `localEdgeThreshold = 0` to force the distributed path). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 64,
      localEdgeThreshold: Long = 1L << 20): (DataFrame, Int) = {
    // direct every edge large→small (u > v), drop self-loops
    val a = col("id_a")
    val b = col("id_b")
    // the loop's seed: lazy over the caller's pairs
    var edges = pairs.filter(a =!= b)
      .select(greatest(a, b).cast(LongType).as("u"),
        least(a, b).cast(LongType).as("v"))
      .distinct()

    // large-star: each node u hooks its LARGER neighbors v > u onto
    // m = min(N(u) ∪ {u}) — long chains halve instead of shrinking by one
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: each node u hooks its smaller neighbors (and itself)
    // onto its min neighbor m = min(N(u))
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var rounds = 0
    var converged = false
    var count = edges.count()
    // the fixpoint test reads `edges` after the next round is sealed, so
    // each seal frees the round before `edges`; an edge set small enough
    // for the driver leaves the loop for the local union-find below
    var stale = Seq.empty[DataFrame]
    while (count > localEdgeThreshold && rounds < maxIter && !converged) {
      val updated = Lifetime.seal(smallStar(largeStar(edges)), stale: _*)
      val n = updated.count()
      // exact fixpoint test on the (small) edge set: same cardinality and
      // no edge outside the previous set
      converged = n == count && updated.join(edges, Seq("u", "v"),
        "left_anti").isEmpty
      stale = Seq(edges)
      count = n
      edges = updated
      rounds += 1
    }
    // The label extraction below is only valid on a star forest — a
    // partially-contracted edge set would yield duplicate ids with
    // conflicting components and silently corrupt the dedup decision.
    // maxIter's default (64 ≳ 2·log₂(2⁶³)) makes exhaustion effectively
    // impossible for a converging run; if a caller lowers it, fail loudly
    // rather than return malformed labels.
    val labels =
      if (converged)
        // at the fixpoint the edge set is a star forest: (node, component
        // min) for every non-root node; roots label themselves
        edges.select(col("u").as("id"), col("v").as("component"))
          .union(edges.select(col("v").as("id"), col("v").as("component"))
            .distinct())
      else if (count <= localEdgeThreshold) {
        val spark = edges.sparkSession
        import spark.implicits._
        unionFindLocal(edges.collect().map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.toDF("id", "component")
      } else throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds " +
          s"($count edges remain); raise maxIter")
    // the caller owns ONE sealed result, not the loop's edge sets; with
    // no round run nothing is sealed and the labels are local
    (if (rounds == 0) labels
     else Lifetime.seal(labels, (stale :+ edges): _*), rounds)
  }

  /** Apply the near-dup DECISION to the corpus — the last mile of the
    * dedup story (detect pairs → collapse to components → drop all but
    * the canonical survivor): every doc whose component label differs
    * from its own id is removed; the min-id doc per component and docs
    * in no component survive untouched.
    *
    * Scale shape: one unhinted anti-join against the non-survivor ids.
    * Unlike the query- or K-bounded broadcasts elsewhere in this
    * library, the drop set scales with the corpus duplicate count
    * (dedup's whole premise is that it can be large), so AQE decides at
    * run time: broadcast while the materialized label table is small, a
    * shuffle anti-join for a web-scale corpus with a 30-50% duplicate
    * rate instead of collecting hundreds of millions of ids to the
    * driver. */
  def applyComponentDedup(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 64): DataFrame = {
    val losers = connectedComponents(pairs, maxIter)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[applyComponentDedup]] with PROVENANCE: each kept document carries
    * its duplicate-cluster size and how many near-dups were removed on
    * its behalf — the audit surface a curation pipeline reports
    * (attrition per survivor, cluster-mass distributions) without a
    * second components run. Docs outside every pair are their own
    * cluster of 1. Cost over the plain apply: one extra aggregation of
    * the (small) label table and a join keyed on the id — the corpus is
    * still scanned once. */
  def applyComponentDedupWithStats(df: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    // sealed (or local) by connectedComponents: both branches re-read it
    val labels = connectedComponents(pairs, maxIter)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val kept = labels.filter(col("id") === col("component"))
      .join(sizes, Seq("component"))
      .select(col("id"), col("cluster_size"))
    // rows in the label table but NOT kept are the removed losers; rows
    // absent from it entirely are singletons — keep both kept + singleton
    val losers = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("__lid"))
    val result = df
      .join(losers, df(idCol).cast(LongType) === col("__lid"), "left_anti")
      .join(kept.withColumnRenamed("id", "__kid"),
        df(idCol).cast(LongType) === col("__kid"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("n_removed", col("cluster_size") - 1L)
      .drop("__kid")
    // the label checkpoint must not outlive the operator
    Lifetime.seal(result, labels)
  }

  /** Exact n-gram Jaccard via PREFIX FILTERING — the scale path for HIGH
    * thresholds (PPJoin-style). Shingles get a global rarity order
    * (document frequency asc, shingle asc); a doc's prefix is its
    * `|A| − ceil(t·|A|) + 1` rarest shingles. Any pair with
    * `J(A,B) ≥ t` must share a prefix shingle (pigeonhole on the overlap
    * bound), so candidates come from prefix postings only — at t=0.8
    * that is ~20% of the postings and ~4% of the pair-occurrences of the
    * full postings join. On top of the prefix, PPJoin's LENGTH and
    * POSITION filters prune candidate pairs bucket-locally before the
    * dedup shuffle (both exact-decimal, both sound at the first shared
    * token — see inline notes). Candidates are then verified EXACTLY against
    * the full shingle sets (`array_intersect`), so results are identical
    * to [[ngramJaccardPairs]] (proven by test). Same output columns.
    *
    * Cost shape: one corpus scan for postings + one for verification
    * sets, two aggregation shuffles (document frequency, pair counts),
    * and a candidates-only join of the full sets. */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, threshold: Double,
      maxDocFreq: Long = 10000L,
      minUniverseRatio: Double = 2.0): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // Prefix filtering is lossless under ANY global total order of the
    // shingle universe. Ordering by the shingle's md5_60 (instead of the
    // classic document-frequency order) removes the df-counting pass,
    // its join, and the per-doc ranking window entirely: the prefix is
    // computed PER ROW by sorting the hash array and slicing. Rarity
    // ordering would produce somewhat fewer candidates; exact
    // verification makes both orders return identical results.
    val base = Par.byKey(df, col(idCol)) // few-split corpora: spread the
      // shingling kernel across cores at a PINNED width (AQE-coalesce-
      // exempt — the r14 replacement for the global minPartitionSize
      // floor, see [[Par]])
      .select(col(idCol).cast(LongType).as("id"),
        graft.functions.WordShingleFunctions
          .wordShingles(col(textCol), shingleWords).as("sh_arr"))
      .withColumn("set_size", size(col("sh_arr")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // WIDTH CONTRACT — enforced, not just documented: prefix filtering
    // is only sub-quadratic when the shingle UNIVERSE is much larger
    // than the corpus; on a saturated space (universe ≲ corpus) every
    // prefix bucket is corpus-hot and the lossless candidate set
    // degenerates toward all-pairs (the sf1 rehearsal measured a heap
    // OOM at shingleWords = 3 over a 31-word vocabulary, SCALE.md).
    // The guard runs TWO EAGER JOBS at call time (a row count and a
    // distinct-shingle pass over the persisted base — note for callers
    // migrating from the pre-guard lazy builder) and REFUSES with the
    // fix in the message instead of dying mid-shuffle.
    // `minUniverseRatio <= 0` opts out for corpora known to be safe.
    // The distinct pass is an HLL sketch (rsd 0.02, map-combined) used
    // only as a SCREEN: when the estimate lands within ±10% (5σ) of the
    // ratio boundary, an exact count_distinct adjudicates, so the
    // refusal contract is exact — never estimator-dependent — while the
    // exact shuffle only ever runs for corpora sitting at the boundary.
    // A corpus that trips the guard because it is DUPLICATE-heavy (many
    // exact copies shrink the universe) should compose exact dedup
    // first — the q_dedup_semantic_exact pattern — rather than
    // override: the quadratic blowup inside identical-text groups is
    // real.
    if (minUniverseRatio > 0) {
      val nDocs = base.count()
      val shingles = base.select(explode(col("sh_arr")).as("sh"))
      val bound = minUniverseRatio * nDocs
      val est = shingles
        .agg(approx_count_distinct(col("sh"), 0.02).as("n_shingles"))
        .head().getLong(0)
      val universe =
        if (est >= bound * 1.1 || est <= bound * 0.9) est
        else shingles.agg(count_distinct(col("sh")).as("n_shingles"))
          .head().getLong(0)
      if (universe < bound) {
        base.unpersist(blocking = false)
        throw new IllegalArgumentException(
          "ngramJaccardPairsPrefix: saturated shingle space — ~" +
            s"$universe distinct $shingleWords-word shingles over " +
            s"$nDocs docs (ratio < $minUniverseRatio): prefix buckets " +
            "degenerate toward all-pairs candidates at this width. " +
            "Widen shingleWords so the universe >> corpus, or pass " +
            "minUniverseRatio <= 0 to override.")
      }
    }
    // Threshold as an EXACT decimal (the double's shortest repr): all
    // prefix-length and filter arithmetic below is decimal×long — a
    // double ceil(t·|A|) can round an exact integer product upward and
    // silently shorten the prefix by one, breaking losslessness.
    val tDec = lit(BigDecimal.valueOf(threshold))
    val prefixLen = (col("set_size") -
      ceil(col("set_size").cast(DecimalType(20, 0)) * tDec) + 1)
      .cast(IntegerType)
    // PPJoin-style pruning on top of the lossless prefix: postings carry
    // (set size, position in the doc's sorted hash order), so a candidate
    // pair is dropped bucket-locally when
    //  - lengths are incompatible:  |B| < t·|A|  (or symmetrically), or
    //  - the position bound caps the overlap below the Jaccard minimum:
    //    ubound = min(i,j) + 1 + min(|A|−i−1, |B|−j−1)
    //           = min(i,j) + min(|A|−i, |B|−j)
    //    < t/(1+t)·(|A|+|B|)   (checked as ubound ≥ t·(|A|+|B|−ubound),
    //    exact in decimal).
    // The `min(i,j)` term bounds how many shared tokens can PRECEDE this
    // occurrence, which makes the bound sound at ANY shared occurrence —
    // not just the pair's first (so it composes with the bucket salting
    // below regardless of which occurrence lands in which block-pair).
    val postings = base
      .select(col("id"), col("set_size"),
        posexplode(slice(array_sort(
          graft.functions.MinHashFunctions.md5_60Array(col("sh_arr"))),
          lit(1), prefixLen)).as(Seq("pos", "h")))
    // Over-cap buckets are SALTED, never dropped. A bucket with
    // n > maxDocFreq postings is quadratic however pairs are generated;
    // the pre-r9 behavior (drop the bucket) bounded the task but lost
    // every pair whose ONLY shared prefix token was hot — losslessness
    // silently broke on hot shingles. Instead, split the bucket into
    // S = ceil(n/maxDocFreq) deterministic id-hash sub-blocks and give
    // every block PAIR (lo ≤ hi) its own aggregation group: an entry in
    // block b replicates to the S groups {(min(b,j), max(b,j))}. Any
    // pair (x, y) is generated in exactly one group — (bx, by) sorted —
    // so the exact n²/2 comparisons still happen, but spread over
    // S(S+1)/2 tasks of ≤ ~(2·maxDocFreq)² comparisons each instead of
    // one n² task. Cost: ×S posting replication for hot buckets only —
    // linear rows buying away the quadratic straggler. Cold buckets
    // (the overwhelming mass) take a branch with no joins or explodes;
    // the salted branch is entered only when a hot bucket exists.
    // Deliberately LAZY: `hot` feeds the count and (when non-empty) two
    // join build sides, but Catalyst's ReuseExchange dedups the repeated
    // aggregation subtree within each job — an eager localCheckpoint
    // here measured SLOWER (6.7 s vs 5.0 s on the salted registry query:
    // it serializes the materialization against the join pipelines).
    val hot = postings.groupBy(col("h"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxDocFreq)
    // The in-bucket pair explode is the compute-dense, byte-sparse stage
    // the round-13 global AQE floor was aimed at: a few MB of postings
    // feeding quadratic per-bucket work. Pin its width structurally
    // (repartition by the bucket key; the groupBy then lands on that
    // partitioning exchange-free) so the stage runs ≥ core-count tasks
    // with the global floor REMOVED. collect_list has no map-side
    // reduction, so moving the exchange below the partial aggregate is
    // byte-neutral.
    val entry = Seq("id", "set_size", "pos")
    def coldPairs(rows: DataFrame): DataFrame =
      bucketPairs(Par.byKey(rows, col("h")), Seq("h"), entry)
    val pairStructs = hot.count() match {
      case 0L => coldPairs(postings)
      case nHot =>
        // Cold postings (the overwhelming mass) keep the join-free pair
        // plan behind one anti-join; ONLY the hot minority pays the
        // bucket_n join, the ×S replication, and the block-pair groups.
        val hotJ = if (nHot <= 4096L) broadcast(hot) else hot
        val salted = postings.join(hotJ, Seq("h"))
          .withColumn("s",
            ceil(col("bucket_n").cast(DecimalType(20, 0)) / maxDocFreq)
              .cast(IntegerType))
          .withColumn("blk",
            pmod(xxhash64(col("id")), col("s").cast(LongType))
              .cast(IntegerType))
          .select(col("h"), col("id"), col("set_size"), col("pos"),
            col("blk"), explode(sequence(lit(0), col("s") - 1)).as("j"))
          .withColumn("lo", least(col("blk"), col("j")))
          .withColumn("hi", greatest(col("blk"), col("j")))
          // same pinned width as coldPairs: the block-pair groups are
          // the quadratic stage salting exists to spread — they must
          // not be re-collapsed by byte-driven coalescing
          .transform(Par.byKey(_, col("h"), col("lo"), col("hi")))
          .transform(bucketPairs(_, Seq("h", "lo", "hi"), entry :+ "blk",
            carry = Seq("lo", "hi")))
          // mixed (lo < hi) groups hold both blocks' entries: keep only
          // CROSS pairs — in-block pairs belong to the (b, b) groups
          .filter(col("lo") === col("hi") || col("blk_a") =!= col("blk_b"))
          .select(entry.flatMap(f => Seq(col(s"${f}_a"), col(s"${f}_b"))): _*)
        coldPairs(postings.join(hotJ.select(col("h")), Seq("h"), "left_anti"))
          .unionAll(salted)
    }
    // Sealed: the candidate-id set and the final join each push their own
    // inferred not-null filter below the distinct, so lazy candidates run
    // the pairing stages per consumer (salted query, sf0.1: 9.2 → 17.4 s).
    val ubound = least(col("pos_a"), col("pos_b")) +
      least(col("set_size_a") - col("pos_a"), col("set_size_b") - col("pos_b"))
    val cand = Lifetime.seal(pairStructs
      .filter(col("set_size_b") >= tDec * col("set_size_a") &&
        col("set_size_a") >= tDec * col("set_size_b"))
      .filter(ubound >= tDec * (col("set_size_a") + col("set_size_b") - ubound))
      .select(col("id_a"), col("id_b"))
      .distinct())
    // Exact verification: full shingle sets ONLY for candidate ids
    // (semi-join on the small candidate id set).
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val sets = base.join(broadcast(candIds), Seq("id"), "left_semi")
      .select(col("id"), col("sh_arr"), col("set_size"))
    val result = cand
      .join(sets.select(col("id").as("id_a"), col("sh_arr").as("sa"),
        col("set_size").as("size_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh_arr").as("sb"),
        col("set_size").as("size_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("size_a") + col("size_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
    // Seal the verified pairs, free the candidate checkpoint (it only fed
    // this operator), release the cached shingle sets.
    try Lifetime.seal(result, cand) finally base.unpersist()
  }

  /** Winnowing (MOSS) near-duplicate pairs — the SUBSTRING-level dedup
    * decision: documents sharing ≥ `minShared` winnowed fingerprints
    * ([[TextAnalysis.winnowedFingerprints]] — each fingerprint witnesses
    * a shared character k-gram chosen by the same rolling-window rule on
    * both sides) become candidate near-dup pairs, with a fingerprint-set
    * Jaccard for downstream thresholds. Unlike the word-shingle families
    * this catches documents that EMBED each other (quotes, mirrors with
    * boilerplate, concatenations): any sufficiently long shared substring
    * guarantees a shared fingerprint. Output feeds
    * [[connectedComponents]] → [[applyComponentDedup]] exactly like the
    * MinHash pair generator.
    *
    * Scale shape = [[ngramJaccardPairs]]' postings join: fingerprints are
    * the shuffle key, per-doc fingerprint counts ride the postings next
    * to the id (no sizes join-back), in-bucket pairs explode via the
    * native kernel (no aliased self-join), and `maxDocFreq` drops
    * ubiquitous fingerprints (boilerplate) BEFORE bucket materialization
    * to bound fan-out — standard frequency pruning, at the cost of
    * undercounting `n_common` for pairs sharing hot fingerprints (sizes
    * stay full-set, so pruning can only LOWER a pair's Jaccard, never
    * promote a false positive past `threshold`). Gram width `k` and
    * window `w` set the guarantee: any shared substring of ≥ k+w−1
    * characters shares a fingerprint; defaults (24, 8) witness 31-char
    * overlaps — long enough that fingerprints are discriminative rather
    * than ubiquitous (char-8 grams of boilerplate-heavy corpora put most
    * documents in a handful of buckets and the pair count goes
    * quadratic, the r4 bench pathology). */
  def winnowNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 8, minShared: Long = 2L, threshold: Double = 0.5,
      maxDocFreq: Long = 10000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // ONE kernel pass: per-doc fingerprint set as a row-local array
    // (winnow_grams ∘ window_min_distinct — no explode+window shuffle),
    // |A| read off the array, and the 8-byte set size rides the postings
    // shuffle next to the id, exactly like ngramJaccardPairs. The array
    // is carried THROUGH the Generate so the kernel chain is evaluated
    // once, not re-inlined into size() by CollapseProject.
    val postings = TextAnalysis
      .winnowedFingerprintSets(
        Par.byKey(df, col(idCol)), // few-split corpora: spread the
        // fingerprint kernel at a pinned, AQE-coalesce-exempt width
        idCol, textCol, k, w)
      .select(col(idCol).cast(LongType).as("id"), col("fps"))
      .select(col("id"), col("fps"), explode(col("fps")).as("fp"))
      .select(col("id"), size(col("fps")).cast(LongType).as("set_size"),
        col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Hot-fingerprint pre-filter BEFORE bucket materialization
      // ([[dropHotBuckets]]): a boilerplate fingerprint present in
      // millions of documents must never reach collect_list.
      Lifetime.seal(bucketPairs(
          dropHotBuckets(postings, Seq("fp"), maxDocFreq),
          Seq("fp"), Seq("id", "set_size"))
        .groupBy(col("id_a"), col("id_b"),
          col("set_size_a").as("size_a"), col("set_size_b").as("size_b"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= minShared)
        .withColumn("jaccard_fp",
          col("n_common").cast(DoubleType) /
            (col("size_a") + col("size_b") - col("n_common")).cast(DoubleType))
        .filter(col("jaccard_fp") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard_fp"))
    } finally postings.unpersist()
  }

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`.
    * Inverted-index join: explode distinct shingles, equi-join on shingle to
    * count intersections (|A∩B|), then `|A∪B| = |A|+|B|−|A∩B|`.
    *
    * At scale this is the textbook "similarity join via postings" — the
    * shuffle key is the shingle, so ubiquitous shingles are the skew risk;
    * `maxDocFreq` drops shingles appearing in more than that many docs
    * (standard prefix/frequency pruning) to bound the join fan-out.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, threshold: Double,
      maxDocFreq: Long = 10000L): DataFrame = {
    val (pairs, sh) = ngramPairCounts(df, idCol, textCol, shingleWords,
      maxDocFreq)
    try Lifetime.seal(pairs
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("size_a") + col("size_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard"))
    finally sh.unpersist()
  }

  /** Shared postings→pair-intersection chain for the exact n-gram pair
    * family ([[ngramJaccardPairs]], [[ngramContainmentPairs]]): one
    * kernel pass shingles each doc, |A| rides the postings shuffle next
    * to the id (no sizes join-back), per-shingle buckets explode to
    * in-bucket pairs whose repeat count is |A∩B|. Returns the LAZY
    * `(id_a, id_b, size_a, size_b, n_common)` frame (id_a < id_b)
    * plus the persisted postings the caller must unpersist after
    * consuming eagerly. Frequency pruning ([[dropHotBuckets]]) kills
    * ubiquitous shingles map-side, so no aggregation buffer ever holds
    * an over-full postings list. */
  private def ngramPairCounts(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, maxDocFreq: Long): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // r14: spread the shingling kernel + explode at a pinned width (the
    // corpus parquet is one split at bench scale — one-task otherwise).
    // ONLY the kernel/persist stage is pinned: the downstream postings
    // group-bys keep AQE's byte-driven widths, which is the memory
    // governor that keeps the 32-way dedup aggregates safe (r13 DNF).
    val sh = Par.byKey(df.select(col(idCol).cast(LongType).as("id"),
          col(textCol).as("__txt")), col("id"))
      .select(col("id"),
        graft.functions.WordShingleFunctions
          .wordShingles(col("__txt"), shingleWords).as("sh_arr"))
      .select(col("id"), size(col("sh_arr")).cast(LongType).as("set_size"),
        explode(col("sh_arr")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = bucketPairs(dropHotBuckets(sh, Seq("shingle"), maxDocFreq),
        Seq("shingle"), Seq("id", "set_size"))
      .groupBy(col("id_a"), col("id_b"),
        col("set_size_a").as("size_a"), col("set_size_b").as("size_b"))
      .agg(count(lit(1)).as("n_common"))
    (pairs, sh)
  }

  /** SUB-DOCUMENT CONTAINMENT dedup — the within-corpus asymmetric
    * member of the exact n-gram family: Jaccard misses a short doc
    * fully quoted inside a long one (the union term swamps it), but
    * `containment = |A∩B| / min(|A|, |B|)` flags exactly that shape —
    * boilerplate pages, quoted excerpts, truncated re-crawls. Same
    * score as [[crossCorpusContamination]]'s, applied to ONE corpus's
    * self-pairs instead of train-vs-eval.
    *
    * Returns `(contained_id, container_id, n_common, containment)` for
    * pairs at or above `threshold`, where the contained side is the doc
    * with the strictly smaller shingle set (ties — including exact
    * duplicates at containment 1.0 — keep the LOWER id as container,
    * matching the survivor-is-min-id convention of the dedup family).
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — one postings
    * shuffle keyed on the shingle, hot-shingle pruning bounds bucket
    * fan-out, pair counts map-combine; the containment projection adds
    * zero shuffles. */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, threshold: Double = 0.9,
      maxDocFreq: Long = 10000L): DataFrame = {
    val (pairs, sh) = ngramPairCounts(df, idCol, textCol, shingleWords,
      maxDocFreq)
    val aIsSmall = col("size_a") < col("size_b")
    try Lifetime.seal(pairs
        .withColumn("containment",
          col("n_common").cast(DoubleType) /
            least(col("size_a"), col("size_b")).cast(DoubleType))
        .filter(col("containment") >= threshold)
        .select(
          when(aIsSmall, col("id_a")).otherwise(col("id_b"))
            .as("contained_id"),
          when(aIsSmall, col("id_b")).otherwise(col("id_a"))
            .as("container_id"),
          col("n_common"), col("containment")))
    finally sh.unpersist()
  }

  /** Cross-corpus contamination — the DECONTAMINATION primitive: which
    * training documents share word shingles with an evaluation corpus.
    * Returns `(train_id, probe_id, n_common, containment)` for pairs
    * sharing ≥ `minShared` distinct `shingleWords`-grams, where
    * `containment = n_common / |probe shingle set|` is the fraction of
    * the eval document covered (the standard contamination score —
    * asymmetric by design, unlike Jaccard: a benchmark question fully
    * quoted inside a long training page IS contamination even though
    * Jaccard is tiny). The published recipes are this operator at
    * n-gram 8 (GPT-3-style) or 13 with `minShared = 1`; the default
    * follows them.
    *
    * Scale shape — built around the corpus asymmetry (training corpora
    * are ~10⁶× larger than benchmarks): the shingle join carries no
    * hint, and AQE broadcasts the small probe postings while they fit,
    * so the TRAIN corpus is one map-side pass — shingle, explode,
    * hash-probe — and the only shuffle carries the partially aggregated
    * `(train_id, probe_id)` pair counts, never train postings; a probe
    * corpus too large to broadcast shuffle-joins. Both shingle arrays
    * are distinct per document, so the join emits exactly one row per
    * shared shingle and the pair count IS `|A ∩ B|` — no verification
    * pass. Ubiquitous-shingle fan-out is
    * map-side compute only (never shuffled); long default shingles keep
    * it negligible, exactly why decontamination uses 8/13-grams.
    *
    * `normalize = true` canonicalizes BOTH sides with
    * [[TextAnalysis.normalize]] (control chars → space, collapse
    * whitespace, trim, lowercase) before shingling — the published
    * recipes match on normalized text so case/spacing variants of a
    * benchmark question still count as contamination. Per-row column
    * work inside each side's scan; the scale shape is unchanged. */
  def crossCorpusContamination(
      train: DataFrame, trainId: String, trainText: String,
      probe: DataFrame, probeId: String, probeText: String,
      shingleWords: Int = 8, minShared: Long = 1L,
      normalize: Boolean = false): DataFrame = {
    // Register on BOTH sessions: under foreachBatch the micro-batch is a
    // CLONED session while the static probe side keeps the outer one,
    // and the probe postings resolve their kernels there.
    graft.functions.GraftFunctions.register(train.sparkSession)
    graft.functions.GraftFunctions.register(probe.sparkSession)
    def text(c: String): Column =
      if (normalize) TextAnalysis.normalize(col(c)) else col(c)
    val probePost = probe
      .select(col(probeId).cast(LongType).as("probe_id"),
        graft.functions.WordShingleFunctions
          .wordShingles(text(probeText), shingleWords).as("sh_arr"))
      .select(col("probe_id"),
        size(col("sh_arr")).cast(LongType).as("probe_size"),
        explode(col("sh_arr")).as("shingle"))
    train
      .select(col(trainId).cast(LongType).as("train_id"),
        explode(graft.functions.WordShingleFunctions
          .wordShingles(text(trainText), shingleWords)).as("shingle"))
      .join(probePost, Seq("shingle"))
      .groupBy(col("train_id"), col("probe_id"), col("probe_size"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minShared)
      .withColumn("containment",
        col("n_common").cast(DoubleType) / col("probe_size").cast(DoubleType))
      .select("train_id", "probe_id", "n_common", "containment")
  }

  /** MEMORIZATION-RISK CENSUS — what share of the corpus's n-gram
    * inventory (and mass) repeats across documents? Long repeated
    * n-grams are exactly what a model regurgitates verbatim; this is
    * the corpus-level scalar behind the pairwise dedup family: the
    * distinct-shingle type count, how many types appear in ≥ 2 docs,
    * the occurrence mass sitting in those repeated types (floor ppb
    * shares of both), and the most-repeated shingle's doc frequency.
    * Shingles are per-doc-distinct (the [[ngramJaccardPairs]]
    * contract), so "occurrence" = document frequency.
    *
    * All-integer, one (shingle → df) map-combined rollup + a scalar
    * fold — the cheapest possible pass over the shingle stream; no
    * pair generation anywhere. */
  def memorizationRisk(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = df.select(col(idCol).as("id"),
      explode(graft.functions.WordShingleFunctions
        .wordShingles(col(textCol), shingleWords)).as("shingle"))
    sh.groupBy(col("shingle")).agg(count(lit(1)).as("df_docs"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df_docs") >= 2L, 1)).as("n_dup_shingles"),
        sum(col("df_docs")).as("occ_total"),
        sum(when(col("df_docs") >= 2L, col("df_docs"))
          .otherwise(0L)).as("occ_in_dup"),
        max(col("df_docs")).as("max_df"))
      .withColumn("dup_type_share_ppb",
        expr("(n_dup_shingles * 1000000000L) div n_shingles"))
      .withColumn("dup_mass_share_ppb",
        expr("(occ_in_dup * 1000000000L) div occ_total"))
  }

  /** BLOCKED ENTITY RESOLUTION — the record-linkage primitive for
    * structured rows (names, addresses, product titles) where the
    * text-dedup family's shingles are too coarse: candidate pairs are
    * generated ONLY within a blocking key (the classic blocking
    * strategy), then kept when the names' Levenshtein edit distance is
    * ≤ `maxDistance`. Output: one row per matched pair
    * (`id_a < id_b`, both names, the exact distance), ordered by
    * (distance, id_a, id_b).
    *
    * Exactness: `levenshtein` is an integer both engines define
    * identically; no floats anywhere.
    *
    * Scale shape: in-block pairing is quadratic per block, so blocks
    * above `maxBlock` rows are dropped structurally BEFORE the pair
    * expansion ([[dropHotBuckets]] — the dedup family's hot-key move; an
    * over-broad block is a blocking-key design smell, not a workload).
    * Work is then bounded by |blocks|·maxBlock². Pairs come from
    * [[bucketPairs]], not a self-join: a self-join plans the hot-key
    * aggregate and the row scan once per side (exchange reuse does not
    * rescue aliased branches), while one shuffle on the block key, pinned
    * to the session width, feeds the in-block explode directly. */
  def blockedEntityPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDistance: Int = 2,
      maxBlock: Long = 1024L): DataFrame = {
    // cached across dropHotBuckets' size pass and the pair explode (the
    // pairsFromBuckets pattern); released after the seal
    val rows = df.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        col(nameCol).as("name")): _*)
      .filter(col("name").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kept = dropHotBuckets(rows, blockCols, maxBlock)
      // Two sound pre-prunes before the full DP: the THRESHOLDED
      // levenshtein runs the banded O(min(m,n)·d) DP (returns -1 past
      // the threshold — measured 1.7× the full-table form on the
      // customer workload), and |len(a)−len(b)| ≤ d — a lower bound on
      // edit distance — short-circuits even that as the `when` guard of
      // the SAME projection (as a separate `.filter` it measured 3×
      // slower, pushed into a self-join's condition). Both prunes are
      // exact — the DuckDB oracle still brute-forces the full distance.
      Lifetime.seal(bucketPairs(Par.byKey(kept, blockCols.map(col): _*),
          blockCols, Seq("id", "name"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("distance",
          when(abs(length(col("name_a")) - length(col("name_b")))
              <= maxDistance,
            levenshtein(col("name_a"), col("name_b"), maxDistance))
            .otherwise(lit(-1))
            .cast(LongType))
        .filter(col("distance") >= 0)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("distance"))
        .orderBy(col("distance"), col("id_a"), col("id_b")))
    } finally rows.unpersist()
  }
}
