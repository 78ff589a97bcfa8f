package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`): brute-force
  * top-k as the exact baseline, and an LSH-bucketed (random-hyperplane)
  * variant as the scale path. Plus embedding-cosine near-duplicate pairs.
  *
  * Scale design (100 TB):
  *  - The query set is small → it is `broadcast()` and the corpus is
  *    scanned exactly once; per-query top-k is a `row_number` window
  *    partitioned by query id (one shuffle keyed on query id, k rows kept).
  *  - The LSH variant buckets both sides on sign-bit signatures, turning
  *    the cross product into an equi-join on `(table, bucket)` — candidates
  *    only. Hyperplane sign matrices are derived *driver-side* from a
  *    splitmix64 stream and embedded as literal arrays: signature cost per
  *    row is a plain multiply-add fold, no per-row hashing, no model state
  *    to ship — any executor anywhere reproduces the same buckets.
  *  - Exact scores use `zip_with` + fixed-scale decimal aggregation: exact
  *    and order-independent, so scores (and therefore top-k membership)
  *    are bit-deterministic across engines and partitionings. Norms are
  *    computed once per side, never inside the pair loop.
  */
object Similarity {

  /** All similarity operators run on the native codegen'd kernels in
    * [[graft.functions.VectorOpsImpl]] (higher-order functions interpret
    * per element — ~10× slower on 64-dim arrays). The compositional
    * column formulations below are kept as the no-custom-expression
    * reference; tests prove the kernels bit-identical to them. */
  private def registered(df: DataFrame): Unit =
    graft.functions.GraftFunctions.register(df.sparkSession)

  import graft.functions.{VectorFunctions => V}

  /** Exact dot product over scale-6 quantized inputs: each element is
    * `CAST(x AS DECIMAL(18,6))` (one decimal conversion per element), the
    * elementwise products are exact at scale 12, and the sum folds as
    * DECIMAL(30,12) — exact, order-independent, engine-identical, and
    * surfaced as double. Quantizing the INPUTS (not the products) is what
    * lets the native kernel ([[graft.functions.VectorOpsImpl.dotQ12]])
    * precompute the conversion once per row and keep the per-pair work in
    * pure long arithmetic. (Fold precisions sized so the add result stays
    * ≤31: Spark silently rounds scale 12→11 past precision 38.)
    * Reference formulation — the hot paths call the bit-identical native
    * `quantize6`/`dot_q12`. */
  def dotExact(a: Column, b: Column): Column = {
    val terms = zip_with(a, b,
      (x, y) => (x.cast(DecimalType(18, 6)) * y.cast(DecimalType(18, 6)))
        .cast(DecimalType(25, 12)))
    aggregate(terms, lit(BigDecimal(0)).cast(DecimalType(30, 12)),
      (acc, v) => (acc + v).cast(DecimalType(30, 12))).cast(DoubleType)
  }

  /** Exact L2 norm via the same quantized-decimal path. */
  def normExact(a: Column): Column =
    sqrt(aggregate(
      transform(a, x => (x.cast(DecimalType(18, 6)) * x.cast(DecimalType(18, 6)))
        .cast(DecimalType(25, 12))),
      lit(BigDecimal(0)).cast(DecimalType(30, 12)),
      (acc, v) => (acc + v).cast(DecimalType(30, 12))).cast(DoubleType))

  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / (normExact(a) * normExact(b))

  /** Brute-force top-k by inner product (or cosine): for each query vector,
    * the k nearest corpus vectors. Queries are broadcast; norms are
    * precomputed per side (not per pair); ties broken by corpus id — fully
    * deterministic. Returns (query_id, corpus_id, score, rank).
    */
  /** MUTUAL top-k pairs — `(u, v)` where each sits in the OTHER's
    * top-k: the rank-symmetric agreement criterion that cuts hubness
    * false-positives a one-directional kNN list carries (a hub lands
    * in everyone's top-k without reciprocating), the standard
    * candidate filter for near-dup mining and cross-encoder pair
    * selection. Emits both ranks and the (symmetric) cosine.
    *
    * Exactness and scale ride [[bruteForceTopK]] unchanged (quantized
    * long dot products, deterministic rank ties); the mutual step is
    * one self-join of the two k·n-row top-k lists on the swapped key
    * pair. Brute-force baseline semantics — swap in the IVF/LSH top-k
    * upstream for the 100 TB path, the mutual join is index-agnostic. */
  def mutualTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5): DataFrame =
    // lazy on purpose: AQE reuses the ranked exchange across both
    // sides of the mutual join (probed — an eager localCheckpoint
    // bought nothing at sf0.1), so the brute-force pass runs once
    mutualPairsFrom(bruteForceTopK(df, idCol, vecCol, df, idCol, vecCol,
      k, cosine = true, excludeSelf = true))

  /** The index-agnostic half of [[mutualTopK]]: one self-join of a
    * `(query_id, corpus_id, score, rank)` kNN list on the swapped key
    * pair — feed it any top-k frame (brute, IVF, LSH) and get the
    * reciprocal pairs with both ranks. */
  def mutualPairsFrom(topk: DataFrame): DataFrame = {
    val a = topk.select(col("query_id").as("u"),
      col("corpus_id").as("v"), col("rank").as("rank_uv"),
      col("score").as("score"))
    val b = topk.select(col("query_id").as("v"),
      col("corpus_id").as("u"), col("rank").as("rank_vu"))
    a.join(b, Seq("u", "v")).filter(col("u") < col("v"))
      .select(col("u"), col("v"), col("rank_uv"), col("rank_vu"),
        col("score"))
  }

  /** [[mutualTopK]] riding the IVF index instead of the all-pairs
    * cartesian — the 100 TB registered form: kNN lists come from
    * [[ivfSelfTopK]] (every vector scores only its `nprobe` nearest
    * cells' members), the mutual join is [[mutualPairsFrom]] unchanged.
    * Same cosine scoring, rank ties, and output shape as the brute
    * form; pairs whose true neighbors fall outside the probed cells are
    * the standard IVF recall trade (audited in the registry's recall
    * queries). */
  def mutualTopKIvf(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, numCentroids: Int = 16, refineRounds: Int = 1,
      nprobe: Int = 2): DataFrame =
    mutualPairsFrom(ivfSelfTopK(df, idCol, vecCol, k,
      numCentroids, refineRounds, nprobe))

  /** [[mutualTopKIvf]] over an already-built (persisted) index — the
    * streaming-maintained index's reciprocal-pair audit; see
    * [[ivfSelfTopKFromIndex]]. */
  def mutualTopKFromIndex(idx: IvfIndex, k: Int = 5,
      nprobe: Int = 2): DataFrame =
    mutualPairsFrom(ivfSelfTopKFromIndex(idx, k, nprobe))

  /** HUBNESS CENSUS — the kNN-graph in-degree table: how many other
    * points list each vector in THEIR top-k? High-dimensional spaces
    * grow hubs (points in everyone's neighbor list) and antihubs
    * (in-degree 0, invisible to kNN retrieval); a skewed in-degree
    * table quantifies exactly the distortion [[mutualTopK]]'s
    * reciprocity filter removes. Output: the `topHubs` highest
    * in-degree points (ties by id), zero-in-degree points included in
    * the ranking universe.
    *
    * Exactness and scale ride [[bruteForceTopK]]; the census is one
    * map-combined in-degree rollup over the k·n list, a left join
    * back to the id frame (antihubs surface as 0), and a TakeOrdered
    * top-k — index-agnostic like the mutual join. */
  def hubnessCensus(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, topHubs: Int = 20): DataFrame =
    hubnessFrom(df.select(col(idCol).as("vid")),
      bruteForceTopK(df, idCol, vecCol, df, idCol, vecCol,
        k, cosine = true, excludeSelf = true), topHubs)

  /** The index-agnostic half of [[hubnessCensus]]: a map-combined
    * in-degree rollup over any `(query_id, corpus_id, …)` kNN list,
    * left-joined back onto the `(vid)` id universe so antihubs surface
    * as 0, top-`topHubs` by in-degree (ties by id). */
  def hubnessFrom(ids: DataFrame, topk: DataFrame,
      topHubs: Int): DataFrame = {
    val indeg = topk.groupBy(col("corpus_id").as("vid"))
      .agg(count(lit(1)).as("in_degree"))
    ids.join(indeg, Seq("vid"), "left")
      .withColumn("in_degree", coalesce(col("in_degree"), lit(0L)))
      .orderBy(col("in_degree").desc, col("vid"))
      .limit(topHubs)
  }

  /** [[hubnessCensus]] over the IVF kNN-graph — the 100 TB registered
    * form: in-degrees are censused over [[ivfSelfTopK]]'s lists instead
    * of the brute cartesian's. An IVF census measures the hubness of
    * the graph the INDEX actually serves, which is the one retrieval
    * sees — hubs that only exist across unprobed cell boundaries never
    * distort IVF-served retrieval in the first place. */
  def hubnessCensusIvf(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, topHubs: Int = 20, numCentroids: Int = 16,
      refineRounds: Int = 1, nprobe: Int = 2): DataFrame =
    hubnessFrom(df.select(col(idCol).as("vid")),
      ivfSelfTopK(df, idCol, vecCol, k, numCentroids, refineRounds,
        nprobe), topHubs)

  /** [[hubnessCensusIvf]] over an already-built (persisted) index: the
    * id universe and the kNN lists both come from the index's cell
    * table, so the census never touches the source corpus — the form
    * [[graft.streaming.IndexMaintenance.maintainIvfWithHubness]]
    * recomputes per micro-batch as vectors stream in. */
  def hubnessCensusFromIndex(idx: IvfIndex, k: Int = 5,
      topHubs: Int = 20, nprobe: Int = 2): DataFrame =
    hubnessFrom(idx.cells.select(col("corpus_id").as("vid")),
      ivfSelfTopKFromIndex(idx, k, nprobe), topHubs)

  /** Deterministic FIXED-BUDGET anchor sample: the `budget` rows whose
    * id hashes smallest under the Knuth multiplicative mix
    * `((id mod 2³¹−1) · 2654435761) mod 2³²` (ties by id). The pick is
    * a pure function of the id column — engine-reproducible by any SQL
    * oracle, stable across partitionings, and O(n) with a size-`budget`
    * heap (`TakeOrderedAndProject`), never a global sort. All operands
    * stay under 2⁶³ for any BIGINT id (ANSI-safe), and `pmod` keeps
    * negative ids lawful.
    *
    * This is the standard anchor bound for exact kNN-graph ground
    * truths at scale: score a FIXED number of anchor queries against
    * the FULL corpus — O(budget·n) with an exact answer per anchor —
    * instead of the O(n²) all-pairs cartesian that dies at 100×. */
  def anchorSample(df: DataFrame, idCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"anchorSample: budget must be positive ($budget)")
    // The mix hashes the id CAST TO LONG — a non-numeric id type would
    // cast to NULL per row and (under a plain ascending sort) silently
    // seat null-hash rows in anchor slots. Refuse non-numeric id types
    // loudly, and sort NULLS LAST so rows with a genuinely-null id can
    // never outrank a hashed one.
    require(df.schema(idCol).dataType.isInstanceOf[NumericType],
      s"anchorSample: id column '$idCol' must be numeric (found " +
        s"${df.schema(idCol).dataType.simpleString}) — the anchor pick " +
        "hashes the id as a BIGINT")
    df.withColumn("anchor_h",
        pmod(pmod(col(idCol).cast(LongType), lit(2147483647L)) *
          lit(2654435761L), lit(4294967296L)))
      .orderBy(col("anchor_h").asc_nulls_last, col(idCol).asc_nulls_last)
      .limit(budget)
      .drop("anchor_h")
  }

  /** [[mutualTopK]] under a FIXED ANCHOR BUDGET — the exact-arm form
    * whose plan survives 100×: each [[anchorSample]] anchor's top-k is
    * scored exactly against the FULL corpus (bounded broadcast of
    * `budget` queries, one corpus scan), then the reciprocity check
    * needs the anchors' neighbors' own exact lists — at most
    * `budget·k` further bounded queries, a second O(budget·k·n) pass.
    * Emitted pairs are EXACTLY the brute [[mutualTopK]] pairs with at
    * least one anchored endpoint: per-pair semantics are untouched
    * (both ranks come from full-corpus lists); the anchor set only
    * bounds WHICH pairs are audited — the standard sampled ground
    * truth that keeps recall audits exact at any corpus size. */
  def mutualTopKAnchored(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, anchorBudget: Int = 256): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    // tiny (budget rows / budget·k rows); both feed two consumers of
    // the one returned plan, which reuses their exchanges (the
    // [[mutualTopK]] shape)
    val anchors = anchorSample(base, idCol, anchorBudget)
    val tkA = bruteForceTopK(anchors, idCol, vecCol, df, idCol, vecCol,
      k, cosine = true, excludeSelf = true)
    val nbrIds = tkA.select(col("corpus_id").as(idCol)).distinct()
      .join(anchors.select(col(idCol)), Seq(idCol), "left_anti")
    val nbrs = base.join(nbrIds, Seq(idCol), "left_semi")
    val tkN = bruteForceTopK(nbrs, idCol, vecCol, df, idCol, vecCol,
      k, cosine = true, excludeSelf = true)
    // anchor lists ∪ neighbor lists (disjoint query sets by the
    // anti-join) = an exact full-corpus top-k list for every id that
    // can appear in an anchored mutual pair
    val lists = tkA.unionByName(tkN)
    val a = tkA.select(col("query_id").as("u"),
      col("corpus_id").as("v"), col("rank").as("rank_uv"),
      col("score").as("score"))
    val b = lists.select(col("query_id").as("v"),
      col("corpus_id").as("u"), col("rank").as("rank_vu"))
    val m = a.join(b, Seq("u", "v"))
    // canonicalize to u < v; a both-anchored pair arrives once from
    // each direction with identical columns (the quantized cosine is
    // exactly symmetric) — dropDuplicates keeps one
    m.select(
        least(col("u"), col("v")).as("cu"),
        greatest(col("u"), col("v")).as("cv"),
        when(col("u") < col("v"), col("rank_uv"))
          .otherwise(col("rank_vu")).as("rank_uv"),
        when(col("u") < col("v"), col("rank_vu"))
          .otherwise(col("rank_uv")).as("rank_vu"),
        col("score"))
      .withColumnsRenamed(Map("cu" -> "u", "cv" -> "v"))
      .dropDuplicates("u", "v")
  }

  /** [[hubnessCensus]] under a FIXED ANCHOR BUDGET: the in-degree
    * table of the SAMPLED kNN graph — each anchor's exact full-corpus
    * top-k contributes k in-degree votes, so `in_degree` is the exact
    * count of ANCHORS listing each vector (the standard fixed-probe
    * estimator of hub mass; the full census is `n/budget`-scaled in
    * expectation). The id universe stays the whole corpus, so antihubs
    * surface as 0 exactly as in the brute form; plan cost is one
    * bounded broadcast, one corpus scan, one rollup — O(budget·n). */
  def hubnessCensusAnchored(df: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, topHubs: Int = 20,
      anchorBudget: Int = 256): DataFrame = {
    val anchors = anchorSample(df.select(col(idCol), col(vecCol)),
      idCol, anchorBudget)
    hubnessFrom(df.select(col(idCol).as("vid")),
      bruteForceTopK(anchors, idCol, vecCol, df, idCol, vecCol,
        k, cosine = true, excludeSelf = true), topHubs)
  }

  /** SELF-kNN THROUGH THE IVF INDEX — the whole-corpus kNN-graph
    * builder that replaces the brute n² cartesian: build the refined
    * IVF index once, rank the broadcast centroid table per corpus
    * vector (reusing the quantized vectors the cell table already
    * carries — no second quantization pass), keep the `nprobe` nearest
    * cells, and score each vector exactly against ONLY those cells'
    * members. Own-row matches are excluded before ranking (a vector's
    * own cell is its rank-1 probe by construction, so self would
    * otherwise pin rank 1 everywhere).
    *
    * Scale shape — the deliberate difference from [[probeIvf]]: the
    * probe side here is CORPUS-sized, so it is NOT broadcast; the
    * probes⋈cells join shuffles both sides on `cent_id` (at production
    * scale K grows ~√n, so the key space is wide; with per-cell sizes
    * audited by the registry's balance query, no key carries more than
    * a cell's membership). Per-pair work is n·nprobe·(n/K) exact
    * quantized dots instead of n² — the candidate bound every IVF probe
    * enjoys. Cosine scoring carries each side's norm WITH the frame
    * (never joined onto the pair stream); ranks tie-break by corpus id.
    * Deterministic end-to-end → full DuckDB oracle (the q_sim_ivf cell
    * chain plus an all-vids probe). */
  def ivfSelfTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, numCentroids: Int = 16, refineRounds: Int = 1,
      nprobe: Int = 2, cosine: Boolean = true): DataFrame = {
    registered(df)
    ivfSelfTopKFromIndex(
      buildIvfIndex(df, idCol, vecCol, numCentroids, refineRounds),
      k, nprobe, cosine)
  }

  /** [[ivfSelfTopK]] over an ALREADY-BUILT index (lazy or persisted via
    * [[readIvfIndex]]) — the probe side is the index's own cell table,
    * so a [[writeIvfIndex]]/[[appendToIvfIndex]] index serves its
    * whole-corpus kNN-graph without rescanning the source corpus. Same
    * plan shape as the one-shot form: centroid table broadcast for
    * probe ranking, probes⋈cells shuffled on `cent_id` (both sides are
    * corpus-sized), exact quantized scoring, id tie-breaks. */
  def ivfSelfTopKFromIndex(idx: IvfIndex, k: Int, nprobe: Int = 2,
      cosine: Boolean = true): DataFrame = {
    registered(idx.cells)
    val probes = idx.cells
      .select(col("corpus_id").as("query_id"), col("cq").as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qq"), col("cent_id"))
    val (qSide, cSide, score) =
      if (cosine) (
        probes.withColumn("qnorm", V.normQ12(col("qq"))),
        idx.cells.withColumn("cnorm", V.normQ12(col("cq"))),
        V.dotQ12(col("qq"), col("cq")) / (col("qnorm") * col("cnorm")))
      else (probes, idx.cells, V.dotQ12(col("qq"), col("cq")))
    val scored = cSide.join(qSide, Seq("cent_id"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("score", score)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  def bruteForceTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, cosine: Boolean = false,
      excludeSelf: Boolean = false): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    // Quantize each side ONCE (the only decimal conversion), so the
    // per-pair score inside the cross join is pure long arithmetic.
    val q0 = queries.select(col(queryId).as("query_id"),
      V.quantize6(col(queryVec)).as("qv"))
    // r14: spread the corpus side at a pinned width BEFORE quantizing —
    // the scoring stage (|queries|·n quantized dots) runs at the
    // corpus's scan parallelism otherwise, and the corpus parquet is a
    // single split at bench scale (guide §2.6). One small exchange of
    // (id, vec) buys core-count parallelism for quantize + scoring.
    val c0 = Par.byKey(corpus.select(col(corpusId).as("corpus_id"),
        col(corpusVec).as("__cv0")), col("corpus_id"))
      .select(col("corpus_id"), V.quantize6(col("__cv0")).as("cv"))
    val (q, c, score) =
      if (cosine) {
        val qn = q0.withColumn("qnorm", V.normQ12(col("qv")))
        val cn = c0.withColumn("cnorm", V.normQ12(col("cv")))
        (qn, cn, V.dotQ12(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      } else (q0, c0, V.dotQ12(col("qv"), col("cv")))
    val scored0 = c.crossJoin(broadcast(q)).withColumn("score", score)
    // leave-one-out mode (kNN eval): the query's own corpus row never
    // competes — filtered BEFORE ranking so all k slots stay real
    val scored =
      if (excludeSelf) scored0.filter(col("corpus_id") =!= col("query_id"))
      else scored0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** Deterministic ±1 for hyperplane component (table, plane, dim) — a
    * splitmix64 bit, shared with the native kernel so both formulations
    * see the same planes. */
  private def planeSign(table: Int, plane: Int, dim: Int): Double =
    graft.functions.VectorOpsImpl.planeSign(table, plane, dim)

  /** `planes`-bit random-hyperplane signature for one LSH table over a
    * QUANTIZED vector ([[graft.functions.VectorFunctions.quantize6]]
    * output): the sign fold is pure long arithmetic — order-independent
    * and engine-identical, so LSH buckets are reproducible by the DuckDB
    * oracle. Reference formulation — hot paths use the native
    * `rhp_signatures`, which computes every table's signature in one
    * pass. */
  def rhpSignature(qvec: Column, planes: Int, table: Int, dims: Int): Column = {
    val bits = (0 until planes).map { p =>
      val signs = typedlit((0 until dims).map(i =>
        graft.functions.VectorOpsImpl.planeSignLong(table, p, i)))
      val acc = aggregate(
        zip_with(qvec, signs, (x, s) => x * s),
        lit(0L), (a, v) => a + v)
      when(acc > 0, lit(1L)).otherwise(lit(0L))
    }
    // pack LSB-first: bit p contributes 2^p
    bits.zipWithIndex.map { case (b, p) => b * lit(1L << p) }.reduce(_ + _)
  }

  /** Quantize, sign, and explode one side into (id, qv, table, bucket)
    * rows. The quantized vector rides along so exact scoring downstream
    * needs no second decimal conversion. */
  private def withBuckets(
      df: DataFrame, id: String, vec: String, side: String,
      planes: Int, tables: Int): DataFrame = {
    registered(df)
    val q = df.select(col(id).as(s"${side}_id"),
      V.quantize6(col(vec)).as(s"${side}q"))
    q.select(col(s"${side}_id"), col(s"${side}q"),
      posexplode(V.rhpSignatures(col(s"${side}q"), planes, tables))
        .as(Seq("table", "bucket")))
  }

  /** LSH-bucketed ANN: both sides are signed into `planes`-bit buckets;
    * candidates share a bucket in at least one of `tables` independent
    * signatures (multi-table RHP-LSH). Exact quantized-decimal scoring +
    * top-k only within candidates — every stage (buckets, candidate set,
    * scores, rank) is deterministic and engine-reproducible, so the whole
    * approximate operator has a DuckDB oracle. `planes` trades bucket
    * size against recall, `tables` buys recall back. */
  def lshTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, planes: Int = 12, tables: Int = 4): DataFrame =
    lshTopKImpl(queries, queryId, queryVec, corpus, corpusId, corpusVec,
      k, planes, tables, multiProbe = false)

  /** A persisted-or-lazy RHP-LSH index over a corpus: `vectors` is the
    * quantized corpus `(corpus_id, corpusq)`, `buckets` its exploded
    * signature table `(corpus_id, table, bucket)`. `planes`/`tables`
    * travel with the index so probes sign queries identically. Build once
    * with [[Similarity.writeLshIndex]]; every subsequent
    * [[Similarity.probeLsh]] then runs with ZERO corpus scans — the
    * amortization real 100 TB ANN needs (the index is written once per
    * corpus version, probed per query batch). */
  final case class LshIndex(vectors: DataFrame, buckets: DataFrame,
      planes: Int, tables: Int)

  /** In-memory (lazy) LSH index — see [[writeLshIndex]] for the
    * persisted variant. NOTE: the returned frames both derive from the
    * corpus plan; persist the corpus side (or use the persisted variant)
    * before probing, or the corpus is scanned once per consumer. */
  def buildLshIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      planes: Int = 12, tables: Int = 4): LshIndex = {
    registered(corpus)
    val vectors = corpus.select(col(corpusId).as("corpus_id"),
      V.quantize6(col(corpusVec)).as("corpusq"))
    LshIndex(vectors, bucketsOf(vectors, planes, tables), planes, tables)
  }

  private def bucketsOf(vectors: DataFrame, planes: Int,
      tables: Int): DataFrame =
    vectors.select(col("corpus_id"),
      posexplode(V.rhpSignatures(col("corpusq"), planes, tables))
        .as(Seq("table", "bucket")))

  /** Build an LSH index and persist it under `dir` (`vectors/`,
    * `buckets/`, `params/` parquet). The corpus is scanned exactly once —
    * the bucket table derives from the just-written vectors, not from a
    * second corpus pass. Returns the read-back (parquet-backed) index. */
  def writeLshIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      dir: String, planes: Int = 12, tables: Int = 4): LshIndex = {
    registered(corpus)
    val spark = corpus.sparkSession
    corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("corpusq"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/vectors")
    bucketsOf(spark.read.parquet(s"$dir/vectors"), planes, tables)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/buckets")
    import spark.implicits._
    Seq((planes, tables)).toDF("planes", "tables")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/params")
    readLshIndex(spark, dir)
  }

  def readLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): LshIndex = {
    val p = spark.read.parquet(s"$dir/params").collect().head
    LshIndex(spark.read.parquet(s"$dir/vectors"),
      spark.read.parquet(s"$dir/buckets"),
      p.getAs[Int]("planes"), p.getAs[Int]("tables"))
  }

  /** Incrementally index a NEW batch into a persisted LSH index: the
    * batch is quantized and signed against the index's own plane family
    * (read from `params/`) and appended to `vectors/` and `buckets/` —
    * the streaming-ingest maintenance path. The hyperplanes are
    * data-independent (derived from a splitmix64 stream), so
    * `append(build(prefix), rest) ≡ build(prefix ∪ rest)` bit-for-bit,
    * and the append touches ONLY the new batch: no scan of the already-
    * indexed corpus, no rebuild — per-batch cost is O(batch), not
    * O(corpus). Spec-proven in both directions (equality + no-old-scan).
    *
    * The two appends are not atomic; buckets are written FIRST so a
    * failure between them leaves orphan bucket rows — harmless, because
    * every probe joins candidates back to `vectors/` and an id with no
    * vector row simply never scores. (The reverse order would leave
    * vectors with no signatures: present in the index yet silently
    * invisible to every probe.) Re-running the append after a partial
    * failure may duplicate bucket rows for the batch; probes dedup
    * candidate pairs before scoring, so repair = re-append. */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      newBatch: DataFrame, batchId: String, batchVec: String): LshIndex = {
    registered(newBatch)
    val p = spark.read.parquet(s"$dir/params").collect().head
    val (planes, tables) = (p.getAs[Int]("planes"), p.getAs[Int]("tables"))
    // Quantize once; the batch feeds two writes (buckets + vectors).
    val newVec = newBatch.select(col(batchId).as("corpus_id"),
        V.quantize6(col(batchVec)).as("corpusq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bucketsOf(newVec, planes, tables)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$dir/buckets")
      newVec.write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$dir/vectors")
    } finally newVec.unpersist()
    readLshIndex(spark, dir)
  }

  /** Probe an LSH index: sign the (small, broadcast) query side with the
    * index's plane family, equi-join buckets for candidates, score
    * exactly, keep top-k. Touches ONLY the index tables — on a
    * [[writeLshIndex]] index the corpus parquet is never rescanned. */
  def probeLsh(index: LshIndex, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, multiProbe: Boolean = false): DataFrame = {
    registered(queries)
    val queryQ = queries.select(col(queryId).as("query_id"),
      V.quantize6(col(queryVec)).as("queryq"))
    val qb0 = queryQ.select(col("query_id"),
      posexplode(V.rhpSignatures(col("queryq"), index.planes, index.tables))
        .as(Seq("table", "bucket")))
    // multi-probe: the signature plus every 1-bit flip per table
    val qb = broadcast(
      if (!multiProbe) qb0
      else {
        val probeArr = array(col("bucket") +: (0 until index.planes)
          .map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
        qb0.select(col("query_id"), col("table"),
          explode(probeArr).as("bucket"))
      })
    // Dedup candidate id PAIRS first (cheap narrow shuffle), then join the
    // quantized vectors back — never shuffle or hash full vectors in the
    // dedup.
    val cand = index.buckets.select("table", "bucket", "corpus_id")
      .join(qb.select("table", "bucket", "query_id"), Seq("table", "bucket"))
      .select(col("query_id"), col("corpus_id")).distinct()
      .join(broadcast(queryQ), Seq("query_id"))
      .join(index.vectors, Seq("corpus_id"))
    val scored = cand.withColumn("score", V.dotQ12(col("queryq"), col("corpusq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** One shared body for the ONE-SHOT single- and multi-probe LSH
    * operators: build an in-memory index over a persisted quantized
    * corpus (both the bucket explosion and the score join-back read the
    * cached side, so the corpus parquet is scanned and quantized exactly
    * once — a lazy diamond here would re-run the whole scan+quantize
    * pipeline per consumer), probe it, release the cache. The
    * build-once/probe-many path is [[writeLshIndex]] + [[probeLsh]]. */
  private def lshTopKImpl(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, planes: Int, tables: Int, multiProbe: Boolean): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    val corpusQ = corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("corpusq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val index = LshIndex(corpusQ, bucketsOf(corpusQ, planes, tables),
      planes, tables)
    val result = probeLsh(index, queries, queryId, queryVec, k, multiProbe)
    // Top-k is tiny: materialize it eagerly, then release the cached
    // quantized corpus so repeated calls don't accumulate cached blocks.
    try Lifetime.seal(result) finally corpusQ.unpersist()
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    * [[lshTopK]]: corpus vectors are binned into cells around a small
    * FIXED-size centroid set; a query probes its `nprobe` nearest cells
    * and scores only their members exactly.
    *
    * Scale design: centroids are the `numCentroids` corpus vectors with
    * the smallest `md5_60(id)` — a deterministic uniform K-sample whose
    * size does NOT grow with the corpus (a corpus-proportional centroid
    * set would make assignment O(n²/stride) and the broadcast unbounded).
    * Selection is one column-pruned corpus scan + per-partition top-K
    * merge (`TakeOrderedAndProject`), so it stays O(n) with a constant-
    * size result at any corpus size. Centroids are broadcast; cell
    * assignment is one broadcast product + `min_by` hash aggregation —
    * partial aggregation collapses the per-centroid candidates map-side,
    * so the shuffle carries ONE row per corpus vector, not one per
    * (vector, centroid), and total assignment cost is O(n·K) with K
    * constant. The probe set is broadcast onto the cell table, and only
    * cell members reach exact scoring. Every stage (centroid pick by
    * md5_60 order, assignment by exact quantized L2, probe ranking,
    * scores, ranks — ties by id) is deterministic and
    * engine-reproducible → full DuckDB oracle.
    */
  def ivfTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, numCentroids: Int = 16, nprobe: Int = 2): DataFrame =
    probeIvf(buildIvfIndex(corpus, corpusId, corpusVec, numCentroids),
      queries, queryId, queryVec, k, nprobe)

  /** A persisted-or-lazy IVF index: `centroids` is the fixed-K quantized
    * centroid table `(cent_id, centq, cent_s2)`, `cells` the cell
    * assignment `(corpus_id, cent_id, cq)` — one row per corpus vector.
    * Build once with [[Similarity.writeIvfIndex]]; every subsequent
    * [[Similarity.probeIvf]] then runs with ZERO corpus scans. */
  final case class IvfIndex(centroids: DataFrame, cells: DataFrame)

  /** exact squared L2 to centroid: |v|² + |c|² − 2·v·c, every term an
    * exact scale-12 decimal surfaced as double */
  private def ivfD2(vq: Column, vs2: Column): Column =
    vs2 + col("cent_s2") - lit(2.0) * V.dotQ12(vq, col("centq"))

  /** Centroid selection: order/limit on the RAW (id, vec) columns,
    * quantize only the K survivors — the sort key is md5_60(id) alone,
    * and quantizing inside the pre-limit projection would run the
    * per-element decimal conversion over the whole corpus just to
    * discard all but K rows. */
  private def ivfCentroids(corpus: DataFrame, corpusId: String,
      corpusVec: String, numCentroids: Int): DataFrame = {
    // every public caller resolves the 0 sentinel first; a raw 0
    // reaching the limit would silently build an EMPTY quantizer
    require(numCentroids > 0,
      s"ivfCentroids: unresolved centroid count $numCentroids")
    corpus.select(col(corpusId).as("cent_id"), col(corpusVec).as("cvec"))
      .orderBy(Dedup.md5_60(col("cent_id").cast(StringType)), col("cent_id"))
      .limit(numCentroids)
      .select(col("cent_id"), V.quantize6(col("cvec")).as("centq"))
      .withColumn("cent_s2", V.dotQ12(col("centq"), col("centq")))
  }

  /** One deterministic Lloyd refinement round: assign every corpus
    * vector to its nearest current centroid, then move each centroid to
    * its cell's per-dimension MEAN. md5-sampled seeds are uniform over
    * the corpus, not over space, so dense regions get crowded cells and
    * sparse regions huge ones; one k-means step evens the cells out —
    * and with them `nprobe` recall — while staying exact and
    * oracle-expressible: cell sums are exact scale-6 unscaled longs
    * (map-side-combined, the shuffle carries K·dims rows per partition),
    * and the mean rounds HALF_UP via pure integer arithmetic —
    * `(2s + sgn(s)·n) div 2n` — because truncating integer division is
    * the one division both engines define bit-identically (decimal
    * division result scales differ engine-to-engine). A centroid whose
    * cell emptied (possible when duplicate vectors seed two centroids
    * and the tiebreak drains one) keeps its seed coordinates. Centroid
    * ids are preserved, so probe ranking stays id-tiebroken and
    * deterministic. */
  private def ivfRefine(corpus: DataFrame, corpusId: String,
      corpusVec: String, cent: DataFrame): DataFrame = {
    val dims = ivfCells(corpus, corpusId, corpusVec, cent)
      .select(col("cent_id"), posexplode(col("cq")).as(Seq("i", "x")))
    val means = dims.groupBy(col("cent_id"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(2 * s + CASE WHEN s < 0 THEN -n ELSE n END) div (2 * n)"))
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("m"))))
        .getField("m").as("mq"))
    cent.join(means, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("mq"), col("centq")).as("centq"))
      .withColumn("cent_s2", V.dotQ12(col("centq"), col("centq")))
  }

  /** Cell assignment: one broadcast product + `min_by` hash aggregation —
    * partial aggregation collapses the per-centroid candidates map-side,
    * so the shuffle carries ONE row per corpus vector. */
  private[graft] def ivfCells(corpus: DataFrame, corpusId: String,
      corpusVec: String, cent: DataFrame): DataFrame =
    corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("cq"))
      .withColumn("c_s2", V.dotQ12(col("cq"), col("cq")))
      .crossJoin(broadcast(cent))
      .withColumn("d2", ivfD2(col("cq"), col("c_s2")))
      .groupBy(col("corpus_id"))
      .agg(min_by(struct(col("cent_id"), col("cq")),
        struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("corpus_id"), col("m.cent_id").as("cent_id"),
        col("m.cq").as("cq"))

  /** K-MEANS TRAINING SUMMARY — the clustering behind SemDeDup /
    * cluster-balanced sampling exposed as its own operator: md5-seeded
    * centroids, `refineRounds` exact Lloyd rounds ([[ivfRefine]]), then
    * per-cluster size and INERTIA (sum of members' squared distance to
    * their refined centroid) — the convergence/balance diagnostics a
    * curation pipeline reads before trusting cluster-stratified
    * decisions. Per-member distances are the exact assignment
    * arithmetic ([[ivfD2]]: correctly-rounded doubles of scale-12
    * rationals, fixed op order) and inertia sums them as
    * DECIMAL(28,6) partials — order-free, engine-reproducible, no
    * double accumulation anywhere — surfaced as one final DOUBLE
    * (exact and cross-engine-identical while the micro-scaled sum
    * stays under 2⁵³, i.e. inertia < 9·10⁹; the scale-6 quantization
    * is what keeps the bound generous instead of tripping at ~9·10³
    * as a scale-12 sum would). Centroids whose cell drained report
    * `n_members = 0`, `inertia = 0.0`.
    *
    * Scale shape: each Lloyd round is one corpus pass against K
    * broadcast centroids with a map-side-combined `min_by` (the shuffle
    * carries one row per vector), and the summary is a K-row aggregate.
    */
  def kmeansSummary(corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int = 16, refineRounds: Int = 1): DataFrame = {
    // Deliberately FIXED-K: k is the model choice being summarized, so
    // the ANN entry points' `0 = auto-size` sentinel does not apply
    // here — refuse it with a caller-facing message instead of letting
    // ivfCentroids surface its internal unresolved-count error.
    require(k > 0, s"kmeansSummary: k must be positive ($k) — the 0 " +
      "auto-size sentinel applies to ANN index entry points only; pass " +
      "an explicit cluster count for model-K summaries")
    registered(corpus)
    val seed = ivfCentroids(corpus, corpusId, corpusVec, k)
    val cent = (1 to refineRounds).foldLeft(seed) { (c, _) =>
      ivfRefine(corpus, corpusId, corpusVec, c)
    }
    val scored = ivfCells(corpus, corpusId, corpusVec, cent)
      .join(broadcast(cent), Seq("cent_id"))
      .withColumn("d2",
        ivfD2(col("cq"), V.dotQ12(col("cq"), col("cq"))))
    val stats = scored.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("d2").cast(DecimalType(28, 6))).as("inertia_d"))
    cent.select(col("cent_id")).join(stats, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_d").cast(DoubleType), lit(0.0))
          .as("inertia"))
  }

  /** SIMPLIFIED SILHOUETTE — the per-cluster separation diagnostic that
    * complements [[kmeansSummary]]'s inertia: for every vector,
    * `a² = d²` to its own (nearest) centroid and `b² = d²` to the
    * closest OTHER centroid, scored `s = (b² − a²) / max(a², b²)`
    * ∈ [0, 1] (centroid-based simplified silhouette over squared
    * distances — the O(n·K) published variant of the O(n²) classic;
    * squared form keeps every distance the exact assignment arithmetic
    * [[ivfD2]] already produces, no sqrt). Near 1 = well separated;
    * near 0 = the vector sits on a cluster boundary — low cluster means
    * say "don't trust cluster-stratified curation decisions here".
    *
    * Exactness: a²/b² are [[ivfD2]] doubles (correctly-rounded scale-12
    * rationals, fixed op order), the per-row score is one IEEE
    * division, and per-cluster means sum DECIMAL(28,8) partials —
    * order-free, engine-reproducible (scale 8 keeps the final
    * DECIMAL→DOUBLE conversion 2⁵³-exact to 9·10⁷ members/cluster). `b² = 0` (vector identical to two
    * centroids) scores 0 by convention. Drained centroids report
    * `n_members = 0`, NULL silhouette.
    *
    * Scale shape: one corpus pass against K broadcast centroids; the
    * two nearest centroids per vector come from a map-side-combinable
    * `collect_list` capped at K structs per vector (K fixed = the same
    * O(n·K) class as the assignment itself — the shuffle carries K
    * 16-byte structs per vector, comparable to shipping the vector);
    * the summary is a K-row aggregate. */
  def silhouetteSummary(corpus: DataFrame, corpusId: String,
      corpusVec: String, k: Int = 16, refineRounds: Int = 1): DataFrame = {
    require(k >= 2, s"silhouetteSummary: k must be >= 2 ($k) — " +
      "separation needs a second centroid, and the ANN entry points' 0 " +
      "auto-size sentinel does not apply to model-K summaries")
    registered(corpus)
    val seed = ivfCentroids(corpus, corpusId, corpusVec, k)
    val cent = (1 to refineRounds).foldLeft(seed) { (c, _) =>
      ivfRefine(corpus, corpusId, corpusVec, c)
    }
    val scored = corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("cq"))
      .withColumn("c_s2", V.dotQ12(col("cq"), col("cq")))
      .crossJoin(broadcast(cent))
      .withColumn("d2", ivfD2(col("cq"), col("c_s2")))
    val two = scored.groupBy(col("corpus_id"))
      .agg(slice(array_sort(collect_list(struct(col("d2"), col("cent_id")))),
        1, 2).as("nn"))
      .select(col("corpus_id"),
        col("nn").getItem(0).getField("cent_id").as("cent_id"),
        col("nn").getItem(0).getField("d2").as("a2"),
        col("nn").getItem(1).getField("d2").as("b2"))
      .withColumn("sil", when(col("b2") === 0.0, lit(0.0))
        .otherwise((col("b2") - col("a2")) /
          greatest(col("a2"), col("b2"))))
    // scale-8 partials: sil ∈ [0,1] so the per-cluster sum's
    // DECIMAL→DOUBLE conversion stays 2⁵³-exact to 9·10⁷ members —
    // scale 12 tripped the bound past ~9·10³ members per cluster
    val stats = two.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("sil").cast(DecimalType(28, 8))).as("ssum"))
    cent.select(col("cent_id")).join(stats, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        (col("ssum").cast(DoubleType) /
          col("n_members").cast(DoubleType)).as("silhouette"))
  }

  /** Resolve the coarse-quantizer size: a positive `numCentroids` is
    * taken verbatim; the `0` sentinel AUTO-SIZES to `max(16, ⌊√n⌋)` —
    * the standard IVF rule that keeps BOTH the centroid ranking
    * (O(n·K)) and the per-cell candidate mass (O(n²·nprobe/K)) at
    * O(n^1.5), instead of the fixed-K shape whose candidate lists grow
    * linearly in n (the 10× rehearsal measured exactly that:
    * `q_sim_mutual_ivf` 6.1× at 10× rows under K=16). One cheap
    * count() at index build; `floor(sqrt(n))` of an exact BIGINT is
    * IEEE-identical cross-engine, so the oracle mirrors the sizing. */
  def resolveCentroids(corpus: DataFrame, numCentroids: Int): Int = {
    require(numCentroids >= 0,
      s"numCentroids must be >= 0 (0 = auto ~ sqrt(n)), got $numCentroids")
    if (numCentroids > 0) numCentroids
    else math.max(16,
      math.floor(math.sqrt(corpus.count().toDouble)).toInt)
  }

  /** In-memory (lazy) IVF index — the one-shot [[ivfTopK]] path.
    * `refineRounds` Lloyd rounds ([[ivfRefine]]) between seeding and the
    * final assignment; each round is one corpus pass, so the default for
    * ad-hoc probes is 0 and index builders opt in. `numCentroids = 0`
    * auto-sizes K ≈ √n ([[resolveCentroids]]). */
  def buildIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      numCentroids: Int = 16, refineRounds: Int = 0): IvfIndex = {
    registered(corpus)
    val seed = ivfCentroids(corpus, corpusId, corpusVec,
      resolveCentroids(corpus, numCentroids))
    val cent = (1 to refineRounds).foldLeft(seed) { (c, _) =>
      ivfRefine(corpus, corpusId, corpusVec, c)
    }
    IvfIndex(cent, ivfCells(corpus, corpusId, corpusVec, cent))
  }

  /** Build an IVF index and persist it under `dir` (`centroids/`,
    * `cells/` parquet): one column-pruned corpus scan selects the
    * centroids, one more assigns cells against the WRITTEN centroid
    * table. Returns the read-back (parquet-backed) index — the
    * build-once/probe-many amortization the round-3 one-shot operator
    * lacked. */
  def writeIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      dir: String, numCentroids: Int = 16, refineRounds: Int = 0): IvfIndex = {
    registered(corpus)
    val spark = corpus.sparkSession
    val seed = ivfCentroids(corpus, corpusId, corpusVec,
      resolveCentroids(corpus, numCentroids))
    (1 to refineRounds).foldLeft(seed) { (c, _) =>
        ivfRefine(corpus, corpusId, corpusVec, c)
      }
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/centroids")
    ivfCells(corpus, corpusId, corpusVec,
        spark.read.parquet(s"$dir/centroids"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/cells")
    readIvfIndex(spark, dir)
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/cells"))

  /** Incrementally index a NEW batch into a persisted IVF index: the
    * batch is assigned against the index's FROZEN centroid table (read
    * from `centroids/`) and appended to `cells/` — assignment is
    * embarrassingly parallel, so per-batch cost is O(batch·K) with no
    * scan of the already-indexed corpus and no rebuild. The centroids
    * are the index's versioned quantizer (standard IVF practice: the
    * coarse quantizer is trained once per index generation; appended
    * vectors adopt it), so `append(build(prefix), rest)` is
    * bit-identical to `build(prefix ∪ rest)` exactly when both builds
    * would select the same centroids — e.g. `refineRounds = 0` and every
    * seed inside the prefix (spec-proven); otherwise the append is the
    * deliberate approximation every incremental ANN index makes between
    * re-trainings. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      newBatch: DataFrame, batchId: String, batchVec: String): IvfIndex = {
    registered(newBatch)
    ivfCells(newBatch, batchId, batchVec,
        spark.read.parquet(s"$dir/centroids"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$dir/cells")
    readIvfIndex(spark, dir)
  }

  /** Probe an IVF index: rank the broadcast centroid table per query,
    * keep the `nprobe` nearest cells, score only their members exactly.
    * Touches ONLY the index tables — on a [[writeIvfIndex]] index the
    * corpus parquet is never rescanned. */
  def probeIvf(index: IvfIndex, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, nprobe: Int = 2): DataFrame = {
    registered(queries)
    val cent = broadcast(index.centroids)
    val probes = queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(cent)
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qq"), col("cent_id"))

    val scored = index.cells.join(broadcast(probes), Seq("cent_id"))
      .withColumn("score", V.dotQ12(col("qq"), col("cq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** Label-aware HARD-NEGATIVE mining for contrastive training data:
    * for each anchor, the top-k most-similar corpus vectors whose label
    * DIFFERS from the anchor's — the nearly-positive impostors a
    * contrastive/metric-learning loss wants as negatives. Mined through
    * the IVF index, so each anchor scores only its `nprobe` nearest
    * cells' members, not the corpus; the label inequality is applied to
    * the CANDIDATES before ranking (filtering an unlabeled top-k after
    * the fact would under-fill k whenever same-label positives dominate
    * a neighborhood — exactly the anchors hard negatives matter for).
    * An anchor drawn from the corpus never returns itself: its own row
    * shares its label.
    *
    * Scale shape: centroids and probes broadcast (anchor-set-scaled);
    * ONE thin corpus-sized join rides `(id, label)` onto the cell table
    * — both sides hash on corpus_id, no payload wider than the label;
    * exact quantized scoring and id tie-breaks as everywhere in this
    * family, so the result is deterministic and oracle-checkable. */
  def hardNegativesIvf(index: IvfIndex,
      corpusLabels: DataFrame, labelIdCol: String, labelCol: String,
      anchors: DataFrame, anchorId: String, anchorVec: String,
      anchorLabel: String, k: Int, nprobe: Int = 2): DataFrame = {
    registered(anchors)
    val cent = broadcast(index.centroids)
    val probes = anchors.select(col(anchorId).as("query_id"),
        V.quantize6(col(anchorVec)).as("qq"),
        col(anchorLabel).cast(LongType).as("a_label"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(cent)
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qq"), col("a_label"), col("cent_id"))
    val cellsL = index.cells.join(
      corpusLabels.select(col(labelIdCol).as("corpus_id"),
        col(labelCol).cast(LongType).as("neg_label")),
      Seq("corpus_id"))
    val scored = cellsL.join(broadcast(probes), Seq("cent_id"))
      .filter(col("a_label") =!= col("neg_label"))
      .withColumn("score", V.dotQ12(col("qq"), col("cq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "neg_label", "score", "rank")
  }

  /** Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): cluster the embedding corpus, measure every
    * vector's distance to its cluster prototype (the refined centroid),
    * and KEEP the `keepPerCell` HARDEST examples per cluster — largest
    * d2, the least-prototypical points. Pruning easy/prototypical
    * examples is the published recipe for beating power-law scaling
    * when data is abundant; `hard_rank` = 1 is the hardest.
    *
    * Scale shape: one corpus pass for assignment ([[ivfCells]] — the
    * shuffle carries one row per vector), centroids broadcast (fixed
    * K), hardness ranked per cell — a bounded window per cluster, the
    * same shape as every per-cell stage in this family. The per-cell
    * budget (not a global top-N) keeps the selection embarrassingly
    * parallel and deterministic: d2 is exact quantized arithmetic, ties
    * break on id. */
  def prunePrototypes(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int = 16, refineRounds: Int = 1,
      keepPerCell: Int = 20): DataFrame = {
    registered(corpus)
    val idx = buildIvfIndex(corpus, idCol, vecCol, numCentroids,
      refineRounds)
    idx.cells.join(broadcast(idx.centroids), Seq("cent_id"))
      .withColumn("c_s2", V.dotQ12(col("cq"), col("cq")))
      .withColumn("d2", ivfD2(col("cq"), col("c_s2")))
      .withColumn("hard_rank", row_number().over(
        Window.partitionBy(col("cent_id"))
          .orderBy(col("d2").desc, col("corpus_id"))).cast(LongType))
      .filter(col("hard_rank") <= keepPerCell)
      .select("corpus_id", "cent_id", "d2", "hard_rank")
  }

  /** MULTI-PROBE RHP-LSH ANN — [[lshTopK]] with 1-bit probe expansion:
    * each query probes its base bucket PLUS every 1-bit-flip neighbor in
    * each table (the planes whose sign was closest to flipping are
    * exactly one bit away). Multi-probe buys the recall extra tables
    * would buy, but cheaper at scale: tables multiply the CORPUS-side
    * bucket shuffle, while probes only multiply the tiny broadcast query
    * side — `tables=2, probes=planes+1` candidates ≈ `tables=4+` recall
    * with half the corpus explosion. Fully deterministic (bit flips of
    * integer signatures) → exact DuckDB oracle like every other ANN
    * operator here. */
  def lshTopKMultiProbe(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, planes: Int = 8, tables: Int = 2): DataFrame =
    lshTopKImpl(queries, queryId, queryVec, corpus, corpusId, corpusVec,
      k, planes, tables, multiProbe = true)

  /** TWO-LEVEL IVF — the large-K variant of [[ivfTopK]]: a coarse
    * quantizer over the centroid set cuts both assignment and probing
    * from O(K) to O(C + K/C) comparisons per vector (minimized at
    * C ≈ √K). Centroids are the `numCentroids` corpus vectors smallest
    * in md5_60(id) order; the `numCoarse` FIRST of that same order form
    * the coarse level (coarse ⊆ fine, so every selection stays one
    * deterministic ordered prefix). Every fine centroid hangs off its
    * nearest coarse centroid; a corpus vector finds its nearest coarse
    * cell, then its nearest fine centroid WITHIN that cell; a query
    * probes its `cprobe` nearest coarse cells, ranks the fine centroids
    * they contain, keeps `nprobe`, and scores only those cells' members.
    *
    * Scale design: both centroid levels are broadcast (bounded by
    * construction); the corpus makes ONE pass per level with `min_by`
    * partial aggregation (the shuffle carries one row per vector); all
    * stages are exact quantized arithmetic with id tie-breaks →
    * deterministic and fully oracle-checkable. Note the two-level
    * assignment is genuinely approximate in the same way real IVF
    * hierarchies are: a vector's globally-nearest fine centroid can sit
    * in a non-nearest coarse cell — the oracle replicates the two-stage
    * decision, not a flat argmin. */
  def ivfTopK2(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, numCentroids: Int = 16, numCoarse: Int = 4,
      nprobe: Int = 2, cprobe: Int = 2): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    // Raw order/limit first (sort key is md5_60(id) only), quantize the
    // K survivors — see the same note in [[ivfTopK]]. The 0 sentinel
    // auto-sizes here too ([[resolveCentroids]]) so the engine-wide
    // convention holds on every entry point.
    val kFine = resolveCentroids(corpus, numCentroids)
    val pool = corpus.select(col(corpusId).as("cid"), col(corpusVec).as("cvec"))
      .orderBy(Dedup.md5_60(col("cid").cast(StringType)), col("cid"))
      .limit(kFine)
      .select(col("cid"), V.quantize6(col("cvec")).as("cq"))
      .withColumn("c_s2", V.dotQ12(col("cq"), col("cq")))
    val fine = pool.select(col("cid").as("fine_id"), col("cq").as("fineq"),
      col("c_s2").as("fine_s2"))
    val coarse = pool
      .orderBy(Dedup.md5_60(col("cid").cast(StringType)), col("cid"))
      .limit(numCoarse)
      .select(col("cid").as("coarse_id"), col("cq").as("coarseq"),
        col("c_s2").as("coarse_s2"))
    def d2(vq: Column, vs2: Column, cq: Column, cs2: Column): Column =
      vs2 + cs2 - lit(2.0) * V.dotQ12(vq, cq)

    // fine → coarse: each fine centroid hangs off its nearest coarse.
    // The coarse side is always broadcast (≈√K by construction). The
    // fine table carries no hint: AQE broadcasts it while it is small,
    // and at the K ∝ n of a 100 TB IVF (10⁶+ centroids) both consumers
    // below join it on their shuffle key (`coarse_id` for cell
    // assignment and query probing) instead of ceilinging K at what the
    // driver can broadcast.
    val fc = fine.crossJoin(broadcast(coarse))
      .withColumn("d2",
        d2(col("fineq"), col("fine_s2"), col("coarseq"), col("coarse_s2")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("fine_id"))
        .orderBy(col("d2"), col("coarse_id"))))
      .filter(col("rn") === 1)
      .select(col("fine_id"), col("fineq"), col("fine_s2"), col("coarse_id"))

    // corpus pass 1: nearest coarse cell (O(C) per row, min_by partial agg)
    val corpusQ = corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("vq"))
      .withColumn("v_s2", V.dotQ12(col("vq"), col("vq")))
    val vCoarse = corpusQ.crossJoin(broadcast(coarse))
      .withColumn("d2",
        d2(col("vq"), col("v_s2"), col("coarseq"), col("coarse_s2")))
      .groupBy(col("corpus_id"))
      .agg(min_by(struct(col("coarse_id"), col("vq"), col("v_s2")),
        struct(col("d2"), col("coarse_id"))).as("m"))
      .select(col("corpus_id"), col("m.coarse_id").as("coarse_id"),
        col("m.vq").as("vq"), col("m.v_s2").as("v_s2"))
    // corpus pass 2: nearest fine centroid WITHIN the coarse cell
    val cells = vCoarse.join(fc, Seq("coarse_id"))
      .withColumn("d2", d2(col("vq"), col("v_s2"), col("fineq"), col("fine_s2")))
      .groupBy(col("corpus_id"))
      .agg(min_by(struct(col("fine_id"), col("vq")),
        struct(col("d2"), col("fine_id"))).as("m"))
      .select(col("corpus_id"), col("m.fine_id").as("fine_id"),
        col("m.vq").as("vq"))

    // query probes: cprobe coarse cells, then nprobe fine cells inside them
    val qQ = queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
    val qCoarse = qQ.crossJoin(broadcast(coarse))
      .withColumn("d2",
        d2(col("qq"), col("q_s2"), col("coarseq"), col("coarse_s2")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2"), col("coarse_id"))))
      .filter(col("crank") <= cprobe)
      .select(col("query_id"), col("qq"), col("q_s2"), col("coarse_id"))
    val qFine = qCoarse.join(fc, Seq("coarse_id"))
      .withColumn("d2", d2(col("qq"), col("q_s2"), col("fineq"), col("fine_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2"), col("fine_id"))))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qq"), col("fine_id"))

    val scored = cells.join(broadcast(qFine), Seq("fine_id"))
      .withColumn("score", V.dotQ12(col("qq"), col("vq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** PRODUCT-QUANTIZATION ANN (ADC scoring) — the memory-compression
    * arm of the family: each vector is encoded as `numSubspaces` small
    * code ids (one byte each at the default `numCodes = 16`) instead of
    * `d` floats, and queries score codes via per-subspace lookup
    * tables — the asymmetric-distance (ADC) recipe every web-scale
    * vector index uses once raw vectors stop fitting in memory
    * (16-dim float corpus → 4-byte codes is 16×; production 768-dim →
    * 32×+). IVF bounds which vectors are SCORED; PQ bounds what each
    * vector COSTS — at 10¹⁰+ vectors both matter, and this operator
    * supplies the second.
    *
    * Determinism/oracle design: the codebook is the SAMPLED-codebook PQ
    * variant — per subspace, the code vectors are the sub-slices of the
    * `numCodes` corpus rows smallest in `(md5_60(id), id)` order (the
    * same seeding rule as [[ivfTopK]]; no Lloyd training, so the whole
    * index is a pure function of the data). Encoding picks each row's
    * nearest code per subspace by exact quantized-L2 with
    * `(d2, code)` tie-breaks; query tables and scores are exact
    * unscaled scale-12 LONG sums — the [[graft.functions.VectorOpsImpl
    * .dotQ12]] integer representation, order-independent (a double sum
    * across subspaces would depend on summation order, which no SQL
    * engine guarantees) — rescaled exactly once and surfaced as double.
    *
    * Scale shape: the codebook (`numCodes × numSubspaces` sub-vectors)
    * and the per-query tables broadcast; encoding is one corpus pass —
    * explode by subspace, probe the broadcast codebook, `min_by`
    * partial agg (the shuffle carries one row per (vector, subspace),
    * then one per vector) — and scoring is a second map-side pass over
    * the ENCODED table (M `element_at` lookups per row, no join, no
    * shuffle) into the standard per-query top-k window. */
  def pqTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, numSubspaces: Int = 4, numCodes: Int = 16): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    require(numSubspaces >= 1 && numCodes >= 1,
      "numSubspaces and numCodes must be >= 1")
    // tiny; feeds encoding AND query tables through one reused exchange
    val cb = pqCodebook(corpus, corpusId, corpusVec, numSubspaces, numCodes)
    pqScore(pqEncode(corpus, corpusId, corpusVec, cb, numSubspaces),
      pqTabs(queries, queryId, queryVec, cb, numSubspaces), numSubspaces, k)
  }

  /** Persisted PQ index: `codebook/` (m, code, sub-vector, s2),
    * `codes/` (corpus_id, M code ids), `params/`. */
  case class PqIndex(codebook: DataFrame, codes: DataFrame, numSubspaces: Int)

  /** subspace slice of a quantized vector: floor(d/M) elements each,
    * the last subspace absorbing the remainder */
  private def pqSub(m: Int)(vec: Column, mCol: Column): Column = {
    val d = size(vec)
    val slen = floor(d / lit(m)).cast(IntegerType)
    slice(vec, mCol * slen + 1,
      when(mCol === m - 1, d - mCol * slen).otherwise(slen))
  }

  /** Sampled PQ codebook: sub-slices of the `numCodes` md5-smallest
    * corpus rows; code id = dense rank 1..numCodes in that order. */
  private def pqCodebook(corpus: DataFrame, corpusId: String,
      corpusVec: String, m: Int, numCodes: Int): DataFrame =
    pqCodebookQ(
      corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cvec"))
        .orderBy(Dedup.md5_60(col("corpus_id").cast(StringType)),
          col("corpus_id"))
        .limit(numCodes)
        .select(col("corpus_id"), V.quantize6(col("cvec")).as("cq")),
      m, numCodes)

  /** [[pqCodebook]] over an ALREADY-QUANTIZED `(corpus_id, cq)` frame —
    * the residual path feeds integer residual vectors here. */
  private def pqCodebookQ(corpusQ: DataFrame, m: Int,
      numCodes: Int): DataFrame = {
    val seedOrd = Window.orderBy(
      Dedup.md5_60(col("sid").cast(StringType)), col("sid"))
    corpusQ.select(col("corpus_id").as("sid"), col("cq").as("sq"))
      .orderBy(Dedup.md5_60(col("sid").cast(StringType)), col("sid"))
      .limit(numCodes)
      .withColumn("r", row_number().over(seedOrd))
      .select(col("r"), explode(sequence(lit(0), lit(m - 1))).as("m"),
        col("sq"))
      .withColumn("cq_sub", pqSub(m)(col("sq"), col("m")))
      .withColumn("c_s2", V.dotQ12(col("cq_sub"), col("cq_sub")))
      .select("m", "r", "cq_sub", "c_s2")
  }

  /** IVF CELL-BALANCE AUDIT — the load report for the partition arm:
    * rows per cell after assignment (and Lloyd refinement), rolled to
    * one row of extremes and the imbalance factor `max_cell /
    * mean_cell`. A hot cell is simultaneously a recall trap (its
    * nprobe-share of candidates crowds out other cells) and a straggler
    * task at 10¹⁰ vectors; this is the number that says "refine more
    * rounds / raise K" before the index ships — completing the eval
    * trio next to recall@k and [[pqDistortion]]. Empty seeds are
    * reported, not hidden (`n_empty = K − n_cells`).
    *
    * Scale shape: the index build itself plus one map-combined count
    * per cell and a K-row rollup — nothing beyond the build cost. */
  def ivfCellBalance(corpus: DataFrame, corpusId: String,
      corpusVec: String, numCentroids: Int = 16,
      refineRounds: Int = 0): DataFrame = {
    val k = resolveCentroids(corpus, numCentroids)
    val idx = buildIvfIndex(corpus, corpusId, corpusVec, k,
      refineRounds)
    idx.cells.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_vectors"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"))
      .withColumn("n_empty", lit(k.toLong) - col("n_cells"))
      .withColumn("mean_cell",
        col("n_vectors").cast(DoubleType) / col("n_cells"))
      .withColumn("imbalance",
        col("max_cell").cast(DoubleType) / col("mean_cell"))
      .select("n_cells", "n_empty", "n_vectors", "min_cell", "max_cell",
        "mean_cell", "imbalance")
  }

  /** PQ CODEBOOK DISTORTION AUDIT — the quality gauge for the
    * compression arm: per subspace, the L2 error each vector pays for
    * being replaced by its nearest code (`d2 = |v_sub|² + |c_sub|² −
    * 2⟨v_sub, c_sub⟩`, the encoder's own assignment metric). High mean
    * distortion in a subspace means its `numCodes` grid is too coarse —
    * THE number an operator reads before trading recall for the 16–32×
    * memory cut, the same role the recall@k harness plays for the probe
    * knobs. Returns one row per subspace: `(m, n_vectors, sum_d2,
    * mean_d2, max_d2)`.
    *
    * Scale shape: identical to encoding itself — broadcast codebook,
    * one corpus pass, the min-assignment folds map-side per
    * (vector, subspace), then one tiny M-row rollup. Determinism: d2
    * doubles come from exact integer dots in a fixed op order; the
    * rollup sums them as DECIMAL(28,12) (order-independent), and
    * `mean = sum/n`, `max` are order-free. */
  def pqDistortion(corpus: DataFrame, corpusId: String, corpusVec: String,
      numSubspaces: Int = 4, numCodes: Int = 16): DataFrame = {
    registered(corpus)
    val cb = pqCodebook(corpus, corpusId, corpusVec, numSubspaces, numCodes)
    corpus
      .select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("cq"))
      .select(col("corpus_id"),
        explode(sequence(lit(0), lit(numSubspaces - 1))).as("m"), col("cq"))
      .withColumn("v_sub", pqSub(numSubspaces)(col("cq"), col("m")))
      .withColumn("v_s2", V.dotQ12(col("v_sub"), col("v_sub")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("v_s2") + col("c_s2") -
        lit(2.0) * V.dotQ12(col("v_sub"), col("cq_sub")))
      .groupBy(col("corpus_id"), col("m"))
      .agg(min(struct(col("d2"), col("r"))).getField("d2").as("best_d2"))
      .groupBy(col("m"))
      // scale-6 partials (the kmeans-inertia rule): sum_d2 is a
      // corpus-sized sum of d² values, so its DECIMAL→DOUBLE conversion
      // is 2⁵³-exact only while |Σ|·10^scale < 9·10¹⁵ — scale 12 was
      // already past the bound at sf0.1
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("best_d2").cast(DecimalType(28, 6)))
          .cast(DoubleType).as("sum_d2"),
        max(col("best_d2")).as("max_d2"))
      .withColumn("mean_d2", col("sum_d2") / col("n_vectors"))
      .select("m", "n_vectors", "sum_d2", "mean_d2", "max_d2")
  }

  /** Encode: nearest code per (vector, subspace) by exact quantized-L2
    * with (d2, code) ties, then the M codes gathered per vector. */
  private def pqEncode(corpus: DataFrame, corpusId: String,
      corpusVec: String, cb: DataFrame, m: Int): DataFrame =
    pqEncodeQ(corpus.select(col(corpusId).as("corpus_id"),
      V.quantize6(col(corpusVec)).as("cq")), cb, m)

  /** [[pqEncode]] over an already-quantized `(corpus_id, cq)` frame. */
  private def pqEncodeQ(corpusQ: DataFrame, cb: DataFrame,
      m: Int): DataFrame =
    corpusQ
      .select(col("corpus_id"), explode(sequence(lit(0), lit(m - 1))).as("m"),
        col("cq"))
      .withColumn("v_sub", pqSub(m)(col("cq"), col("m")))
      .withColumn("v_s2", V.dotQ12(col("v_sub"), col("v_sub")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("v_s2") + col("c_s2") -
        lit(2.0) * V.dotQ12(col("v_sub"), col("cq_sub")))
      .groupBy(col("corpus_id"), col("m"))
      .agg(min_by(col("r"), struct(col("d2"), col("r"))).as("code"))
      .groupBy(col("corpus_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** ADC tables: contrib(query, m, code) = the query sub-slice · code
    * sub-vector dot as its UNSCALED scale-12 long (quantized arrays
    * are unscaled scale-6 longs, so the long product sum is exactly
    * the [[graft.functions.VectorOpsImpl.dotQ12]] kernel's integer —
    * exact, associative, order-independent; ≤ d·10¹² for unit-scale
    * embeddings, far from the 10¹⁸ long/DECIMAL(18) bound even times
    * M subspaces). */
  private def pqTabs(queries: DataFrame, queryId: String, queryVec: String,
      cb: DataFrame, m: Int): DataFrame = {
    val contrib = aggregate(
      zip_with(col("q_sub"), col("cq_sub"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    queries
      .select(col(queryId).as("query_id"), V.quantize6(col(queryVec)).as("qq"))
      .select(col("query_id"), explode(sequence(lit(0), lit(m - 1))).as("m"),
        col("qq"))
      .withColumn("q_sub", pqSub(m)(col("qq"), col("m")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("contrib", contrib)
      .groupBy(col("query_id"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("r"), col("contrib")))),
        s => s.getField("contrib")).as("row_tab"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("row_tab")))),
        s => s.getField("row_tab")).as("tabs"))
  }

  /** ADC score column over a row holding `codes` and `tabs`: M table
    * lookups summed in exact long arithmetic, then ONE exact rescale —
    * cast to DECIMAL(20,0) (ANY long fits its 19 digits, so the cast can
    * never null an over-unit-scale embedding's score out of top-k; not
    * 38: a (38,0)×(12,12) product overflows precision 38 and Spark would
    * shave the scale to 6) times the exact 10⁻¹² literal gives a
    * lossless (33,12), surfaced as double exactly like dotQ12. */
  /** Unscaled lookup-sum: Σ_m tabs[m][codes[m]] in exact long math. */
  private def pqLookupU(m: Int): Column =
    aggregate(
      sequence(lit(0), lit(m - 1)), lit(0L),
      (acc, i) => acc + element_at(element_at(col("tabs"), i + 1),
        element_at(col("codes"), i + 1)))

  /** Exact scale-12 → double rescale of an unscaled long score. */
  private def pqRescale(u: Column): Column = {
    val toScale12 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE, 12))
    (u.cast(DecimalType(20, 0)) * toScale12).cast(DoubleType)
  }

  private def pqAdcScore(m: Int): Column = pqRescale(pqLookupU(m))

  private def pqTopKWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  private def pqScore(codes: DataFrame, tabs: DataFrame, m: Int,
      k: Int): DataFrame =
    pqTopKWindow(codes.crossJoin(broadcast(tabs))
      .withColumn("score", pqAdcScore(m)), k)

  /** SQ8 SCALAR QUANTIZATION top-k — the third arm of the quantization
    * family (FAISS `SQ8` flat): each dimension is affinely mapped onto
    * its own 256-level grid between the corpus per-dimension min and
    * max, so a d-float vector becomes d one-byte codes (4× over
    * float32) with NO codebook training and NO subspace structure —
    * the cheap memory-compression baseline PQ is judged against.
    *
    * Everything is integer-exact on the scale-6 grid:
    * `code_i = ((x_i − mn_i)·255) div span_i` (span 0 → 0; truncating
    * div == floor on the non-negative operands, identical in DuckDB),
    * and the score against query q is the reconstruction dot
    *
    *   q · x̂ = Σ q_i·mn_i + (1/255)·Σ code_i·(q_i·span_i)
    *
    * kept exact by scaling through by 255: `u255 = 255·Σ q_i·mn_i +
    * Σ code_i·w_i` (w = q·span, all scale-12 longs, |u255| ≲ 10¹⁷),
    * surfaced via the [[pqRescale]] lossless decimal path then ONE
    * IEEE division by 255.0 — both engines produce bit-identical
    * doubles.
    *
    * Scale shape: the per-dimension extremes are a d-row map-side-
    * combined aggregate (broadcast back); encoding is one
    * explode + broadcast-join + gather pass exactly like [[pqEncodeQ]];
    * scoring is the ADC shape — per (query, candidate) a d-length
    * integer fold over the broadcast query weight array, no float math,
    * no corpus re-scan; top-k is the [[pqTopKWindow]]
    * `WindowGroupLimit`. */
  def sq8TopK(queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int = 5): DataFrame = {
    registered(corpus)
    val el = corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("cq"))
      .select(col("corpus_id"), posexplode(col("cq")).as(Seq("i", "x")))
    val dims = el.groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("span", col("mx") - col("mn"))
    val codes = el.join(broadcast(dims), Seq("i"))
      .withColumn("code", when(col("span") === 0L, lit(0L))
        .otherwise(expr("((x - mn) * 255) div span")))
      .groupBy(col("corpus_id"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("code")))),
        s => s.getField("code")).as("codes"))
    val qtab = queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .select(col("query_id"), posexplode(col("qq")).as(Seq("i", "q")))
      .join(broadcast(dims), Seq("i"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("i"),
          (col("q") * col("span")).as("w")))),
        s => s.getField("w")).as("wq"),
        sum(col("q") * col("mn")).as("qmn_u"))
    val scored = codes.crossJoin(broadcast(qtab))
      .withColumn("u255", col("qmn_u") * lit(255L) +
        aggregate(zip_with(col("codes"), col("wq"), (c, w) => c * w),
          lit(0L), (acc, x) => acc + x))
      .withColumn("score", pqRescale(col("u255")) / lit(255.0))
    pqTopKWindow(scored, k)
  }

  /** BINARY-QUANTIZATION ANN (1 bit/dim + exact rerank) — the extreme
    * end of the compression ladder next to [[sq8TopK]] (8 bit/dim) and
    * [[pqTopK]] (~1 byte/subspace): each dimension collapses to a single
    * sign bit against the corpus' per-dimension mean, packed 64 bits to
    * a long. Candidate generation scans signatures only — one XOR +
    * POPCNT per 64 dims per pair (the codegen'd `hamming_words` kernel),
    * a 64× cheaper inner loop and a 32× smaller shuffle/cache footprint
    * than the exact dot — then the top-`rerank` Hamming candidates per
    * query are re-scored with the EXACT quantized cosine, so the final
    * top-k ordering carries true scores, not proxies.
    *
    * Everything is exact integer arithmetic and therefore engine- and
    * partitioning-reproducible: the mean threshold is compared as
    * `x·n ≥ Σx` in `DECIMAL(38,0)` (no division, no rounding), ties in
    * both ranking stages break on `corpus_id`.
    *
    * Scale shape: the per-dim threshold table is `d` rows (broadcast);
    * signature packing is two map-side-combined aggregations keyed by
    * (id, word) then id; candidate scoring is a corpus scan against the
    * BROADCAST query signatures with `WindowGroupLimit` pruning the
    * per-query top-`rerank` before any sort; the exact rerank touches
    * only `Q × rerank` rows, joined back to the quantized corpus on a
    * hash-partitioned id join. No all-pairs exact work anywhere. */
  def binaryTopK(queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int = 5, rerank: Int = 20): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    val c0 = corpus.select(col(corpusId).as("corpus_id"),
      V.quantize6(col(corpusVec)).as("cq"))
    val el = c0.select(col("corpus_id"),
      posexplode(col("cq")).as(Seq("i", "x")))
    // Per-dimension mean threshold, held exactly: bit = (x·n ≥ Σx) in
    // DECIMAL(38,0) — the comparison every engine reproduces bit-for-bit
    // because the mean is never materialized as a rounded quotient.
    val dims = el.groupBy(col("i")).agg(
      sum(col("x").cast(DecimalType(38, 0))).as("s"),
      count(lit(1)).cast(DecimalType(38, 0)).as("n"))
    def packed(side: DataFrame, id: String): DataFrame =
      side.join(broadcast(dims), Seq("i"))
        .withColumn("bit",
          when(col("x").cast(DecimalType(38, 0)) * col("n") >= col("s"),
            lit(1L)).otherwise(lit(0L)))
        .withColumn("w", expr("i div 64"))
        .groupBy(col(id), col("w"))
        .agg(sum(expr("shiftleft(bit, CAST(i % 64 AS INT))")).as("word"))
        .groupBy(col(id))
        .agg(transform(array_sort(collect_list(struct(col("w"), col("word")))),
          s => s.getField("word")).as("sig"))
    val q0 = queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .withColumn("qnorm", V.normQ12(col("qq")))
    val qel = q0.select(col("query_id"),
      posexplode(col("qq")).as(Seq("i", "x")))
    val qsig = packed(qel, "query_id").withColumnRenamed("sig", "qsig")
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("corpus_id"))
    val cand = packed(el, "corpus_id").crossJoin(broadcast(qsig))
      .withColumn("ham", V.hammingWords(col("sig"), col("qsig")))
      .withColumn("crank", row_number().over(wHam))
      .filter(col("crank") <= rerank)
      .select("query_id", "corpus_id")
    val cn = c0.withColumn("cnorm", V.normQ12(col("cq")))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    cand.join(cn, Seq("corpus_id"))
      .join(broadcast(q0), Seq("query_id"))
      .withColumn("score",
        V.dotQ12(col("qq"), col("cq")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(wK).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** MATRYOSHKA (truncated-dimension) ANN — the retrieval pattern MRL
    * embeddings (Kusupati et al. 2022) are trained for: the first
    * `prefixDims` coordinates carry most of the signal, so candidate
    * generation scores ONLY the prefix (a `prefixDims/d` fraction of
    * the dot-product work and of the bytes a cache line moves), and the
    * full-dimension exact cosine re-scores just the top-`rerank`
    * survivors per query. Both stages are the same exact quantized
    * arithmetic as [[bruteForceTopK]] — scale-6 longs, `dot_q12`
    * kernels, ties on `corpus_id` — so the result is engine- and
    * partitioning-reproducible, and the final scores are TRUE full-dim
    * scores, not prefix proxies.
    *
    * Scale shape: prefixes are sliced once per row before any join
    * (never per pair); the prefix scan ranks against BROADCAST query
    * prefixes with `WindowGroupLimit` pruning to `rerank` per query
    * before any sort; the full-dim rerank touches `Q × rerank` rows
    * via a hash join on `corpus_id`. The full-width vectors of the
    * corpus are read once in the scan and never shuffled. */
  def matryoshkaTopK(queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int = 5, prefixDims: Int = 16, rerank: Int = 20): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    val c0 = corpus.select(col(corpusId).as("corpus_id"),
        V.quantize6(col(corpusVec)).as("cq"))
      .withColumn("cp", slice(col("cq"), 1, prefixDims))
    val q0 = queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .withColumn("qp", slice(col("qq"), 1, prefixDims))
      .withColumn("qnorm", V.normQ12(col("qq")))
      .withColumn("qpnorm", V.normQ12(col("qp")))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pre_score").desc, col("corpus_id"))
    val cand = c0
      .withColumn("cpnorm", V.normQ12(col("cp")))
      .crossJoin(broadcast(q0.select("query_id", "qp", "qpnorm")))
      .withColumn("pre_score",
        V.dotQ12(col("qp"), col("cp")) / (col("qpnorm") * col("cpnorm")))
      .withColumn("crank", row_number().over(wPre))
      .filter(col("crank") <= rerank)
      .select("query_id", "corpus_id")
    val cn = c0.select(col("corpus_id"), col("cq"))
      .withColumn("cnorm", V.normQ12(col("cq")))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    cand.join(cn, Seq("corpus_id"))
      .join(broadcast(q0.select("query_id", "qq", "qnorm")), Seq("query_id"))
      .withColumn("score",
        V.dotQ12(col("qq"), col("cq")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(wK).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }

  /** RECALL@K EVALUATION — the harness that prices every approximate
    * index against exact ground truth: for each query, the fraction of
    * the true (exact-scoring) top-k that the approximate top-k
    * recovered. This is how `nprobe`/`planes`/`rerank` knobs are tuned
    * before a 10¹⁰-vector index ships — recall is measured on a query
    * sample, never assumed. Both inputs are any of this family's top-k
    * frames (`query_id`, `corpus_id`, `rank`); queries with zero
    * overlap still appear (hits = 0). `recall` is one double division
    * of two exact longs.
    *
    * Scale shape: both sides are already bounded at `Q × k` rows, so
    * the intersection semi-join and the per-query count are trivial at
    * any corpus scale — the cost lives in the two retrieval arms being
    * evaluated, not here. */
  /** NPROBE RECALL/COST SWEEP — the audit that pins the IVF
    * recall-vs-candidates frontier: for each `nprobe` in the sweep,
    * one row with the exact candidate count the probe pays and the
    * exact recall@k it buys against brute-force ground truth. The
    * operating question every deployed IVF index answers empirically —
    * "how many cells must I probe for the recall I need" — becomes a
    * pinned, oracle-checkable table instead of a prose claim.
    *
    * Exactness: ground truth and candidate scoring are the exact
    * quantized dot ladder; `recall_ppm` is the integer
    * `(hits·10⁶) div (k·queries)` — every column BIGINT-exact.
    *
    * Scale shape: the index builds once and the centroid ranking runs
    * once per query (the sweep points FILTER the ranked probe list
    * deeper, never re-rank); each sweep point scores only its probed
    * cells' members (broadcast probe set — the query side is an
    * audit-sized sample, not the corpus). The brute ground-truth pass
    * is the audit's point (recall needs truth) and is bounded by the
    * same sample. */
  def ivfRecallSweep(queries: DataFrame, queryId: String,
      queryVec: String, corpus: DataFrame, corpusId: String,
      corpusVec: String, k: Int, numCentroids: Int = 16,
      refineRounds: Int = 1,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty, "ivfRecallSweep: empty sweep")
    registered(queries)
    // the sweep's branches share the cell table, the ground truth, and
    // the ranked probe list — cache each once, release after the
    // (tiny, one row per sweep point) result materializes eagerly
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    val idx0 = buildIvfIndex(corpus, corpusId, corpusVec, numCentroids,
      refineRounds)
    val idx = IvfIndex(idx0.centroids, mat(idx0.cells))
    // leave-one-out on BOTH arms: for corpus-member queries a self
    // match would occupy a guaranteed slot in truth and candidates,
    // inflating recall@k by up to 1/k (the sibling self-kNN audits
    // exclude self; the sweep now matches their convention)
    val exact = mat(bruteForceTopK(queries, queryId, queryVec,
        corpus, corpusId, corpusVec, k, excludeSelf = true)
      .select(col("query_id"), col("corpus_id")))
    val pAll = mat(queries.select(col(queryId).as("query_id"),
        V.quantize6(col(queryVec)).as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .select(col("query_id"), col("qq"), col("cent_id"), col("prank")))
    // ONE pass for the whole sweep: the candidate sets are nested in
    // nprobe, so each scored candidate explodes to exactly the sweep
    // points that admit its probe rank, and a single (np, query)
    // window ranks every sweep point at once — 4 union branches would
    // cost 4× the stages for the same arithmetic
    val maxNp = nprobes.max
    val cand = mat(idx.cells
      .join(broadcast(pAll.filter(col("prank") <= maxNp)), Seq("cent_id"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("np", explode(filter(
        array(nprobes.sorted.map(n => lit(n.toLong)): _*),
        n => n >= col("prank"))))
      .withColumn("score", V.dotQ12(col("qq"), col("cq"))))
    val w = Window.partitionBy(col("np"), col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    val hits = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(exact, Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("np")).agg(count(lit(1)).as("n_hits"))
    val costs = cand.groupBy(col("np"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_candidates"))
    try Lifetime.seal(costs.join(hits, Seq("np"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("np").as("nprobe"), col("n_queries"),
        col("n_candidates"), col("n_hits"),
        expr(s"(n_hits * 1000000L) div (${k}L * n_queries)")
          .as("recall_ppm"))
      .orderBy(col("nprobe")))
    finally cached.foreach(_.unpersist())
  }

  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("query_id"), col("corpus_id"))
    val hits = a
      .join(exact.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    a.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall", col("hits").cast(DoubleType) / k)
  }

  /** lcm(1..k) — the common denominator that makes every reciprocal
    * rank 1/r (r ≤ k) an exact integer `lcm/r`. */
  private def lcmTo(k: Int): Long = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long =
      if (b == 0) a else gcd(b, a % b)
    (1 to k).foldLeft(1L)((l, i) => l / gcd(l, i) * i)
  }

  /** MRR@K EVALUATION — the rank-position twin of [[recallAtK]]: where
    * recall asks "did the index FIND the true neighbors", MRR asks
    * "how HIGH did it place the one that matters". `truth` is any
    * top-k frame whose rank-1 row per query is the gold answer (e.g.
    * exact cosine top-1, excluding self); `approx` is the system's
    * ranked list. Mean reciprocal rank is the classic retrieval-eval
    * statistic: 1/rank of the gold answer, 0 if absent from the top k,
    * averaged over queries.
    *
    * Exactness: 1/r is not a representable double for most r, so the
    * sum folds as the INTEGER `lcm(1..k)/r` (exact — every r ≤ k
    * divides the lcm) and only the final mean is ONE double division
    * of two exactly-representable integers. `k ≤ 20` keeps
    * `n_queries · lcm` under 2⁵³ up to ~3.8·10⁷ queries.
    *
    * Scale shape: both inputs are already bounded at Q × k rows; the
    * gold join and the global fold are trivial at any corpus scale —
    * cost lives in the retrieval arms being evaluated, not here. */
  def mrrEval(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 20, s"k=$k outside [1, 20]")
    val scale = lcmTo(k)
    val gold = truth.filter(col("rank") === 1)
      .select(col("query_id"), col("corpus_id"))
    val sys = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank").as("sys_rank"))
    gold.join(sys, Seq("query_id", "corpus_id"), "left")
      .select(coalesce(col("sys_rank"), lit(0L)).as("sys_rank"))
      .agg(
        count(lit(1)).as("n_queries"),
        coalesce(sum(when(col("sys_rank") > 0, 1L).otherwise(0L)), lit(0L))
          .as("n_hits"),
        coalesce(sum(when(col("sys_rank") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_hits_at_1"),
        // exact integer reciprocal ranks: lcm(1..k) div r, r | lcm
        coalesce(sum(when(col("sys_rank") > 0,
          expr(s"CAST($scale AS BIGINT) div sys_rank")).otherwise(0L)),
          lit(0L)).as("rr_scaled_sum"))
      .withColumn("mrr", col("rr_scaled_sum").cast(DoubleType) /
        (col("n_queries") * lit(scale)).cast(DoubleType))
  }

  /** Integer DCG position weights for ranks 1..10: `round(10⁹ /
    * log₂(rank+1))`. Hardcoded (not computed) so engine and oracle
    * share the SAME integer constants — the only irrational in nDCG
    * is frozen into literals and everything downstream is BIGINT. */
  private val NdcgWeightsPpb: Seq[Long] = Seq(
    1000000000L, 630929754L, 500000000L, 430676558L, 386852807L,
    356207187L, 333333333L, 315464877L, 301029996L, 289064826L)

  /** NDCG@K EVALUATION — the graded third leg of the retrieval-eval
    * triad ([[recallAtK]]: did it find them; [[mrrEval]]: how high is
    * the single gold answer; nDCG: how well is the WHOLE graded list
    * ordered). `truth` is the exact top-k frame (`query_id, corpus_id,
    * rank`); its rank grades relevance linearly, `rel = k+1−rank`, so
    * the true #1 neighbor is worth k and the k-th is worth 1. `approx`
    * is the system's ranked list; each of its rows earns
    * `rel × w(rank)` where `w` is the integer position-discount table
    * [[NdcgWeightsPpb]] (≈10⁹/log₂(rank+1), the classic DCG discount
    * frozen to BIGINT literals shared with the oracle).
    *
    * Exactness: per query, `dcg_scaled` and the ideal `idcg_scaled`
    * (the truth list scored against itself, i.e. rel sorted descending)
    * are pure BIGINT sums of products ≤ k·10¹⁰ — far under 2⁶³ — and
    * `ndcg` is ONE double division of two exact longs per row. No
    * floating log, no mean-of-doubles fold.
    *
    * Scale shape: both inputs are already bounded at Q × k rows; one
    * equi-join and two k-row-per-query aggregations — cost lives in
    * the retrieval arms being evaluated, not here. Queries the system
    * returned nothing for still appear (dcg 0, ndcg 0). */
  def ndcgEval(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= NdcgWeightsPpb.size,
      s"k=$k outside [1, ${NdcgWeightsPpb.size}]")
    val w = array(NdcgWeightsPpb.take(k).map(lit): _*)
    val rel = truth.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
        (lit(k + 1L) - col("rank")).as("rel"),
        col("rank").as("truth_rank"))
    // ideal ordering = the truth list itself (rel is monotone in rank)
    val idcg = rel.groupBy(col("query_id")).agg(
      sum(col("rel") * element_at(w, col("truth_rank").cast(IntegerType)))
        .as("idcg_scaled"))
    val dcg = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
        element_at(w, col("rank").cast(IntegerType)).as("wt"))
      .join(rel.select("query_id", "corpus_id", "rel"),
        Seq("query_id", "corpus_id"))
      .groupBy(col("query_id"))
      .agg(sum(col("rel") * col("wt")).as("dcg_scaled"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        col("idcg_scaled"),
        (coalesce(col("dcg_scaled"), lit(0L)).cast(DoubleType) /
          col("idcg_scaled").cast(DoubleType)).as("ndcg"))
  }

  /** FIXED-RADIUS NEIGHBOR COUNTS — the range-search complement to the
    * top-k family: instead of "the k nearest", "how many fall within
    * r" — the density/outlier statistic (DBSCAN's core-point count,
    * duplicate-cluster mass) a curation pipeline reads before picking
    * thresholds. Runs on the first two quantized dimensions of the
    * embedding (a 2D projection: cheap, index-free density probe).
    *
    * Scale shape — the classic FIXED-GRID radius join: every point is
    * keyed to its ⌊coord/r⌋ cell (floor via the pmod identity — coords
    * go negative), one side is replicated into its 3×3 cell
    * neighborhood, and candidates meet through an EQUI-join on the
    * cell id — any pair within r is in adjacent cells, so the join is
    * lossless and nothing ever goes all-pairs. Cost is bounded by
    * per-cell occupancy (9 cells scanned per point); a pathologically
    * hot cell is an AQE-skew/salting case, not a plan change. Ordered
    * pair (a, b) meets exactly once — via a's replica in b's home
    * cell — so the per-point count needs no dedup. All arithmetic is
    * BIGINT micro-units (squared distances ≤ 8·10¹² at r ≤ 10⁶);
    * global top-k by (count desc, id) via TakeOrderedAndProject. */
  def radiusNeighborCounts(df: DataFrame, idCol: String, vecCol: String,
      rMicro: Long = 20000L, topK: Int = 20): DataFrame = {
    require(rMicro >= 1L && rMicro <= 1000000L, s"rMicro=$rMicro")
    registered(df)
    val m = rMicro
    val pts = df
      .select(col(idCol).cast(LongType).as("id"),
        V.quantize6(col(vecCol)).as("q"))
      .select(col("id"), element_at(col("q"), 1).as("qx"),
        element_at(col("q"), 2).as("qy"))
      .withColumn("cx", expr(s"(qx - pmod(qx, ${m}L)) div ${m}L"))
      .withColumn("cy", expr(s"(qy - pmod(qy, ${m}L)) div ${m}L"))
    val deltas = array(lit(-1L), lit(0L), lit(1L))
    val repl = pts.select(col("id").as("id_a"), col("qx").as("xa"),
        col("qy").as("ya"), col("cx").as("cx0"), col("cy").as("cy0"))
      .withColumn("dx", explode(deltas))
      .withColumn("dy", explode(deltas))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx0") + col("dx")).as("cx"),
        (col("cy0") + col("dy")).as("cy"))
    val home = pts.select(col("id").as("id_b"), col("qx").as("xb"),
      col("qy").as("yb"), col("cx"), col("cy"))
    repl.join(home, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(m * m))
      .groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("n_neighbors"))
      .orderBy(col("n_neighbors").desc, col("vec_id"))
      .limit(topK)
  }

  /** IVF-PQ — the two bounds composed, the shape a production
    * 10¹⁰-vector index actually runs: the IVF coarse quantizer bounds
    * WHICH vectors are scored (`nprobe` cells per query) and PQ bounds
    * what each candidate COSTS (M table lookups on a one-byte-per-
    * subspace code row instead of a d-float dot). This is the
    * non-residual IVFADC simplification by default: codes quantize the
    * vectors themselves. With `residual = true` it is FULL IVFADC:
    * codes quantize each vector's RESIDUAL against its cell centroid
    * (`r_v = vq − c_v`, an exact integer subtraction on the unscaled
    * quantized vectors), the codebook samples seed residuals, and
    * scores decompose exactly as `q·v ≈ q·c_v + q·code(r_v)` — the
    * `q·c_v` base term is one exact per-(query, probed-cell) dot and
    * the residual part is the same M table lookups. Residuals are
    * centered near zero, which is why real IVFADC codes them: the same
    * code budget spends on the fine structure the centroid already
    * explained away (measured recall@5 on the bench corpus: 0.24 plain
    * → 0.28 residual at the identical 4×16 code budget; uncompressed
    * IVF at the same nprobe: 0.50 — the residual share of the gap that
    * 4 one-byte codes can close).
    *
    * Scale shape (both variants): centroids and per-query ADC tables
    * broadcast; the candidate set is the `nprobe/K` corpus fraction,
    * joined to the code table on `corpus_id` (co-partitioned hash join,
    * the one big shuffle) and scored map-side; top-k per query off the
    * bounded candidate scores. The residual variant adds one broadcast
    * join on `(query_id, cent_id)` for the base term — `Q × nprobe`
    * rows. */
  def ivfPqTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, numCentroids: Int = 16, refineRounds: Int = 1, nprobe: Int = 2,
      numSubspaces: Int = 4, numCodes: Int = 16,
      residual: Boolean = false): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    val m = numSubspaces
    val idx = buildIvfIndex(corpus, corpusId, corpusVec, numCentroids,
      refineRounds)
    val probes = queries
      .select(col(queryId).as("query_id"), V.quantize6(col(queryVec)).as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("cent_id"))
    if (!residual) {
      val cb = pqCodebook(corpus, corpusId, corpusVec, m, numCodes)
      val enc = pqEncode(corpus, corpusId, corpusVec, cb, m)
      val cand = idx.cells.select(col("corpus_id"), col("cent_id"))
        .join(broadcast(probes), Seq("cent_id"))
        .select("query_id", "corpus_id").distinct()
      val tabs = pqTabs(queries, queryId, queryVec, cb, m)
      pqTopKWindow(cand.join(enc, Seq("corpus_id"))
        .join(broadcast(tabs), Seq("query_id"))
        .withColumn("score", pqAdcScore(m)), k)
    } else {
      // residuals: exact integer subtraction against the OWN cell's
      // centroid (cells carry the quantized vector; centroids broadcast)
      val resQ = idx.cells
        .join(broadcast(idx.centroids.select(col("cent_id"), col("centq"))),
          Seq("cent_id"))
        .select(col("corpus_id"), col("cent_id"),
          zip_with(col("cq"), col("centq"), (x, y) => x - y).as("cq"))
      // resQ feeds codebook sampling AND encoding, cb the encoding AND
      // the query tables: one plan, through reused exchanges
      val cb = pqCodebookQ(resQ.select(col("corpus_id"), col("cq")),
        m, numCodes)
      val enc = pqEncodeQ(resQ.select(col("corpus_id"), col("cq")), cb, m)
        .join(resQ.select(col("corpus_id"), col("cent_id")), Seq("corpus_id"))
      // base term: exact q · centroid per (query, probed cell), as the
      // same unscaled scale-12 long the lookups use
      val qbase = queries
        .select(col(queryId).as("query_id"),
          V.quantize6(col(queryVec)).as("qq"))
        .join(broadcast(probes), Seq("query_id"))
        .join(broadcast(idx.centroids.select(col("cent_id"), col("centq"))),
          Seq("cent_id"))
        .withColumn("base_u", aggregate(
          zip_with(col("qq"), col("centq"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x))
        .select("query_id", "cent_id", "base_u")
      val cand = idx.cells.select(col("corpus_id"), col("cent_id"))
        .join(broadcast(probes), Seq("cent_id"))
        .select("query_id", "corpus_id")
      val tabs = pqTabs(queries, queryId, queryVec, cb, m)
      pqTopKWindow(cand.join(enc, Seq("corpus_id"))
        .join(broadcast(tabs), Seq("query_id"))
        .join(broadcast(qbase), Seq("query_id", "cent_id"))
        .withColumn("score", pqRescale(col("base_u") + pqLookupU(m))), k)
    }
  }

  /** IVFADC+R — ADC shortlist, exact rerank (Jégou et al., "Searching
    * with quantization": re-rank the `rerank ≥ k` ADC survivors with
    * exact distances to recover the recall that code quantization costs
    * at the top-k boundary). The deployed shape everywhere a corpus
    * keeps its original vectors alongside the code index: the ADC pass
    * bounds WHICH `Q × rerank` vectors are ever read at full width, so
    * the expensive exact scoring touches a vanishing corpus fraction.
    *
    * Scale shape: the shortlist is `Q × rerank` id pairs (bounded by the
    * query batch, never by the corpus) joined into ONE pruned corpus
    * scan that re-reads only shortlisted vectors; exact scores are the
    * same dot_q12 integer kernel as [[bruteForceTopK]], so rerank ≡
    * brute force wherever the shortlist contains the true top-k. */
  def ivfPqTopKRerank(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, rerank: Int, numCentroids: Int = 16, refineRounds: Int = 1,
      nprobe: Int = 2, numSubspaces: Int = 4, numCodes: Int = 16,
      residual: Boolean = true): DataFrame = {
    require(rerank >= k, "rerank shortlist must be at least k")
    exactRerank(
      ivfPqTopK(queries, queryId, queryVec, corpus, corpusId, corpusVec,
        k = rerank, numCentroids, refineRounds, nprobe, numSubspaces,
        numCodes, residual),
      queries, queryId, queryVec, corpus, corpusId, corpusVec, k)
  }

  /** The rerank tail shared by the one-shot and persisted-index paths:
    * route the `Q × rerank` shortlist ids into one pruned corpus scan,
    * score the survivors with the exact dot_q12 kernel, cut to top-k.
    * Both joins are unhinted: both inputs grow linearly in |Q|, so AQE
    * broadcasts them for a serving-sized query batch (kilobytes) and
    * shuffles on corpus_id / query_id for a large one. */
  private def exactRerank(shortlist: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int): DataFrame = {
    val ids = shortlist.select(col("query_id"), col("corpus_id"))
    val cq = corpus.select(col(corpusId).as("corpus_id"),
      V.quantize6(col(corpusVec)).as("cv"))
    val qq = queries.select(col(queryId).as("query_id"),
      V.quantize6(col(queryVec)).as("qv"))
    pqTopKWindow(
      cq.join(ids, Seq("corpus_id"))
        .join(qq, Seq("query_id"))
        .withColumn("score", V.dotQ12(col("qv"), col("cv"))), k)
  }

  /** Build a PQ index and persist it under `dir` (`codebook/`, `codes/`,
    * `params/`): one ordered-prefix scan selects the codebook, one more
    * encodes every vector against the WRITTEN codebook — the same
    * build-once/probe-many amortization as [[writeLshIndex]] /
    * [[writeIvfIndex]], at one M-byte code row per vector. */
  def writePqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      dir: String, numSubspaces: Int = 4, numCodes: Int = 16): PqIndex = {
    registered(corpus)
    val spark = corpus.sparkSession
    pqCodebook(corpus, corpusId, corpusVec, numSubspaces, numCodes)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/codebook")
    pqEncode(corpus, corpusId, corpusVec,
        spark.read.parquet(s"$dir/codebook"), numSubspaces)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/codes")
    import spark.implicits._
    Seq((numSubspaces, numCodes)).toDF("num_subspaces", "num_codes")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/params")
    readPqIndex(spark, dir)
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex = {
    val p = spark.read.parquet(s"$dir/params").collect().head
    PqIndex(spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"), p.getAs[Int]("num_subspaces"))
  }

  /** Incrementally index a NEW batch into a persisted PQ index: the
    * batch is encoded against the index's FROZEN codebook (the PQ
    * quantizer is trained once per index generation, standard
    * practice) and appended to `codes/` — O(batch·K·M), no scan of the
    * already-indexed corpus. `append(build(prefix), rest)` is
    * bit-identical to `build(prefix ∪ rest)` exactly when both builds
    * would sample the same codebook — every seed inside the prefix —
    * spec-proven, like [[appendToIvfIndex]]. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      newBatch: DataFrame, batchId: String, batchVec: String): PqIndex = {
    registered(newBatch)
    // Read ONLY params + codebook — the already-written code table is
    // neither needed nor touched by the append (spec-proven).
    val p = spark.read.parquet(s"$dir/params").collect().head
    pqEncode(newBatch, batchId, batchVec,
        spark.read.parquet(s"$dir/codebook"), p.getAs[Int]("num_subspaces"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$dir/codes")
    readPqIndex(spark, dir)
  }

  /** Probe a PQ index: build the ADC tables against the persisted
    * codebook, score ONLY the code table — on a [[writePqIndex]] index
    * the corpus parquet is never rescanned.
    *
    * Replay tolerance: an [[appendToPqIndex]] re-run after a crash
    * between its codes write and the caller's commit marker can leave
    * duplicate (bit-identical) code rows; `dropDuplicates(corpus_id)`
    * makes the probe blind to them — same discipline as LSH probes
    * deduping candidates. The flat probe already shuffles every scored
    * row into the per-query window, so the dedup adds one aggregation
    * of the same width, not a new asymptotic cost. */
  def probePq(index: PqIndex, queries: DataFrame, queryId: String,
      queryVec: String, k: Int): DataFrame = {
    registered(queries)
    pqScore(index.codes.dropDuplicates("corpus_id"),
      pqTabs(queries, queryId, queryVec, index.codebook,
        index.numSubspaces),
      index.numSubspaces, k)
  }

  /** Persisted IVF-PQ (residual) index: `centroids/`, `codebook/`
    * (residual codes), `codes/` (corpus_id, cent_id, M code ids),
    * `params/` — the deployable IVFADC layout: the corpus is stored as
    * one M-byte code row + cell id per vector. */
  case class IvfPqIndex(centroids: DataFrame, codebook: DataFrame,
    codes: DataFrame, numSubspaces: Int)

  /** Residualize an assignment table against its own cell centroids:
    * exact integer subtraction on the unscaled quantized vectors. */
  private def residualsOf(cells: DataFrame, cent: DataFrame): DataFrame =
    cells
      .join(broadcast(cent.select(col("cent_id"), col("centq"))),
        Seq("cent_id"))
      .select(col("corpus_id"), col("cent_id"),
        zip_with(col("cq"), col("centq"), (x, y) => x - y).as("cq"))

  /** Build a residual IVF-PQ index and persist it under `dir`: refined
    * centroids, residual codebook, and the encoded code table — the
    * [[ivfPqTopK]] `residual = true` computation with every stage
    * written once and probed many times. */
  def writeIvfPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      dir: String, numCentroids: Int = 16, refineRounds: Int = 0,
      numSubspaces: Int = 4, numCodes: Int = 16): IvfPqIndex = {
    registered(corpus)
    val spark = corpus.sparkSession
    val seed = ivfCentroids(corpus, corpusId, corpusVec,
      resolveCentroids(corpus, numCentroids))
    (1 to refineRounds).foldLeft(seed) { (c, _) =>
        ivfRefine(corpus, corpusId, corpusVec, c)
      }
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/centroids")
    val cent = spark.read.parquet(s"$dir/centroids")
    // feeds the codebook write AND the codes write — two jobs, so cached
    // for both and released after
    val resQ = residualsOf(
        ivfCells(corpus, corpusId, corpusVec, cent), cent)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      pqCodebookQ(resQ.select(col("corpus_id"), col("cq")),
          numSubspaces, numCodes)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/codebook")
      pqEncodeQ(resQ.select(col("corpus_id"), col("cq")),
          spark.read.parquet(s"$dir/codebook"), numSubspaces)
        .join(resQ.select(col("corpus_id"), col("cent_id")), Seq("corpus_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/codes")
    } finally resQ.unpersist()
    import spark.implicits._
    Seq((numSubspaces, numCodes)).toDF("num_subspaces", "num_codes")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/params")
    readIvfPqIndex(spark, dir)
  }

  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    val p = spark.read.parquet(s"$dir/params").collect().head
    IvfPqIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"), p.getAs[Int]("num_subspaces"))
  }

  /** Incrementally index a NEW batch: assign against the FROZEN
    * centroids, residualize, encode against the FROZEN codebook, append
    * to `codes/` — O(batch·(K + codes·M)), reads only params/centroids/
    * codebook, never the existing code table. Bit-identical to a full
    * rebuild exactly when both builds would freeze the same centroids
    * and codebook (every IVF and PQ seed inside the prefix,
    * `refineRounds = 0`) — the [[appendToIvfIndex]] contract applied to
    * both quantizers. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newBatch: DataFrame, batchId: String,
      batchVec: String): IvfPqIndex = {
    registered(newBatch)
    val p = spark.read.parquet(s"$dir/params").collect().head
    val cent = spark.read.parquet(s"$dir/centroids")
    val resQ = residualsOf(
      ivfCells(newBatch, batchId, batchVec, cent), cent)
    pqEncodeQ(resQ.select(col("corpus_id"), col("cq")),
        spark.read.parquet(s"$dir/codebook"),
        p.getAs[Int]("num_subspaces"))
      .join(resQ.select(col("corpus_id"), col("cent_id")), Seq("corpus_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$dir/codes")
    readIvfPqIndex(spark, dir)
  }

  /** Probe an IVF-PQ index: rank the broadcast centroids per query,
    * keep `nprobe` cells, score ONLY those cells' code rows by
    * q·centroid + ADC lookups — on a [[writeIvfPqIndex]] index the
    * corpus parquet is never rescanned and no full vector is ever
    * read.
    *
    * Replay tolerance: a replayed [[appendToIvfPqIndex]] can leave
    * duplicate (bit-identical) code rows; candidates dedup on
    * `(query_id, corpus_id)` AFTER the probed-cell join — bounded by the
    * nprobe candidate set, never a shuffle of the whole code table. */
  def probeIvfPq(index: IvfPqIndex, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, nprobe: Int = 2): DataFrame = {
    registered(queries)
    val m = index.numSubspaces
    val qc = queries
      .select(col(queryId).as("query_id"), V.quantize6(col(queryVec)).as("qq"))
      .withColumn("q_s2", V.dotQ12(col("qq"), col("qq")))
      .crossJoin(broadcast(index.centroids))
      .withColumn("d2", ivfD2(col("qq"), col("q_s2")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
      .withColumn("base_u", aggregate(
        zip_with(col("qq"), col("centq"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
      .select(col("query_id"), col("cent_id"), col("base_u"))
    val tabs = pqTabs(queries, queryId, queryVec, index.codebook, m)
    pqTopKWindow(index.codes
      .join(broadcast(qc), Seq("cent_id"))
      .dropDuplicates("query_id", "corpus_id")
      .join(broadcast(tabs), Seq("query_id"))
      .withColumn("score", pqRescale(col("base_u") + pqLookupU(m))), k)
  }

  /** IVFADC+R over a PERSISTED index: the [[probeIvfPq]] ADC shortlist
    * reranked with exact dot products against the corpus's ORIGINAL
    * vectors — the deployed layout keeps the raw-vector table beside the
    * code index precisely for this step (the codes answer cheap, the
    * vectors answer exactly; only `Q × rerank` of them are ever read at
    * full width). The index never stores vectors; pass the same corpus
    * frame the index was built from (or any table holding those ids and
    * vectors). */
  def probeIvfPqRerank(index: IvfPqIndex, queries: DataFrame,
      queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      k: Int, rerank: Int, nprobe: Int = 2): DataFrame = {
    require(rerank >= k, "rerank shortlist must be at least k")
    registered(corpus)
    exactRerank(
      probeIvfPq(index, queries, queryId, queryVec, k = rerank, nprobe),
      queries, queryId, queryVec, corpus, corpusId, corpusVec, k)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`: LSH bucketing
    * generates candidates (pairs must collide in ≥1 table), exact
    * quantized-decimal cosine verifies — like [[lshTopK]], fully
    * deterministic and oracle-reproducible. Norms computed once per id,
    * not per pair. `id_a < id_b`, distinct. */
  def cosineNearDuplicates(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, tables: Int = 4): DataFrame = {
    val b = withBuckets(df, idCol, vecCol, "x", planes, tables)
      .select(col("x_id"), col("table"), col("bucket"))
    // candidate id pairs via in-bucket explosion (no self-join — a join
    // would recompute the signature pipeline per side); quantized vectors
    // + norms joined back once per pair
    registered(df)
    val side = df.select(col(idCol).as("id"),
        V.quantize6(col(vecCol)).as("qv"))
      .withColumn("nrm", V.normQ12(col("qv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (pairs, rows) = Dedup.pairsFromBuckets(b, "x_id", Seq("table", "bucket"))
    val result = pairs
      .join(side.select(col("id").as("id_a"), col("qv").as("qa"),
        col("nrm").as("norm_a")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("qv").as("qb"),
        col("nrm").as("norm_b")), Seq("id_b"))
      .withColumn("cosine",
        V.dotQ12(col("qa"), col("qb")) / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    // Eagerly materialize the (small) pair set, then release the bucket
    // rows and the cached vector+norm side so repeated calls don't
    // accumulate blocks.
    try Lifetime.seal(result) finally { rows.unpersist(); side.unpersist() }
  }

  /** SEMANTIC near-duplicate pairs, SemDeDup-style: cluster the embedding
    * corpus with the (optionally Lloyd-refined) IVF coarse quantizer,
    * recursively SPLIT every over-full cell (hierarchical k-means), then
    * verify exact cosine only WITHIN each leaf cell. Complements
    * [[cosineNearDuplicates]]: hyperplane buckets are many, small, and
    * overlap-driven (good for tight duplicate thresholds); k-means cells
    * follow the corpus's own density, which is the published recipe for
    * SEMANTIC redundancy — same content re-expressed, not byte-near
    * copies — where pairs sit further apart in cosine and still belong
    * together. Output `(id_a, id_b, cosine)` feeds the standard
    * [[Dedup.connectedComponents]] → [[Dedup.applyComponentDedup]] chain.
    *
    * Scale shape: a k-means cell holds ~n/K members BY CONSTRUCTION, so
    * unlike a hot LSH bucket an over-full cell is the EXPECTED state at
    * scale, not an anomaly — dropping it (the pre-round-6 behavior)
    * silently returns zero pairs for any corpus beyond K·maxCell
    * vectors. Instead, each over-full cell is re-clustered among ITS OWN
    * members with the same md5-seeded quantizer (`splitFanout` seeds =
    * the members with the smallest `md5_60(id)`, exact quantized-L2
    * assignment, id tiebreaks) and the split recurses until every leaf
    * holds ≤ `maxCell` members — the hierarchical-k-means shape of the
    * published SemDeDup recipe. Each level is ONE pass over only the
    * still-over-full rows: seed selection is a salted two-phase top-N
    * (bounded partitions, no full-cell sort in one task) and assignment
    * is a SHUFFLE join keyed on the cell id — never a broadcast of a
    * corpus-proportional centroid table, so no K ceiling. Cells still
    * over-full at `maxDepth` are degenerate (≥ maxCell members that
    * md5-uniform seeding cannot separate — e.g. one vector duplicated
    * beyond maxCell, which is exact-dedup's job, not semantic dedup's)
    * and are dropped like hot LSH buckets, via the same
    * [[Dedup.pairsFromBuckets]] bound. Every stage is deterministic
    * (md5-seeded centroids at every level, integer-exact means, id
    * tiebreaks) → full DuckDB oracle. */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, refineRounds: Int = 1,
      maxCell: Int = 2000, splitFanout: Int = 16, maxDepth: Int = 8): DataFrame = {
    registered(df)
    val (leaves, levels) = hierarchicalCellsTracked(df, idCol, vecCol,
      numCentroids, refineRounds, maxCell, splitFanout, maxDepth)
    val side = leaves.select(col("corpus_id").as("id"), col("cq"))
      .withColumn("nrm", V.normQ12(col("cq")))
    val (pairs, rows) = Dedup
      .pairsFromBuckets(leaves, "corpus_id", Seq("cell"), maxCell)
    val result = pairs
      .join(side.select(col("id").as("id_a"), col("cq").as("qa"),
        col("nrm").as("norm_a")), Seq("id_a"))
      .join(side.select(col("id").as("id_b"), col("cq").as("qb"),
        col("nrm").as("norm_b")), Seq("id_b"))
      .withColumn("cosine",
        V.dotQ12(col("qa"), col("qb")) / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    // Seal the verified pairs, then free every per-level assignment
    // checkpoint of the hierarchical split and the bucket rows — all of
    // them only fed this call.
    try Lifetime.seal(result, levels: _*) finally rows.unpersist()
  }

  /** [[semanticNearDupPairs]] composed with EXACT (identical-vector)
    * dedup upstream — the documented degenerate case made safe. A
    * vector duplicated beyond `maxCell` defeats the hierarchical split
    * (identical points cannot be separated by any quantizer; the cell
    * bottoms out at `maxDepth` and drops), but identical content is
    * exact-dedup's job, not semantic dedup's: here every class of
    * identical QUANTIZED vectors first collapses to its smallest id,
    * each member pairs with that keeper directly (`cosine = 1.0` by
    * definition of identity — linear in class size, never quadratic,
    * no collect of a class onto one row), and only the one
    * representative per class enters the semantic path. Duplicate mass
    * therefore can never bottom out a cell, and the pair union feeds
    * the same [[Dedup.connectedComponents]] →
    * [[Dedup.applyComponentDedup]] chain, which removes the whole
    * class end to end (spec: a > maxCell duplicate class fully
    * deduplicates).
    *
    * Scale shape: classes group and join on `md5` of the canonical
    * quantized-vector string — a 16-byte digest key, so the two class
    * shuffles carry digest + id instead of the full d·8-byte array
    * (at 100 TB that is the difference between shuffling the corpus'
    * ids and re-shuffling the corpus' vectors, twice). A 128-bit digest
    * over exact integer coordinates is the same merge guarantee
    * [[Dedup.exact]] gives content dedup; the quantized array itself
    * never rides a shuffle key. One aggregation + one co-partitioned
    * join on the digest, map-side partial agg collapsing duplicate
    * classes before the exchange. The corpus is scanned+quantized once
    * into a cache for the class arm, and the representative set is
    * sealed — the semantic chain behind it runs several jobs over its
    * input (seed selection, Lloyd rounds, assignment, the over-full
    * counts), and each of them must read the sealed reps, not re-run
    * the corpus semi-join. */
  def semanticNearDupPairsWithExact(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, refineRounds: Int = 1,
      maxCell: Int = 2000, splitFanout: Int = 16, maxDepth: Int = 8): DataFrame = {
    registered(df)
    // Digest of the canonical "x0,x1,…" rendering of the quantized
    // vector: exact integer coordinates, so equal vectors — and only
    // equal vectors, modulo 2⁻¹²⁸ md5 collisions — share a digest.
    val q = df.select(col(idCol).as("id"), V.quantize6(col(vecCol)).as("cq"))
      .withColumn("ck", md5(concat_ws(",",
        transform(col("cq"), _.cast(StringType))).cast(BinaryType)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val classes = q.groupBy(col("ck")).agg(min(col("id")).as("keep_id"))
      val exactPairs = q.join(classes, Seq("ck"))
        .filter(col("id") =!= col("keep_id"))
        .select(col("keep_id").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("cosine"))
      val reps = Lifetime.seal(df.join(
          classes.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi"))
      // The semantic arm seals its own result, so by the time the union
      // is sealed every consumer of reps has executed — free it and the
      // semantic result; the caller owns exactly the sealed union.
      val sem = semanticNearDupPairs(reps, idCol, vecCol, threshold,
        numCentroids, refineRounds, maxCell, splitFanout, maxDepth)
      Lifetime.seal(exactPairs.unionByName(sem), reps, sem)
    } finally q.unpersist()
  }

  /** Hierarchical cell assignment behind [[semanticNearDupPairs]]:
    * level-0 cells from the (Lloyd-refined) IVF quantizer, then
    * over-full cells split recursively until every leaf ≤ `maxCell` (or
    * `maxDepth`). Returns `(corpus_id, cell, cq, c_s2)` — one row per
    * vector, `cell` a `/`-joined centroid-id path (level-0 cell "7",
    * its children "7/123", …). Exposed `private[graft]` so specs can
    * assert leaf-size and split-equality properties directly.
    *
    * Driver work per level is one small aggregate (the over-full key
    * set); the loop runs ≤ `maxDepth` rounds, each sealed to cut
    * lineage, like [[Dedup.connectedComponents]]. Level 0 is sealed
    * too: the over-full count and the final result are two jobs that
    * would otherwise each rerun the corpus-wide IVF assignment.
    * Rows whose cell is already ≤ `maxCell` can never become over-full
    * again, so each level checkpoints and recounts ONLY the reassigned
    * rows — finished leaves accumulate outside the loop (each level's
    * slice reads its own already-checkpointed parent exactly once when
    * the result is consumed) instead of riding a full-corpus
    * checkpoint + recount every level. Non-degenerate cells shrink
    * ~`splitFanout`× per level, so `maxDepth = 8` at the default fanout
    * covers a 16⁸ ≈ 4×10⁹ reduction — enough headroom for any real
    * corpus over any broadcastable K. */
  private[graft] def hierarchicalCells(
      df: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, refineRounds: Int, maxCell: Int,
      splitFanout: Int, maxDepth: Int): DataFrame =
    hierarchicalCellsTracked(df, idCol, vecCol, numCentroids, refineRounds,
      maxCell, splitFanout, maxDepth)._1

  /** [[hierarchicalCells]] plus the per-level assignment checkpoints it
    * created. The returned frame reads those checkpoints lazily (each
    * level's finished slice anti-joins its own level's assignment), so
    * they stay alive until the CALLER's final result is materialized —
    * then the caller frees them ([[Lifetime.seal]] in
    * [[semanticNearDupPairs]]) instead of leaving them to GC. */
  private[graft] def hierarchicalCellsTracked(
      df: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, refineRounds: Int, maxCell: Int,
      splitFanout: Int, maxDepth: Int): (DataFrame, Seq[DataFrame]) = {
    require(splitFanout >= 2, s"splitFanout must be >= 2, got $splitFanout")
    // Every level is sealed and kept: the next level's finished slice
    // still reads it, so all of them stay alive until the caller's seal
    // frees them.
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def level(assignment: DataFrame): DataFrame = {
      levels += Lifetime.seal(assignment)
      levels.last
    }
    // `active` holds only rows whose leaf might still be over-full; rows
    // in a ≤ maxCell cell are final and accumulate in `finished` without
    // ever being checkpointed or recounted again.
    var active = level(
      buildIvfIndex(df, idCol, vecCol, numCentroids, refineRounds)
      .cells // (corpus_id, cent_id, cq) — quantized vector rides assignment
      .select(col("corpus_id"), col("cent_id").cast(StringType).as("cell"),
        col("cq"))
      .withColumn("c_s2", V.dotQ12(col("cq"), col("cq"))))
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var depth = 0
    var overKeys = active.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") > maxCell)
      .select(col("cell"))
    var overN = overKeys.count()
    while (overN > 0 && depth < maxDepth) {
      // Over-full keys are few relative to rows (each needs > maxCell
      // members) but corpus-proportional in the worst case: unhinted
      // joins, sized by AQE as in [[Dedup.dropHotBuckets]].
      finished += active.join(overKeys, Seq("cell"), "left_anti")
      val toSplit = active.join(overKeys, Seq("cell"), "left_semi")
        .withColumn("hk", Dedup.md5_60(col("corpus_id").cast(StringType)))
      // Seeds: the splitFanout members with the smallest (md5_60(id), id)
      // per cell — a salted two-phase top-N so no single task sorts a
      // whole over-full cell (a window partitioned by the bare cell key
      // would put ~n/K rows in one sort).
      val w1 = Window
        .partitionBy(col("cell"), pmod(col("hk"), lit(1L << 12)))
        .orderBy(col("hk"), col("corpus_id"))
      val w2 = Window.partitionBy(col("cell"))
        .orderBy(col("hk"), col("corpus_id"))
      val seeds = toSplit
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= splitFanout)
        .withColumn("rn2", row_number().over(w2))
        .filter(col("rn2") <= splitFanout)
        .select(col("cell"), col("corpus_id").as("cent_id"),
          col("cq").as("centq"), col("c_s2").as("cent_s2"))
      // Assignment: SHUFFLE join keyed on the cell id — the centroid side
      // is corpus-proportional across cells (overN × fanout rows), so a
      // broadcast here would reintroduce the K ceiling this split exists
      // to remove. Within a cell the fan-out is the constant splitFanout,
      // and min_by partial aggregation returns one row per vector.
      val reassigned = toSplit.join(seeds, Seq("cell"))
        .withColumn("d2", col("c_s2") + col("cent_s2") -
          lit(2.0) * V.dotQ12(col("cq"), col("centq")))
        .groupBy(col("corpus_id"))
        .agg(min_by(
          struct(col("cell"), col("cent_id"), col("cq"), col("c_s2")),
          struct(col("d2"), col("cent_id"))).as("m"))
        .select(col("corpus_id"),
          concat(col("m.cell"), lit("/"),
            col("m.cent_id").cast(StringType)).as("cell"),
          col("m.cq").as("cq"), col("m.c_s2").as("c_s2"))
      active = level(reassigned)
      depth += 1
      overKeys = active.groupBy(col("cell"))
        .agg(count(lit(1)).as("cell_n"))
        .filter(col("cell_n") > maxCell)
        .select(col("cell"))
      overN = overKeys.count()
    }
    // Degenerate still-over-full rows (maxDepth hit) stay in `active`,
    // preserving the pre-refactor contract: the caller's bucket bound
    // decides their fate, not this loop.
    (finished.foldLeft(active)(_ unionByName _), levels.toSeq)
  }

  /** MAXSIM LATE-INTERACTION TOP-K — multi-vector (ColBERT-style)
    * retrieval: documents and queries are BAGS of token vectors, and
    *
    *   score(q, d) = Σ_{t ∈ tokens(q)}  max_{u ∈ tokens(d)}  ⟨t, u⟩
    *
    * — each query token matches its best-aligned document token, so a
    * query phrase buried anywhere in a long document still scores, which
    * single-vector pooling dilutes away. Inputs are exploded token rows
    * `(docId, tokenId, vec)` per side.
    *
    * Plan: both sides quantize ONCE per token row (scale-6 — the scores
    * are exact scale-12 decimals, oracle-reproducible); the query token
    * bag is BROADCAST against the corpus token scan; the per-pair dot
    * feeds `max` grouped on `(query, query_token, corpus_doc)` — folded
    * MAP-SIDE, so the shuffle carries one row per (query token, matched
    * doc), not per token pair — then the token maxes sum per
    * `(query, doc)` as exact decimals, and `row_number` (planned as
    * WindowGroupLimit: per-partition top-k before the exchange) cuts to
    * `k`. At 100 TB the corpus token table streams through one scan; no
    * corpus-side state ever exceeds the aggregate widths above.
    *
    * Determinism: `max` is order-free; the scale-12 dot doubles are
    * exact multiples of 10⁻¹² (|score| ≪ 2⁴⁰), so the DECIMAL(28,12)
    * re-cast loses nothing and the sum is order-independent; ties break
    * by `corpus_id`. */
  def maxSimTopK(queries: DataFrame, queryDoc: String, queryTok: String,
      queryVec: String, corpus: DataFrame, corpusDoc: String,
      corpusVec: String, k: Int = 5): DataFrame = {
    registered(corpus)
    registered(queries) // sessions can differ (e.g. foreachBatch clones)
    val q = queries.select(col(queryDoc).as("query_id"),
      col(queryTok).as("q_tok"), V.quantize6(col(queryVec)).as("qv"))
    val c = corpus.select(col(corpusDoc).as("corpus_id"),
      V.quantize6(col(corpusVec)).as("cv"))
    c.crossJoin(broadcast(q))
      .groupBy(col("query_id"), col("q_tok"), col("corpus_id"))
      .agg(max(V.dotQ12(col("qv"), col("cv"))).as("tok_max"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("tok_max").cast(DecimalType(28, 12)))
        .cast(DoubleType).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("corpus_id"))).cast(LongType))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "score", "rank")
  }
}
