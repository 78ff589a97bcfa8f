package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph centrality — the companion to the near-dup
  * connected-components pass ([[Dedup.connectedComponents]]): where
  * components tell a curation pipeline WHICH rows form a duplicate
  * cluster, PageRank ranks nodes by structural importance (which
  * suppliers anchor the trade graph, which documents anchor a citation
  * graph), the standard importance prior for sampling and pruning.
  *
  * ALL-INTEGER ARITHMETIC: ranks are carried as parts-per-billion
  * BIGINTs and every step is `+`, `×`, and non-negative floor division
  * — operations every SQL engine evaluates bit-identically — so a
  * T-iteration run is exactly reproducible cross-engine (an oracle can
  * unroll the same T steps as CTEs). Floating-point PageRank cannot
  * make that promise: double summation order differs per partitioning.
  * The deliberate truncation loss (≤ 1 ppb per edge per step) only ever
  * LOWERS mass and is identical in any engine.
  *
  * Scale shape (the 100 TB story): the degree-annotated edge list is
  * hash-partitioned on `src` once and persisted, so each iteration is
  * exactly ONE exchange — the `groupBy(dst)` map-side-combined mass
  * sum; the rank⋈edge join replays onto the cached edge partitioning,
  * and the groupBy's own output partitioning (`node`) feeds the next
  * step's joins exchange-free. The only driver-side value is the node
  * COUNT (two literal constants); no global sort until the final top-k
  * (TakeOrderedAndProject). For T beyond a handful of iterations,
  * `localCheckpoint` the rank every ~10 steps to truncate lineage; at
  * T=5 the plan stays shallow enough that Catalyst handles it whole.
  */
object Graph {

  /** `iterations` rounds of damped PageRank (d = 0.85) over a directed
    * edge list, returning the `topK` nodes by rank. Input: `src`/`dst`
    * BIGINT columns (callers wanting undirected semantics pass both
    * directions). Nodes are all edge endpoints; every node is assumed
    * to have at least one out-edge (true for bidirectional inputs —
    * for genuinely directed graphs with dangling nodes, add self-loops
    * upstream). Update rule, scaled to S = 10⁹:
    *
    *   rank'(v) = (0.15·S div N) + (85 · Σ_{u→v} (rank(u) div out(u))) div 100
    *
    * Ties broken by node id — fully deterministic output. */
  def pageRankTop(edges: DataFrame, iterations: Int = 5,
      topK: Int = 20): DataFrame = {
    val S = 1000000000L
    // caches release after the eager final top-k (the hitsTop
    // pattern) — repeated calls in a long session must not leak blocks
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    // hash-partition the edge list on `src` ONCE and pin the out-degree
    // onto each edge — every iteration's rank⋈edge join then lands on
    // the cached partitioning (no per-iteration edge shuffle), leaving
    // ONE exchange per step: the groupBy(dst) mass sum. That exchange's
    // output partitioning (node) in turn feeds the next step's
    // rank-side join and the nodes⋈inc join exchange-free.
    val e = mat(Par.byKey(edges.select(
      col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst")), col("src")))
    val deg = mat(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val eDeg = mat(e.join(deg, Seq("src")))
    // Node universe = src endpoints. The operator contract ("every node
    // is assumed to have at least one out-edge", trivially true for
    // bidirectional inputs) makes dst ⊆ src, so the old
    // union-both-endpoints + distinct was an extra exchange over 2E
    // rows for a set the out-degree rollup already materializes
    // exchange-free on the cached src partitioning (r13: −1 exchange,
    // −1 edge-list scan; the oracle's node CTE is likewise
    // SELECT DISTINCT src).
    val nodes = deg.select(col("src").as("node"))
    // node count: a single driver scalar (the one action outside the
    // final top-k) — the constants S div N and 0.15·S div N fold into
    // literals instead of re-broadcasting a one-row aggregate per step;
    // Scala Long `/` is the same non-negative floor division
    val nN = nodes.count()
    require(nN > 0, "pageRankTop: empty edge list")

    var rank = nodes.select(col("node"), lit(S / nN).as("rank_ppb"))
    // a zero message per node rides the SAME aggregate as the edge
    // messages — nodes with no in-edges keep their base mass without a
    // per-iteration left join (union adds V rows to the 2E shuffle, not
    // a stage). Width tied to V, not a constant (guide §2.6): a
    // thousand-node graph emits its zeros from one task instead of 32
    // per iteration, a billion-node graph spreads them across the
    // session width instead of funneling V rows through a single
    // straggler feeding every iteration's shuffle (the r13 coalesce(1)
    // wart).
    val zeroParts = math.max(1L, math.min(
      Par.width(nodes).toLong, nN / 2000000L + 1L)).toInt
    val zero = nodes.select(col("node").as("dst"), lit(0L).as("m"))
      .coalesce(zeroParts)
    for (_ <- 1 to iterations) {
      val msgs = eDeg
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst"), expr("rank_ppb div outdeg").as("m"))
      rank = msgs.union(zero)
        .groupBy(col("dst").as("node"))
        .agg(sum(col("m")).as("inc"))
        .select(col("node"),
          (lit((15 * S / 100) / nN) +
            expr("(85 * inc) div 100")).as("rank_ppb"))
    }
    sealTop(rank, topK, cached.toSeq)
  }

  /** The `topK` ranks by `rank_ppb` (ties by node), sealed; then the
    * iteration's caches are released. */
  private def sealTop(rank: DataFrame, topK: Int,
      cached: Seq[DataFrame]): DataFrame =
    try Lifetime.seal(rank.orderBy(col("rank_ppb").desc, col("node"))
      .limit(topK))
    finally cached.foreach(_.unpersist())

  /** PERSONALIZED PageRank: random walks restart at `seeds` instead of
    * everywhere, so rank mass concentrates in the seeds' neighborhood —
    * the graph-relatedness primitive ("entities most related to X")
    * behind recommendation and expansion queries. Same all-integer
    * parts-per-billion arithmetic and bit-exact cross-engine contract
    * as [[pageRankTop]]:
    *
    *   rank'(v) = (15 · base(v)) div 100 + (85 · Σ_{u→v} rank(u) div out(u)) div 100
    *
    * with `base(v) = S div |seeds|` for seeds, 0 elsewhere, and
    * `rank⁰ = base`.
    *
    * The sparsity is the scale win over the global variant: only
    * `rank > 0` nodes send messages, so iteration k touches the
    * k-hop neighborhood of the seeds — on a 100 TB graph the frontier,
    * not the graph, prices each step (the `rank_ppb > 0` filter is
    * exact, zero messages contribute zero mass). The seed base vector
    * is a broadcast join; everything else follows the one-exchange
    * iteration shape of [[pageRankTop]]. */
  def personalizedPageRankTop(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 5, topK: Int = 20): DataFrame = {
    val S = 1000000000L
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    val e = mat(Par.byKey(edges.select(
      col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst")), col("src")))
    val deg = mat(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val eDeg = mat(e.join(deg, Seq("src")))
    // node universe = src endpoints (dst ⊆ src for bidirectional
    // inputs, same contract and same oracle node CTE as
    // [[pageRankTop]]) — the out-degree rollup already materializes it
    // exchange-free (r13: −1 exchange, −1 edge-list scan)
    val nodes = deg.select(col("src").as("node"))
    val seedBase = mat(seeds.select(col("node").cast(LongType).as("node"))
      .distinct())
    val nSeeds = seedBase.count()
    require(nSeeds > 0, "personalizedPageRankTop: empty seed set")
    // seed sets are small by construction (they're the personalization);
    // up to a bound, fold them into a literal predicate so the base
    // term is pure expression work instead of five broadcast joins —
    // past it, fall back to a broadcast join per step
    val baseOf: DataFrame => DataFrame =
      if (nSeeds <= 4096) {
        val ids = seedBase.collect().map(_.getLong(0)).toSeq
        df => df.withColumn("base",
          when(col("node").isin(ids: _*), lit(S / nSeeds))
            .otherwise(lit(0L)))
      } else {
        val b = seedBase.withColumn("b", lit(S / nSeeds))
        df => df.join(broadcast(b), Seq("node"), "left")
          .withColumn("base", coalesce(col("b"), lit(0L))).drop("b")
      }

    var rank = baseOf(nodes)
      .select(col("node"), col("base").as("rank_ppb"))
    // zero-frame width tied to V, not a constant — the [[pageRankTop]]
    // r14 shape (one task for thousand-node graphs, session width for
    // billion-node ones; never a V-sized single-task straggler)
    val nN = nodes.count()
    val zeroParts = math.max(1L, math.min(
      Par.width(nodes).toLong, nN / 2000000L + 1L)).toInt
    val zero = nodes.select(col("node").as("dst"), lit(0L).as("m"))
      .coalesce(zeroParts)
    for (_ <- 1 to iterations) {
      val msgs = eDeg
        .join(rank.filter(col("rank_ppb") > 0)
          .withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst"), expr("rank_ppb div outdeg").as("m"))
      rank = baseOf(
        msgs.union(zero)
          .groupBy(col("dst").as("node"))
          .agg(sum(col("m")).as("inc")))
        .select(col("node"),
          (expr("(15 * base) div 100") +
            expr("(85 * inc) div 100")).as("rank_ppb"))
    }
    sealTop(rank, topK, cached.toSeq)
  }

  /** HITS hubs & authorities over a DIRECTED edge list — the
    * centrality for asymmetric roles PageRank's random surfer blurs:
    * on a customer→supplier purchase graph, hub score ranks the
    * broadest buyers and authority score the suppliers those buyers
    * concentrate on (in a citation corpus: surveys vs landmark
    * papers). Each of `iterations` rounds recomputes authorities from
    * hubs (`a'(v) = Σ_{u→v} h(u)`) then hubs from the NEW authorities
    * (`h'(u) = Σ_{u→v} a(v)`), the textbook update order.
    *
    * ALL-INTEGER ARITHMETIC (same contract as [[pageRankTop]]): scores
    * are parts-per-billion BIGINTs and the per-step L1 normalization
    * is the integer fold `x → x div (Σx div 10⁹)` — every op is `+` or
    * non-negative floor division, so T rounds are bit-exact in any SQL
    * engine and an oracle can unroll them as CTEs. The raw sums stay
    * in BIGINT for up to ~9·10⁹ edges (each addend ≤ 10⁹ ppb after
    * normalization); beyond that lift the fold to DECIMAL(38,0).
    *
    * Scale shape: the distinct edge list is cached TWICE, partitioned
    * on `src` and on `dst` — the auth step joins hubs on the src copy
    * (hub frames arrive already partitioned on src from the previous
    * groupBy) and aggregates to dst; the hub step joins the fresh
    * authorities on the dst copy and aggregates back to src. Each
    * half-round is therefore exactly ONE exchange; the normalization
    * total is a broadcast one-row aggregate, never a driver action.
    * Output: `(side, node, score_ppb)` — `topK` authorities and `topK`
    * hubs, ties broken by node id. */
  def hitsTop(edges: DataFrame, iterations: Int = 3,
      topK: Int = 20): DataFrame = {
    val S = 1000000000L
    // Every half-round's raw sum feeds TWO consumers (the one-row
    // normalization total and the scores) and the next half-round, so
    // the LOGICAL plan doubles per half-round — a persist()-only fix
    // still hands Catalyst an exponentially-growing tree to analyze
    // (measured: 21 s at sf0.001 AND sf0.1 — pure driver-side planning
    // cost). Sealing each half-round's raw keeps the plan constant in T
    // and frees the raw two half-rounds back, now read by nothing.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    // r14: dedup FUSED into the src-side partitioning — dropDuplicates
    // after a pinned repartition(src) needs no exchange of its own
    // (HashPartitioning(src) satisfies the aggregate's clustering on
    // (src, dst)), so the old distinct + two repartitions (3 exchanges,
    // 3 persisted edge frames) become 2 exchanges and 2 frames; the dst
    // copy derives from the already-distinct src copy.
    val eBySrc = mat(Par.byKey(edges.select(
        col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst")), col("src"))
      .dropDuplicates("src", "dst"))
    val eByDst = mat(Par.byKey(eBySrc, col("dst")))
    var raws = Vector.empty[DataFrame]
    def normalized(raw0: DataFrame): DataFrame = {
      val raw = Lifetime.seal(raw0, raws.dropRight(1): _*)
      raws = raws.takeRight(1) :+ raw
      val nrm = raw.agg(
        greatest(expr(s"sum(raw) div $S"), lit(1L)).as("nrm"))
      raw.crossJoin(broadcast(nrm))
        .select(col("node"), expr("raw div nrm").as("score_ppb"))
    }
    var hub = eBySrc.select(col("src").as("node")).distinct()
      .select(col("node"), lit(S).as("score_ppb"))
    var auth: DataFrame = hub.limit(0)
    for (_ <- 1 to iterations) {
      auth = normalized(eBySrc
        .join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("score_ppb")).as("raw")))
      hub = normalized(eByDst
        .join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("score_ppb")).as("raw")))
    }
    def top(df: DataFrame, side: String) =
      df.select(lit(side).as("side"), col("node"), col("score_ppb"))
        .orderBy(col("score_ppb").desc, col("node")).limit(topK)
    try Lifetime.seal(top(auth, "authority").unionAll(top(hub, "hub")),
      raws: _*)
    finally cached.foreach(_.unpersist())
  }

  /** K-CORE PEELING — the density filter of the graph family: after
    * `rounds` SYNCHRONOUS peeling rounds at threshold `k` (each round
    * simultaneously removes every node whose degree among the current
    * survivors is < k), emit each survivor with its degree inside the
    * surviving subgraph. The fixed round count is the cross-engine
    * contract (an oracle unrolls exactly `rounds` steps); at a
    * fixpoint extra rounds are no-ops, so a converged result is THE
    * k-core. All arithmetic is edge counting — bit-exact anywhere.
    *
    * `edges` must be the BIDIRECTED distinct edge list (both
    * directions present), so out-degree = undirected degree. A node
    * all of whose neighbors peeled in the final round aggregates no
    * edge and is omitted (its degree-0 row does not exist on either
    * engine — same rule both sides).
    *
    * Scale shape: the edge list is cached once, partitioned on `dst`;
    * each round semi-joins the (node-count-sized, shrinking) alive set
    * against it on dst in place, then one exchange keys the surviving
    * edges by src for the src-side semi-join and the degree count —
    * the classic distributed peel, O(rounds) passes, never materializing
    * neighborhoods. Like [[hitsTop]], the alive frame feeds the next
    * round twice (filter + joins), so each round seals it to keep the
    * logical plan constant-size in `rounds`. */
  def kCoreSurvivors(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k, rounds=$rounds")
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    // r14: dedup fused into the dst-side partitioning (the [[hitsTop]]
    // shape) — distinct + repartition collapse to ONE exchange, and the
    // separate e0 cache (a third full copy of E) goes away entirely.
    val eByDst = mat(Par.byKey(edges.select(
        col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst")), col("dst"))
      .dropDuplicates("src", "dst"))
    def degreeAmong(alive: DataFrame): DataFrame =
      eByDst
        .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .join(alive.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("degree"))
    // The seed is sealed: as the first job over the cold edge cache it
    // builds it once (a plan with several branches builds it per branch).
    // Round r seals the degrees among the nodes of degree ≥ k in round
    // r−1's table; the last table is the result.
    val seed = Lifetime.seal(eByDst.select(col("src").as("node")).distinct())
    var degrees = degreeAmong(seed)
    try {
      for (_ <- 1 to rounds)
        degrees = Lifetime.seal(degreeAmong(
          degrees.filter(col("degree") >= k).select("node")), degrees, seed)
      degrees
    } finally cached.foreach(_.unpersist())
  }

  /** BFS LAYER PROFILE — how far does the graph reach from a seed?
    * Breadth-first frontier expansion for `maxHops` rounds, reporting
    * each hop's node count and id range — the connectivity/diameter
    * probe (and on a bipartite graph, hop parity separates the two
    * sides). Deterministic and all-integer.
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the CURRENT frontier plus one anti-join against the visited set —
    * the standard distributed BFS; rounds are bounded by `maxHops`, so
    * the plan is a fixed-depth chain (no lineage blow-up to
    * checkpoint at this depth). Frontiers and visited sets stay
    * distinct-node-sized. */
  def bfsLayers(edges: DataFrame, seed: Long,
      maxHops: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Materialize the edge list ONCE: callers hand us a derived frame
    // (scan⋈scan + distinct + bidirect), and without a persist every
    // hop's frontier join replays that whole upstream lineage — at
    // sf0.1 the stage table showed the edge derivation running 7×
    // per execution. (The pre-r13 "no persist measured faster" note
    // predated the codegen-cache fix that was masking task-side cost.)
    // Each hop's frontier is node-sized and feeds THREE consumers
    // (the union chain, the next join, every later anti-join), so it
    // is sealed — the [[hitsTop]] constant-plan lesson; the union chain
    // reads every frontier, so the final 1-row-per-hop seal frees them.
    val e = edges.select(col("src"), col("dst")).persist()
    try {
      var visited = Seq((seed, 0L)).toDF("node", "hop")
      var frontiers = Vector(visited.select(col("node")))
      for (k <- 1 to maxHops) {
        val next = Lifetime.seal(e
          .join(frontiers.last.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"))
        visited = visited
          .unionAll(next.withColumn("hop", lit(k.toLong)))
        frontiers :+= next
      }
      Lifetime.seal(visited.groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"),
          max(col("node")).as("max_node")), frontiers: _*)
    } finally e.unpersist()
  }

  /** DEGREE DISTRIBUTION — the first thing anyone asks of a graph:
    * how many nodes have degree k, as a histogram with node-share ppb
    * and a cumulative count (the CCDF any power-law / hub analysis
    * reads). Input: a DISTINCT directed edge list (pass both
    * directions for undirected degree, as the trade-graph builders
    * do); degree = out-degree over that list.
    *
    * Scale shape: two map-combined groupBys (node → degree, degree →
    * count) and one cumulative window over the DEGREE frame — single-
    * partition but bounded by |distinct degrees|, which is ≤ the max
    * degree, not the node count. All-integer. */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("n_total"))
    val wCum = Window.orderBy(col("degree"))
    hist.crossJoin(broadcast(tot))
      .withColumn("node_share_ppb",
        expr("(n_nodes * 1000000000L) div n_total"))
      .withColumn("cum_nodes", sum(col("n_nodes")).over(wCum))
      .select(col("degree"), col("n_nodes"), col("n_total"),
        col("node_share_ppb"), col("cum_nodes"))
  }

  /** DEGREE ASSORTATIVITY — the Pearson correlation of endpoint
    * degrees across edges: do hubs attach to hubs (r > 0, social
    * graphs) or to leaves (r < 0, bipartite/tech graphs)? Computed on
    * a symmetric directed edge list, where the textbook formula
    * collapses to `r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)` with j, k
    * the src/dst degrees (symmetry makes the j- and k-marginals
    * equal).
    *
    * Exactness: degrees and the three sums are exact BIGINTs (bounds:
    * Σj² ≤ M·degmax² — rescale/sample above 2⁶³); the final
    * combination runs in doubles from exact int64→double conversions,
    * fixed op order. Scale shape: one degree rollup, two hash joins of
    * the compact degree frame onto the edge list (partitioned on the
    * join key each time), one scalar fold. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val annotated = edges
      .join(deg.select(col("node").as("src"), col("d").as("dj")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dk")),
        Seq("dst"))
    annotated.agg(count(lit(1)).as("m_edges"),
        sum(col("dj") * col("dk")).as("s_jk"),
        sum(col("dj")).as("s_j"),
        sum(col("dj") * col("dj")).as("s_jj"))
      .withColumn("assortativity",
        when(col("m_edges").cast(DoubleType) *
            col("s_jj").cast(DoubleType) -
            col("s_j").cast(DoubleType) * col("s_j").cast(DoubleType)
            =!= 0.0,
          (col("m_edges").cast(DoubleType) *
            col("s_jk").cast(DoubleType) -
            col("s_j").cast(DoubleType) *
              col("s_j").cast(DoubleType)) /
            (col("m_edges").cast(DoubleType) *
              col("s_jj").cast(DoubleType) -
              col("s_j").cast(DoubleType) *
                col("s_j").cast(DoubleType))))
  }

  /** LABEL PROPAGATION COMMUNITIES — `iterations` SYNCHRONOUS rounds of
    * Raghavan-style label propagation over a BIDIRECTED distinct edge
    * list, then the community-size census: top `topK` communities by
    * size with the total community count alongside. Each node starts
    * labeled with its own id; every round, simultaneously, each node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label — fully deterministic, all arithmetic is label
    * counting on integer node ids, so an oracle unrolls the same rounds
    * bit-exactly (the async/random-order variants in the literature
    * trade that determinism for faster convergence; a fixed synchronous
    * round count is the cross-engine contract, like [[kCoreSurvivors]]).
    *
    * Scale shape: each round is one edge⋈label join replaying onto the
    * cached src-partitioned edge list, one map-combined `(node, label)`
    * count, and one per-node argmax — O(|E|) work, two exchanges, no
    * driver-side state. Labels localCheckpoint each round so the plan
    * stays constant-size in `iterations` (the [[hitsTop]] lesson).
    * Every node of a bidirected edge list has ≥ 1 neighbor, so the
    * per-round argmax covers every node — no stranded-label coalesce. */
  /** ADAMIC–ADAR LINK PREDICTION — score non-adjacent node pairs by
    * their shared neighborhoods, down-weighting promiscuous middlemen:
    * `AA(u,v) = Σ_{z ∈ Γ(u)∩Γ(v)} 1/log₂(deg z)` (the classic uses ln;
    * log₂ is the same ranking up to the quarter-bit floor, and keeps
    * the house integer-log convention). Top-`topK` predicted links by
    * score, ties by (u, v). Input: a directed edge list; pass both
    * directions for undirected semantics (as the trade-graph queries
    * do).
    *
    * Exactness: each middleman's weight is the BIGINT
    * `(4·10⁹) div qb(deg z)` with `qb = log2_quarter_bits(1, deg)` —
    * so scores are exact integer ppb sums, reproducible cross-engine.
    *
    * Scale shape (the skew story): common-neighbor enumeration is the
    * self-join of the edge list on the middleman z, which explodes as
    * Σ deg(z)² — a hub z is quadratic. `maxDeg` is the STRUCTURAL
    * hub guard (the [[Dedup]] `dropHotBuckets` move): middlemen above
    * it are dropped BEFORE the pair expansion (one join against the
    * degree table), bounding the blowup at nodes·maxDeg² —
    * principled for AA specifically, because a hub's per-pair weight
    * `1/log(deg)` is the information-free tail the estimator already
    * discounts. Existing edges leave via one left-anti join; the
    * global top-k is TakeOrderedAndProject, never a full sort. */
  def adamicAdarTopK(edges: DataFrame, maxDeg: Long = 128L,
      topK: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(edges.sparkSession)
    import graft.functions.FixedLogFunctions.log2QuarterBits
    // The edge frame has FOUR consumers (degree rollup, both sides of
    // the wedge self-join, the existing-edge anti-join): lazy, each replays
    // the caller's derivation, and a lazy cache is built once per branch
    // when AQE submits them together. Sealed first, freed by the top-k.
    val e = Lifetime.seal(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src").as("z"))
      .agg(count(lit(1)).as("deg"))
    // the O(|V|) middleman table, joined unhinted: AQE broadcasts it while
    // small and shuffles on z at production node cardinality
    val mids = deg.filter(col("deg") >= 2L && col("deg") <= maxDeg)
      .withColumn("qb", log2QuarterBits(lit(1L), col("deg")))
      .withColumn("w_ppb", expr("4000000000L div qb"))
      .select(col("z"), col("w_ppb"))
    val ze = e.join(mids,
      col("src") === col("z")).select(col("z"), col("dst"), col("w_ppb"))
    val pairs = ze.as("l").join(ze.as("r"),
        col("l.z") === col("r.z") && col("l.dst") < col("r.dst"))
      .select(col("l.dst").as("u"), col("r.dst").as("v"),
        col("l.w_ppb").as("w_ppb"))
    val scored = pairs.groupBy(col("u"), col("v"))
      .agg(sum(col("w_ppb")).as("aa_ppb"),
        count(lit(1)).as("common_neighbors"))
      .join(e.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    Lifetime.seal(
      scored.orderBy(col("aa_ppb").desc, col("u"), col("v"))
        .limit(topK), e)
  }

  /** LOCAL CLUSTERING COEFFICIENT CENSUS — how cliquish is each node's
    * neighborhood? Per node `lcc = closed wedges / wedges` with
    * `wedges = deg(deg−1)/2`, floor-quantized to ppb and rolled into
    * decile bands (band = lcc_ppb div 10⁸, 0..10): the
    * community-structure fingerprint that separates clustered real
    * graphs from degree-matched random ones. Output per band: node
    * count, closed/wedge totals.
    *
    * Exactness: wedges and closures are exact BIGINT counts, lcc_ppb
    * an integer floor division — no floats anywhere.
    *
    * Scale shape: wedge enumeration is the edge self-join on the apex
    * (Σ deg² — quadratic in hub degree), so apexes above `maxDeg` are
    * structurally dropped BEFORE expansion ([[adamicAdarTopK]]'s hub
    * guard; the census reports low-to-mid-degree neighborhoods, which
    * is where clustering is meaningful — a 10⁶-degree hub's lcc is
    * ~0 by construction). Closure check is one join against the edge
    * list on the (u, w) pair key; band rollup is map-combined. */
  def clusteringCoefficientBands(edges: DataFrame,
      maxDeg: Long = 128L): DataFrame = {
    // same four-consumer shape as [[adamicAdarTopK]] — and the
    // co-purchase caller's derivation is a lineitem SELF-JOIN, the
    // single most expensive edge lineage in the registry: seal it once
    val e = Lifetime.seal(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src").as("z"))
      .agg(count(lit(1)).as("deg"))
    // the O(|V|) apex table, as in [[adamicAdarTopK]]: one aggregate
    // over the sealed edges, joined unhinted for AQE to size
    val kept = deg.filter(col("deg") >= 2L && col("deg") <= maxDeg)
    val ze = e.join(kept, col("src") === col("z"))
      .select(col("z"), col("dst"), col("deg"))
    val wedges = ze.as("l").join(ze.as("r"),
        col("l.z") === col("r.z") && col("l.dst") < col("r.dst"))
      .select(col("l.z").as("z"), col("l.deg").as("deg"),
        col("l.dst").as("u"), col("r.dst").as("w"))
    val closed = wedges.join(
        e.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"),
        "left_semi")
      .groupBy(col("z")).agg(count(lit(1)).as("n_closed"))
    val perNode = kept.join(closed, Seq("z"), "left")
      .withColumn("n_closed", coalesce(col("n_closed"), lit(0L)))
      .withColumn("n_wedges", expr("deg * (deg - 1) div 2"))
      .withColumn("lcc_ppb",
        expr("(n_closed * 1000000000L) div n_wedges"))
    Lifetime.seal(
      perNode
        .groupBy(expr("lcc_ppb div 100000000").as("lcc_band"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("n_closed")).as("closed_total"),
          sum(col("n_wedges")).as("wedge_total"))
        .orderBy(col("lcc_band")), e)
  }

  def labelPropagationCommunities(edges: DataFrame, iterations: Int = 3,
      topK: Int = 20): DataFrame = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); cached += p; p
    }
    // r14: dedup fused into the src-side partitioning (the [[hitsTop]]
    // shape) — distinct + repartition collapse to one exchange
    val e = mat(Par.byKey(edges.select(
        col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst")), col("src"))
      .dropDuplicates("src", "dst"))
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to iterations) {
      val counted = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      // per-node argmax: highest count, then smallest label — the
      // window (not max_by-over-struct) keeps the tie rule explicit and
      // mirrors the oracle's row_number exactly
      labels = Lifetime.seal(counted
        .withColumn("rn", row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("c").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab")), labels)
    }
    // the census feeds the top-k AND the one-row total, rather than
    // single-partitioning a node-sized frame under a global window
    val census = labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val total = census.agg(count(lit(1)).as("n_communities"))
    val result = census.crossJoin(broadcast(total))
      .orderBy(col("n_nodes").desc, col("community")).limit(topK)
      .select(col("community"), col("n_nodes"), col("n_communities"))
    try Lifetime.seal(result, labels)
    finally cached.foreach(_.unpersist())
  }
}
