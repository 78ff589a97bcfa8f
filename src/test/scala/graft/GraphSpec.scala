package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Integer PageRank: hand-checked first iteration on a star, bit-exact
  * agreement with a driver-side reference loop, mass conservation, and
  * partitioning invariance (the cross-engine determinism claim). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000L

  /** Driver-side reference: the same all-integer update rule. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var rank = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val inc = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
        }
      rank = nodes.map(v =>
        v -> ((15 * S / 100) / n + 85 * inc.getOrElse(v, 0L) / 100)).toMap
    }
    rank
  }

  private def bidir(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs ++ pairs.map(_.swap)

  test("bfsLayers: path graph hop counts, empty frontiers omitted") {
    val e = bidir(1L -> 2L, 2L -> 3L, 3L -> 4L).toDF("src", "dst")
    val got = Graph.bfsLayers(e, seed = 1L, maxHops = 4).collect()
      .map(r => r.getAs[Long]("hop") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("min_node"),
          r.getAs[Long]("max_node")))).toMap
    assert(got == Map(
      0L -> ((1L, 1L, 1L)), 1L -> ((1L, 2L, 2L)),
      2L -> ((1L, 3L, 3L)), 3L -> ((1L, 4L, 4L))), s"$got")
  }

  test("degreeDistribution: star histogram, shares, cumulative") {
    val e = bidir(1L -> 2L, 1L -> 3L, 1L -> 4L).toDF("src", "dst")
    val got = Graph.degreeDistribution(e).collect()
      .map(r => r.getAs[Long]("degree") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("node_share_ppb"),
          r.getAs[Long]("cum_nodes")))).toMap
    assert(got(1L) == ((3L, 750000000L, 3L)), s"$got")
    assert(got(3L) == ((1L, 250000000L, 4L)), s"$got")
  }

  test("degreeAssortativity: star is perfectly disassortative (-1)") {
    val e = bidir(1L -> 2L, 1L -> 3L, 1L -> 4L).toDF("src", "dst")
    val r = Graph.degreeAssortativity(e).collect().head
    assert(r.getAs[Long]("m_edges") == 6L)
    assert(r.getAs[Long]("s_jk") == 18L)
    assert(r.getAs[Double]("assortativity") == -1.0)
    // 4-cycle: all degrees equal → zero variance → NULL (undefined)
    val cyc = bidir(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
      .toDF("src", "dst")
    val rc = Graph.degreeAssortativity(cyc).collect().head
    assert(rc.isNullAt(rc.fieldIndex("assortativity")))
  }

  test("pageRankTop: star center dominates; first iteration hand-checked") {
    val e = bidir(1L -> 2L, 1L -> 3L, 1L -> 4L)
    val out = Graph.pageRankTop(e.toDF("src", "dst"), iterations = 1,
      topK = 4).collect()
    val ranks = out.map(r =>
      r.getAs[Long]("node") -> r.getAs[Long]("rank_ppb")).toMap
    // N=4, r0=250000000 each; center: 150000000/4 + 85*(3*250000000)/100
    assert(ranks(1L) == 37500000L + 637500000L)
    // leaf: 37500000 + 85*(250000000 div 3)/100
    assert(ranks(2L) == 37500000L + 85L * (250000000L / 3) / 100)
    assert(ranks(2L) == ranks(3L) && ranks(3L) == ranks(4L))
    assert(out.head.getAs[Long]("node") == 1L, "center ranks first")
  }

  test("pageRankTop: bit-exact vs driver-side integer reference, 5 iters") {
    // a lopsided graph: hub 1, chain 2-3-4, satellite cluster on 5
    val e = bidir(1L -> 2L, 1L -> 3L, 1L -> 5L, 2L -> 3L, 3L -> 4L,
      5L -> 6L, 5L -> 7L, 6L -> 7L)
    val want = refRanks(e, 5)
    val got = Graph.pageRankTop(e.toDF("src", "dst"), iterations = 5,
      topK = 100).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_ppb")).toMap
    assert(got == want)
  }

  test("pageRankTop: mass conserved up to truncation loss") {
    val e = bidir(1L -> 2L, 1L -> 3L, 1L -> 5L, 2L -> 3L, 3L -> 4L,
      5L -> 6L, 5L -> 7L)
    val total = Graph.pageRankTop(e.toDF("src", "dst"), iterations = 5,
      topK = 100).agg(sum("rank_ppb")).as[Long].collect()(0)
    // every div truncates at most 1 ppb per node per step — the sum can
    // only fall short of S, and only slightly
    assert(total <= S && total > (S * 95) / 100, s"mass $total")
  }

  /** Driver-side personalized reference: base mass restarts at seeds. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val base = nodes.map(v =>
      v -> (if (seeds(v)) S / seeds.size else 0L)).toMap
    var rank = base
    for (_ <- 1 to iters) {
      val inc = edges.filter { case (src, _) => rank(src) > 0 }
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
        }
      rank = nodes.map(v =>
        v -> (15 * base(v) / 100 + 85 * inc.getOrElse(v, 0L) / 100)).toMap
    }
    rank
  }

  test("personalizedPageRankTop: bit-exact vs seeded reference; mass " +
    "concentrates near the seed") {
    val e = bidir(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 7L)
    val want = refPpr(e, Set(1L), 5)
    val got = Graph.personalizedPageRankTop(e.toDF("src", "dst"),
      Seq(Tuple1(1L)).toDF("node"), iterations = 5, topK = 100)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_ppb")).toMap
    assert(got == want)
    // walks restart at 1: its immediate neighborhood outranks the far
    // end of the chain
    assert(got(2L) > got(6L) && got(3L) > got(7L))
  }

  test("personalizedPageRankTop: two seeds split the base mass") {
    val e = bidir(1L -> 2L, 3L -> 4L)
    val got = Graph.personalizedPageRankTop(e.toDF("src", "dst"),
      Seq(Tuple1(1L), Tuple1(3L)).toDF("node"), iterations = 2,
      topK = 10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_ppb")).toMap
    assert(got == refPpr(e, Set(1L, 3L), 2))
    // disconnected twin components with symmetric seeds → equal ranks
    assert(got(1L) == got(3L) && got(2L) == got(4L))
  }

  test("pageRankTop: partitioning-invariant (deterministic integers)") {
    val e = bidir(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val df = e.toDF("src", "dst")
    val a = Graph.pageRankTop(df.repartition(1), 5, 10).collect().toSeq
    val b = Graph.pageRankTop(df.repartition(11), 5, 10).collect().toSeq
    assert(a == b)
  }

  test("hitsTop: 3 rounds hand-checked on a directed 2×2 star") {
    // hubs 2, 4 (sources) → authorities 1, 3: edges 2→1, 2→3, 4→1.
    // Hand-unrolled integer chain (h0 = 1e9 each):
    //   a1 = (2e9, 1e9)//3      → (666666666, 333333333)
    //   h1 = (999999999, 666666666)//1
    //   a2 = (1666666665, 999999999)//2 → (833333332, 499999999)
    //   h2 = (1333333331, 833333332)//2 → (666666665, 416666666)
    //   a3 = (1083333331, 666666665)//1
    //   h3 = (1749999996, 1083333331)//2 → (874999998, 541666665)
    val e = Seq((2L, 1L), (2L, 3L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.hitsTop(e, iterations = 3, topK = 5).collect()
      .map(r => (r.getAs[String]("side"), r.getAs[Long]("node"),
        r.getAs[Long]("score_ppb"))).toSet
    assert(got == Set(
      ("authority", 1L, 1083333331L), ("authority", 3L, 666666665L),
      ("hub", 2L, 874999998L), ("hub", 4L, 541666665L)), s"got: $got")
  }

  test("kCoreSurvivors: synchronous cascade — path peels, triangle holds") {
    // path 10-12-14-16 plus triangle 20-22-24, k=2.
    // round 1 removes the path ENDS only (degree 1); round 2 removes
    // the stranded middle (degree 1 among survivors) — the cascade a
    // single degree filter would miss. Triangle keeps degree 2.
    val und = Seq((10L, 12L), (12L, 14L), (14L, 16L),
      (20L, 22L), (22L, 24L), (24L, 20L))
    val e = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val got2 = Graph.kCoreSurvivors(e, k = 2, rounds = 2).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("degree"))).toSet
    assert(got2 == Set((20L, 2L), (22L, 2L), (24L, 2L)), s"got: $got2")
    // after round 1 alone the path middle still lingers (degree 1)
    val got1 = Graph.kCoreSurvivors(e, k = 2, rounds = 1).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("degree"))).toSet
    assert(got1 == Set((12L, 1L), (14L, 1L),
      (20L, 2L), (22L, 2L), (24L, 2L)), s"got: $got1")
  }

  test("kCoreSurvivors: partitioning-invariant") {
    val und = Seq((10L, 12L), (12L, 14L), (14L, 16L),
      (20L, 22L), (22L, 24L), (24L, 20L), (20L, 10L))
    val e = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val a = Graph.kCoreSurvivors(e.repartition(1), 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.kCoreSurvivors(e.repartition(11), 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("hitsTop: partitioning-invariant (deterministic integers)") {
    val e = Seq((2L, 1L), (2L, 3L), (4L, 1L), (4L, 5L), (6L, 5L),
      (6L, 1L), (8L, 7L)).toDF("src", "dst")
    val a = Graph.hitsTop(e.repartition(1), 3, 10).collect().toSeq
    val b = Graph.hitsTop(e.repartition(11), 3, 10).collect().toSeq
    assert(a == b)
  }

  test("labelPropagationCommunities: two disjoint triangles converge " +
      "to two communities, deterministic tie-breaks") {
    // triangle {1,2,3}: round 1 sends node 1 → min-tie label 2, the
    // others → 1; round 2 all → 1 (hand-checked) — so by round 3 each
    // triangle is one community labeled by its minimum node id
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val e = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val rows = Graph.labelPropagationCommunities(e, iterations = 3,
      topK = 10).collect()
    val got = rows.map(r => (r.getAs[Long]("community"),
      r.getAs[Long]("n_nodes"))).toSet
    assert(got == Set((1L, 3L), (10L, 3L)), s"got: $got")
    assert(rows.forall(_.getAs[Long]("n_communities") == 2L))
  }

  test("labelPropagationCommunities: partitioning-invariant and topK " +
      "boundary ties break by smallest community label") {
    // 4 disjoint triangles (odd cycles — synchronous LPA converges;
    // bipartite components would oscillate): all size 3, topK=2 must
    // keep the two smallest labels
    val tri = Seq(0L, 10L, 20L, 30L).flatMap(b =>
      Seq((b + 1, b + 2), (b + 2, b + 3), (b + 1, b + 3)))
    val e = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val a = Graph.labelPropagationCommunities(e.repartition(1), 3, 2)
      .collect().toSeq
    val b = Graph.labelPropagationCommunities(e.repartition(7), 3, 2)
      .collect().toSeq
    assert(a == b)
    assert(a.map(_.getAs[Long]("community")) == Seq(1L, 11L))
    assert(a.forall(_.getAs[Long]("n_communities") == 4L))
  }

  test("adamicAdarTopK: hand-checked weights, self-pairs and edges out") {
    // undirected: 3-1, 3-2, 4-1, 4-2, 1-5. deg: 1->3, 2->2, 3->2,
    // 4->2, 5->1. w(deg 2) = 4e9 div 4 = 1e9; w(deg 3) = 4e9 div
    // floor(4*log2 3) = 4e9 div 6 = 666,666,666; deg-1 middlemen drop.
    val pairs = Seq((3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L), (1L, 5L))
    val e = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = Graph.adamicAdarTopK(e, maxDeg = 128L, topK = 10)
      .collect().toSeq
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
        r.getAs[Long]("aa_ppb"), r.getAs[Long]("common_neighbors")))
    assert(out == Seq(
      (1L, 2L, 2000000000L, 2L),
      (3L, 4L, 1666666666L, 2L),
      (3L, 5L, 666666666L, 1L),
      (4L, 5L, 666666666L, 1L)), s"got $out")
  }

  test("adamicAdarTopK: hub middlemen above maxDeg are dropped") {
    val pairs = Seq((3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L), (1L, 5L))
    val e = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // maxDeg = 2 drops node 1 (deg 3): only z=2 and z=3/z=4 survive
    val out = Graph.adamicAdarTopK(e, maxDeg = 2L, topK = 10)
      .collect().toSeq
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
        r.getAs[Long]("aa_ppb")))
    assert(out == Seq((1L, 2L, 2000000000L), (3L, 4L, 1000000000L)),
      s"got $out")
  }

  test("adamicAdarTopK: the plan behind the sealed top-k broadcasts its " +
    "side tables, ends in TakeOrderedAndProject, no cartesian") {
    // The operator seals its result (Lifetime.seal = an eager local
    // checkpoint), so the registered plan is a checkpoint scan; the shape
    // that computed the top-k is the plan the seal's checkpoint ran.
    def isSeal(plan: String) = plan.contains("TakeOrderedAndProject")
    val pairs = Seq.tabulate(120)(i => (i.toLong % 17, 17L + i.toLong % 23))
    val e = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val checkpointed = finishedExecutions {
      case ("localCheckpoint", qe) => qe.executedPlan.toString
    }(_.exists(isSeal)) {
      Graph.adamicAdarTopK(e, maxDeg = 128L, topK = 20)
    }
    val lp = checkpointed.find(isSeal).getOrElse(fail("no checkpoint ran " +
      s"a TakeOrderedAndProject; saw:\n${checkpointed.mkString("\n")}"))
    assert(lp.contains("BroadcastHashJoin") &&
      !lp.contains("CartesianProduct"), s"linkpred:\n$lp")
  }

  test("clusteringCoefficientBands: triangle at 1, open wedge at 0, " +
    "deg-1 and hub nodes out") {
    // triangle 1-2-3 plus path 4-5-6: lcc(1..3) = 1 (band 10), node 5
    // has one open wedge (band 0), nodes 4/6 have deg 1 (excluded)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L))
    val e = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val out = Graph.clusteringCoefficientBands(e, maxDeg = 128L)
      .collect().toSeq
      .map(r => (r.getAs[Long]("lcc_band"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("closed_total"), r.getAs[Long]("wedge_total")))
    assert(out == Seq((0L, 1L, 0L, 1L), (10L, 3L, 3L, 3L)), s"got $out")
    // hub guard: maxDeg = 1 drops every apex -> empty census
    assert(Graph.clusteringCoefficientBands(e, maxDeg = 1L).isEmpty)
  }

  test("adamicAdarTopK: partitioning-invariant") {
    val pairs = Seq.tabulate(120)(i =>
      (i.toLong % 17, 17L + i.toLong % 23))
    val e = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val a = Graph.adamicAdarTopK(e.repartition(1), 128L, 15)
      .collect().toSeq
    val b = Graph.adamicAdarTopK(e.repartition(11), 128L, 15)
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
