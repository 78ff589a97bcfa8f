package graft

/** 10× scale rehearsal for the ITERATIVE GRAPH KERNELS — the most
  * expensive bench family (pagerank/ppr/kcore/bfs/hits, 4–6 s at
  * sf0.1), whose SCALE.md claims (edge list hash-partitioned once,
  * ONE exchange per step, per-round `localCheckpoint` lineage
  * truncation, caches released) were measured only to ~600 k edges.
  * This main MEASURES them at 1× and 10×.
  *
  * The synthetic graph is matched to the sf0.1 trade graph's shape
  * (`SparkEntry.tradeGraphEdges`: 15 k customers × 1 k suppliers,
  * ~39 distinct picks per customer → ~587 k distinct directed pairs,
  * supplier degree ≈ uniform 587; bidirectional = ~1.17 M edges).
  * `scale` multiplies BOTH node sides, keeping per-customer degree
  * fixed — so edges grow linearly and a healthy kernel's wall-clock
  * should too. Every pick is a splitmix64 function of (customer,
  * slot): deterministic, no RNG state. Edges are written to parquet
  * and read back so the Bench-style sweep between kernels cannot
  * invalidate them.
  *
  * `runMain graft.GraphRehearsal <scale> [reps=4] [outDir]` — prints
  * one JSON line per kernel: `{"kernel":…,"scale":…,"edges":…,
  * "sec":…}` — the MEDIAN of the post-warmup reps (rep 1 discarded
  * as JIT warmup when reps > 1, mirroring `graft.Profile`'s
  * read-from-rep-2 rule; the default leaves 3 measured reps so the
  * median is a true middle element, and even measured counts take
  * the lower middle — never the max).
  */
object GraphRehearsal {
  def main(args: Array[String]): Unit = {
    val scale = if (args.length > 0) args(0).toInt else 1
    val reps = if (args.length > 1) args(1).toInt else 4
    val outDir = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft_graph_rehearsal"
    val spark = EngineDefaults
      .builder("graft-graph-rehearsal", EngineDefaults.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val nc = 15000L * scale
    val ns = 1000L * scale
    val picks = 39
    val dir = s"$outDir/scale$scale"
    // customers at 2k, suppliers at 2k+1 — the tradeGraphEdges node
    // encoding; distinct() mirrors the real pipeline's pair dedup
    spark.range(nc).flatMap { c =>
        (0 until picks).map { j =>
          val s = (GenRehearsal.mix(c * 1000003L + j) >>> 8) % ns
          (c * 2L, s * 2L + 1L)
        }
      }
      .toDF("src", "dst").distinct()
      .repartition(32, pmod(col("src"), lit(32L)))
      .write.mode("overwrite").parquet(s"$dir/directed")
    val directed = spark.read.parquet(s"$dir/directed")
    directed.union(directed.select(col("dst").as("src"),
        col("src").as("dst")))
      .repartition(32, pmod(col("src"), lit(32L)))
      .write.mode("overwrite").parquet(s"$dir/edges")
    val edges = spark.read.parquet(s"$dir/edges")
    val nEdges = edges.count()
    System.err.println(s"[graph-rehearsal] scale $scale: $nEdges edges " +
      s"($nc customers, $ns suppliers)")

    def bench(name: String)(f: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        val s = (System.nanoTime() - t0) / 1e9
        // kernels seal results as local checkpoints: sweep them so rep N
        // starts from rep 1's block-manager state (edges live in parquet)
        graft.operators.Lifetime.sweep(spark)
        s
      }
      val measured = if (reps > 1) times.tail else times
      // lower-middle for even counts — a 2-element "median" must not
      // silently become the max
      val med = measured.sorted.apply((measured.length - 1) / 2)
      println(f"""{"kernel":"$name","scale":$scale,"edges":$nEdges,"sec":$med%.3f}""")
    }
    import graft.operators.Graph
    val seed = Seq(2L).toDF("node")
    bench("pagerank") { Graph.pageRankTop(edges, iterations = 5,
      topK = 20).count() }
    bench("hits") { Graph.hitsTop(directed, iterations = 3,
      topK = 20).count() }
    bench("kcore") { Graph.kCoreSurvivors(edges, k = 5,
      rounds = 4).count() }
    bench("bfs") { Graph.bfsLayers(edges, seed = 2L,
      maxHops = 4).count() }
    bench("ppr") { Graph.personalizedPageRankTop(edges, seed,
      iterations = 5, topK = 20).count() }
    spark.stop()
  }
}
