package graft

import org.apache.spark.sql.functions._

import graft.queries.{Dashboard, Scale}
import graft.schema.FieldCatalog
import graft.sinks.FanOutSink
import graft.transform.Transforms

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join") {
    val large = (1 to 1000).map(i => (i % 3, s"row$i")).toDF("k", "payload")
    val small = Seq((0, "zero"), (1, "one"), (2, "two")).toDF("k", "label")
    val salted = Scale.saltedJoin(large, small, "k", 8)
      .orderBy("payload").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val plain = large.join(small, "k")
      .orderBy("payload").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("exactRerank: same rows with broadcast disabled") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    def rows(): Seq[(Long, Long)] =
      graft.operators.Similarity.ivfPqTopKRerank(
          q, "vec_id", "embedding", emb, "vec_id", "embedding",
          k = 3, rerank = 6)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
        .toSeq
    val served = rows()
    assert(served.nonEmpty)
    assert(withoutBroadcast(rows()) == served)
  }

  test("bloomScreenedJoin equals the plain join; screen precedes it") {
    val large = (1 to 2000).map(i => (i.toLong % 500, s"row$i"))
      .toDF("k", "payload")
    val small = (0 to 49).map(i => (i.toLong, s"dim$i")).toDF("k", "label")
    val screened = Scale.bloomScreenedJoin(large, small, "k", 1000L)
    val got = screened.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val plain = large.join(small, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == plain) // no false negatives, FPs removed by the join
    // string keys take the string branch
    val ls = large.withColumn("k", concat(lit("u"), col("k")))
    val ss = small.withColumn("k", concat(lit("u"), col("k")))
    assert(Scale.bloomScreenedJoin(ls, ss, "k", 1000L).count() ==
      ls.join(ss, "k").count())
    // the membership screen must run on the large side BEFORE the join
    // (a LocalRelation input gets constant-folded by
    // ConvertToLocalRelation, so assert on a Range-backed plan)
    val largeR = spark.range(2000).select((col("id") % 500).as("k"),
      col("id").as("payload"))
    val planR = Scale.bloomScreenedJoin(largeR, small, "k", 1000L)
      .queryExecution.executedPlan.toString
    // the screen is Spark's own runtime-filter predicate — codegen'd,
    // not a Scala UDF boxing per row
    assert(planR.contains("might_contain"),
      s"expected the bloom screen filter:\n$planR")
    assert(!planR.contains("UDF"),
      s"bloom screen must not run as a Scala UDF:\n$planR")
    // sizing contract: BloomFilterAggregate silently clamps to the
    // runtime-filter session caps; buildBloom must raise them so a
    // 100M-key screen keeps its requested fpp instead of degrading to
    // a pass-everything no-op
    val bigItems = 100000000L
    val bits = math.ceil(bigItems * math.log(100.0) /
      (math.log(2.0) * math.log(2.0))).toLong
    graft.functions.BloomFunctions.buildBloom(
      spark.range(10).select(col("id").as("k")), "k", bigItems, 0.01)
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
      >= bigItems)
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
      >= bits)
  }

  test("saltedCountSum equals direct groupBy") {
    val df = (1 to 500).map(i => (i % 2, i.toDouble / 100)).toDF("k", "v")
    val salted = Scale.saltedCountSum(df, "k", "v", 8)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("sum_value"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == direct.toSeq)
  }

  test("zorderWrite bounds BOTH dimensions' per-file spans") {
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // a 64×64 uniform grid: under an x-only sort every file spans the
    // full y range; under z-order both spans shrink
    val grid = spark.range(4096)
      .select((col("id") / 64).cast("long").as("x"),
        (col("id") % 64).cast("long").as("y"))
    Scale.zorderWrite(grid, s"$base/z", "x", "y", bits = 3, nFiles = 8)
    grid.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/xsort")
    def fileSpans(dir: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val d = spark.read.parquet(f.getPath)
            .agg(max(col("y")) - min(col("y")),
              max(col("x")) - min(col("x"))).collect().head
          (d.getLong(0), d.getLong(1))
        }
    val zs = fileSpans(s"$base/z")
    val xs = fileSpans(s"$base/xsort")
    // x-sorted layout: y unbounded (span 63) in every file
    assert(xs.forall(_._1 == 63L), xs.toString)
    // z-order: EVERY file's span is a strict subset in BOTH dims
    assert(zs.forall { case (ySpan, xSpan) => ySpan <= 40 && xSpan <= 40 },
      zs.toString)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS bucketed_a")
    spark.sql("DROP TABLE IF EXISTS bucketed_b")
    try {
      val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      Scale.writeBucketed(a, "bucketed_a", "k", 4, "k")
      Scale.writeBucketed(b, "bucketed_b", "k", 4, "k")
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      assert(Scale.isShuffleFree(joined), joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 100)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("chunking is shuffle-free; vocabulary top-k avoids a global sort") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val chunks = TextAnalysis.chunk(docs, "doc_id", "text", 32, 8)
    assert(Scale.isShuffleFree(chunks),
      chunks.queryExecution.executedPlan.toString)
    val vocab = TextAnalysis.vocabulary(docs, "text", 10)
    val plan = vocab.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary top-k should be TakeOrderedAndProject, not a global sort:\n$plan")
  }

  test("mixture resampling is shuffle-free and composes into shard export") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(sf("documents"))
    val mixed = Sampling.mixtureSample(docs, "doc_id", "lang",
      Map("en" -> 1.5, "de" -> 0.5))
    // the recipe joins as a broadcast literal; the copy fan-out is a
    // bounded explode — the whole operator must run inside the scan
    assert(Scale.isShuffleFree(mixed),
      mixed.queryExecution.executedPlan.toString)
    // the documented composition: a composite (doc_id, epoch) key gives
    // repeated copies distinct shard positions — the result is a true
    // permutation of the resampled multiset
    val keyed = mixed.withColumn("pos_key",
      concat_ws(":", col("doc_id"), col("epoch")))
    val sharded = Sampling.shardAssign(keyed, "pos_key", 4)
    assert(sharded.count() == mixed.count(), "shard must keep every copy")
    assert(sharded.select("shard", "position").distinct().count() ==
      mixed.count(), "(shard, position) must be unique per copy")
  }

  test("round-9 curation ops: scan-resident or broadcast-only plans") {
    import graft.operators.{Curation, Sampling, TextAnalysis}
    val docs = spark.read.parquet(sf("documents"))
    // Gopher rules are one pure projection — zero exchanges
    val gopher = TextAnalysis.gopherRules(docs, "doc_id", "text")
    assert(Scale.isShuffleFree(gopher),
      gopher.queryExecution.executedPlan.toString)
    // BPE encode: the replace chain runs inside the scan; the only
    // exchange is the per-doc count aggregate
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text",
      TextAnalysis.referenceMerges)
    val encPlan = enc.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(encPlan).size == 1,
      s"bpe encode must shuffle once (doc-id agg):\n$encPlan")
    // temperature mixture: the corpus probes a BROADCAST recipe — a
    // sort-merge join would mean the corpus shuffled on the group key
    val temp = Sampling.temperatureSample(docs, "doc_id", "lang", 0.5)
    val tempPlan = temp.queryExecution.executedPlan.toString
    assert(tempPlan.contains("BroadcastHashJoin") &&
      !tempPlan.contains("SortMergeJoin"),
      s"recipe must broadcast:\n$tempPlan")
    // calibration: extremes and bucket-ECDF tables broadcast back; the
    // corpus is never the shuffled side of a join
    val cal = Curation.calibrateScores(
      docs.select(col("doc_id"), col("n_chars").cast("double").as("s")),
      "s", 64)
    val calPlan = cal.queryExecution.executedPlan.toString
    assert(!calPlan.contains("SortMergeJoin"),
      s"calibration joins must broadcast:\n$calPlan")
  }

  test("round-9 retrieval/analytics ops: plan shapes hold") {
    import graft.operators.{Similarity, TextAnalysis}
    import graft.queries.TimeSeries
    val docs = spark.read.parquet(sf("documents"))
    val emb = spark.read.parquet(sf("embeddings"))
    val events = spark.read.parquet(sf("events"))
    // feature hashing: ONE aggregate keyed on the doc — a second
    // exchange would mean a (doc, bucket) intermediate shuffle
    val fh = TextAnalysis.featureHashVectors(docs, "doc_id", "text", 16)
    val fhPlan = fh.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(fhPlan).size == 1,
      s"feature hashing must aggregate once:\n$fhPlan")
    // attribution: two keyed aggregates, no window over raw events
    val att = TimeSeries.firstTouchAttribution(events, "ts", "user_id",
      "event_type", "event_id", "purchase")
    val attPlan = att.queryExecution.executedPlan.toString
    assert(!attPlan.contains("Window"),
      s"attribution must not window raw events:\n$attPlan")
    // binary ANN: Hamming candidate cut runs as WindowGroupLimit
    // (map-side top-rerank before any sort); query side broadcast
    val bin = Similarity.binaryTopK(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, rerank = 5)
    val binPlan = bin.queryExecution.executedPlan.toString
    assert(binPlan.contains("WindowGroupLimit") &&
      binPlan.contains("BroadcastNestedLoopJoin") ||
      binPlan.contains("WindowGroupLimit") &&
      binPlan.contains("BroadcastExchange"),
      s"binary ANN: WindowGroupLimit + broadcast queries expected:\n$binPlan")
    // matryoshka: full-width corpus vectors are joined back by id as a
    // hash join — never re-scored all-pairs (exactly one cross join,
    // the prefix candidate stage)
    val mat = Similarity.matryoshkaTopK(
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, prefixDims = 16, rerank = 5)
    val matPlan = mat.queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(matPlan).size == 1,
      s"matryoshka: exactly one cross stage (prefix candidates):\n$matPlan")
  }

  test("bm25 plan: tf materialized once, top-k without a global sort") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val scored = TextAnalysis.bm25Rational(docs, "doc_id", "text",
      Seq("spark", "vector", "merge"), topK = 20)
    val plan = scored.queryExecution.executedPlan.toString
    // the top-k is per-partition (TakeOrderedAndProject), never a global
    // sort of every scored document
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k should be TakeOrderedAndProject:\n$plan")
    // the exploded token stream exists only inside the one checkpointed
    // tf computation: the scoring plan must read that materialization
    // (both for df counts and for scoring), never re-explode the corpus
    assert(!plan.contains("Generate explode"),
      s"bm25 scoring plan re-explodes the corpus:\n$plan")
    // the only remaining corpus scan is the constants aggregate (N, L) —
    // column-pruned to the text column, nothing else touches the parquet
    val scans = plan.sliding("FileScan parquet".length)
      .count(_ == "FileScan parquet")
    assert(scans <= 1, s"bm25 scoring plan has $scans corpus scans:\n$plan")
  }
}

class DashboardSpec extends SparkSpec {

  private lazy val baseDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dash").toString
    val payloads = spark.read.option("multiLine", true)
      .json(s"${Payloads.ReferenceSamples}/*.json")
    FanOutSink.writeBatch(
      Transforms.conform(Transforms.flattenSingle(payloads)), dir)
    dir
  }

  test("sensor directory variable: distinct + concat + order") {
    Payloads.assumeReferenceSamples()
    val station = FanOutSink.readTable(spark, baseDir, FieldCatalog.Groups.Station)
    val dir = Dashboard.sensorDirectory(station).collect()
    assert(dir.length == 3)
    assert(dir.map(_.getAs[Int]("sensor_index")).toSeq == Seq(53, 14867, 147883))
    val combo = dir.last.getAs[String]("combo")
    assert(combo.endsWith(", 147883"))
    // variable 2 un-concats back to the sensor index
    val idx = spark.sql(s"SELECT '${combo.replace("'", "''")}' AS c")
      .select(Dashboard.sensorIndexFromCombo(col("c"))).head().getInt(0)
    assert(idx == 147883)
  }

  test("environmental panel: bucketed max for one sensor in range") {
    Payloads.assumeReferenceSamples()
    val env = FanOutSink.readTable(spark, baseDir, FieldCatalog.Groups.Environmental)
    val p = Dashboard.panel(env, FieldCatalog.Groups.Environmental,
      "1 hour", 147883, "2022-07-01 00:00:00", "2022-08-01 00:00:00")
    val rows = p.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Int]("temperature") == 77)
    // out-of-range sensor yields nothing
    assert(Dashboard.panel(env, FieldCatalog.Groups.Environmental,
      "1 hour", 99999, "2022-07-01 00:00:00", "2022-08-01 00:00:00").count() == 0)
  }

  test("raw station text panel projects time-ordered columns") {
    Payloads.assumeReferenceSamples()
    val station = FanOutSink.readTable(spark, baseDir, FieldCatalog.Groups.Station)
    val p = Dashboard.rawPanel(station, Seq("name", "model", "hardware"),
      14867, "2022-01-01 00:00:00", "2023-01-01 00:00:00")
    val r = p.collect()
    assert(r.length == 1 && r(0).getAs[String]("name").nonEmpty)
  }

  test("reference-shaped panel SQL runs against the registered views") {
    Payloads.assumeReferenceSamples()
    Dashboard.registerViews(spark, baseDir)
    // the environmental panel's rawSql (dashboard JSON :1433) with
    // $__timeGroupAlias -> window(...).start and $__timeFilter inlined
    val rows = spark.sql(
      """SELECT window(data_time_stamp, '1 hour').start AS time,
        |  max(temperature) AS temperature,
        |  max(humidity) AS humidity,
        |  max(pressure) AS pressure
        |FROM environmental_fields
        |WHERE data_time_stamp >= TIMESTAMP '2022-07-01 00:00:00'
        |  AND data_time_stamp < TIMESTAMP '2022-08-01 00:00:00'
        |  AND sensor_index = 147883
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Int]("temperature") == 77)
    // templating variable 1 (dashboard JSON :3522): DISTINCT + CONCAT
    val combos = spark.sql(
      """SELECT DISTINCT sensor_index, name,
        |  CONCAT(name, ', ', sensor_index) AS combo
        |FROM station_information_and_status_fields
        |ORDER BY sensor_index ASC""".stripMargin).collect()
    assert(combos.length == 3)
    assert(combos.map(_.getAs[Int]("sensor_index")).toSeq ==
      Seq(53, 14867, 147883))
  }

  test("events time-range predicate reaches the parquet scan as raw-ns pushdown") {
    // q_f_pushdown_scan filters the RAW nanosecond column (a filter on
    // the converted µs timestamp cannot push through the conversion) —
    // lock that the predicates actually land in PushedFilters.
    val plan = SparkEntry.queries("q_f_pushdown_scan")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val pushed = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(s =>
      s.contains("GreaterThanOrEqual(ts") && s.contains("LessThan(ts") &&
        s.contains("EqualTo(event_type,click)")),
      s"time/type predicates missing from PushedFilters:\n${pushed.mkString("\n")}")
  }

  test("panel time filter prunes date partitions at the scan") {
    Payloads.assumeReferenceSamples()
    val env = FanOutSink.readTable(spark, baseDir, FieldCatalog.Groups.Environmental)
    val p = Dashboard.panel(env, FieldCatalog.Groups.Environmental,
      "1 hour", 147883, "2022-07-01 00:00:00", "2022-08-01 00:00:00")
    val scan = p.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("Scan parquet")).getOrElse("")
    // the date-range predicate must reach the scan as a partition filter,
    // not just a data filter on data_time_stamp
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("date"),
      s"date partition predicate missing from scan: $scan")
  }

  test("continuation-wave ops: shuffle budgets hold") {
    def plan(q: String): String = graft.SparkEntry.queries(q)(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    // TWA / counter_agg: window + rollup share the key partitioning —
    // exactly ONE shuffle end to end
    assert(exchanges(plan("q_twa")) == 1, s"q_twa:\n${plan("q_twa")}")
    assert(exchanges(plan("q_counter_agg")) == 1,
      s"q_counter_agg:\n${plan("q_counter_agg")}")
    // CDC latest-wins: one max_by aggregate, never a window
    val cdc = plan("q_cdc_apply")
    assert(exchanges(cdc) == 1 && !cdc.contains("Window"), s"cdc:\n$cdc")
    // sketch lifecycle under its exact-count AUDIT: the production
    // rollup keeps the 2-exchange shape (raw keys once at day grain,
    // sketch blobs once at week grain) — locked below on the operator
    // itself; the registry's audit form adds the exact arms it exists
    // to pay for: day-grain countDistinct (2: (day,key) then day),
    // week-grain countDistinct (2: (week,key) then week), and the
    // K-row broadcast that joins them (1) — 6 total, and the join must
    // broadcast (weeks are few), never sort-merge
    val rollup = graft.operators.Sketches
      .distinctRollup(spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"), "ts", "user_id")
      .queryExecution.executedPlan.toString
    assert(exchanges(rollup) == 2, s"rollup:\n$rollup")
    val audit = plan("q_sketch_distinct")
    assert(exchanges(audit) == 6 && audit.contains("BroadcastHashJoin") &&
      !audit.contains("SortMergeJoin"), s"sketch audit:\n$audit")
    // sketch overlap: the production operator reads the corpus ONCE
    // (plus the broadcast 1-row bounds pass — 2 scans, every join a
    // broadcast of a single row); the audit pays exactly one more
    // corpus+bounds pass for its exact arm (4 scans), still join-free
    def scans(p: String): Int = "Scan parquet".r.findAllIn(p).size
    val ovl = graft.operators.Sketches.overlapEstimate(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
      "ts", "user_id").queryExecution.executedPlan.toString
    assert(scans(ovl) == 2 && !ovl.contains("SortMergeJoin"),
      s"overlap operator:\n$ovl")
    val ovlAudit = plan("q_sketch_overlap")
    assert(scans(ovlAudit) == 4 && !ovlAudit.contains("SortMergeJoin"),
      s"overlap audit:\n$ovlAudit")
    // MaxSim: the ONLY join is the broadcast of the query token bag —
    // corpus token vectors never ride a join shuffle
    val ms = plan("q_sim_maxsim")
    assert("BroadcastNestedLoopJoin".r.findAllIn(ms).size == 1 &&
      !ms.contains("SortMergeJoin"), s"maxsim:\n$ms")
    // FK orphan audit: the anti join must hash (broadcast), not BNL
    val orph = plan("q_dq_orphans")
    assert(orph.contains("BroadcastHashJoin") &&
      orph.contains("LeftAnti"), s"orphans:\n$orph")
  }

  test("round-10 sketch/graph/layout/bootstrap ops: shuffle budgets hold") {
    def plan(q: String): String = graft.SparkEntry.queries(q)(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    def shuffles(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).size +
        "Exchange rangepartitioning".r.findAllIn(p).size
    // CMS: sketch build is ONE hash shuffle of depth·width partials;
    // exact top-k rides TakeOrderedAndProject (never a global sort);
    // the probe joins the broadcast sketch — no sort-merge anywhere
    val cms = plan("q_sketch_cms")
    assert(shuffles(cms) <= 3 && cms.contains("TakeOrderedAndProject") &&
      cms.contains("BroadcastHashJoin") && !cms.contains("SortMergeJoin"),
      s"cms (${shuffles(cms)} shuffles):\n$cms")
    // quantile audit: GK sketch arm is one map-combined groupBy; the
    // per-group approx row joins back by BROADCAST for the rank counts
    val qa = plan("q_sketch_quantiles")
    assert(qa.contains("BroadcastHashJoin") && !qa.contains("SortMergeJoin"),
      s"quantiles:\n$qa")
    // z-order audit: the interleave is pure expression work — exactly
    // ONE hash shuffle (the bucket groupBy) beyond the broadcast 1-row
    // bounds pass, and the bit algebra stays codegen'd (no UDF)
    val zo = plan("q_layout_zorder")
    assert(shuffles(zo) == 1 && !zo.contains("SortMergeJoin") &&
      !zo.contains("BatchEvalPython") && !zo.contains("ScalaUDF"),
      s"zorder (${shuffles(zo)} shuffles):\n$zo")
    // bootstrap: all B replica sums in ONE hash shuffle of B·partition
    // partials (the explode must sit BELOW a partial HashAggregate);
    // the 32-row band ranking may repartition to one but never a
    // corpus-wide sort-merge join
    val bs = plan("q_bootstrap_ci")
    assert(shuffles(bs) <= 2 && bs.contains("HashAggregate") &&
      !bs.contains("SortMergeJoin"),
      s"bootstrap (${shuffles(bs)} shuffles):\n$bs")
    // PageRank family: since the advice-round cache-release fix, the
    // registered result is an eagerly-materialized local checkpoint
    // (caches freed after the top-k) — the final plan is a bare
    // checkpoint scan with the decode projection, nothing iterative,
    // no cartesian. The persisted-edge iteration shape is asserted by
    // GraphSpec on the operator itself.
    Seq("q_graph_pagerank", "q_graph_ppr").foreach { q =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD") &&
        !p.contains("CartesianProduct") &&
        !p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("round-11 ops: plan shapes hold") {
    def plan(q: String): String = graft.SparkEntry.queries(q)(spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    // AUC rides the Mann-Whitney machinery: aggregates + one window
    // over DISTINCT scores — no join of any kind in the plan
    val auc = plan("q_eval_auc")
    assert(auc.contains("HashAggregate") && !auc.contains("Join"),
      s"auc:\n$auc")
    // conformal + MAD: the per-group (center, q) tables broadcast back
    // onto the row side — never a corpus-sized sort-merge join
    Seq("q_conformal", "q_stat_mad").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin"), s"$q:\n$p")
    }
    // link prediction seals its top-k (caches released) — the registered
    // plan is a bare checkpoint scan; the broadcast side tables and the
    // TakeOrderedAndProject top-k are asserted by GraphSpec on the plan
    // the seal executed
    val lp = plan("q_graph_linkpred")
    assert(lp.contains("Scan ExistingRDD") &&
      !lp.contains("CartesianProduct"), s"linkpred:\n$lp")
    // blocked ER seals via localCheckpoint (caches released) — the
    // registered plan is a bare checkpoint scan; the in-block join
    // shape is asserted by DedupSpec on the operator itself
    val er = plan("q_er_blocked")
    assert(er.contains("Scan ExistingRDD") &&
      !er.contains("CartesianProduct"), s"er:\n$er")
    // boilerplate census: map-combined df rollup + TakeOrdered top-k,
    // never a global sort of the gram table
    val bp = plan("q_text_boilerplate")
    assert(bp.contains("TakeOrderedAndProject") &&
      !bp.contains("SortMergeJoin"), s"boilerplate:\n$bp")
    // key-skew telemetry: per family one map-combined rollup and a
    // TakeOrdered top-10 — no global sort beyond the 4-row output
    val sk = plan("q_dq_skew")
    assert(sk.contains("TakeOrderedAndProject") &&
      !sk.contains("SortMergeJoin"), s"skew:\n$sk")
  }

  test("round-12 ops: anchored exact arms carry no unbounded cartesian") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.GlobalLimitExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, BroadcastHashJoinExec,
      SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    // AQE (session-shared, order-dependent across suites) wraps the
    // plan in AdaptiveSparkPlanExec, a LEAF node — collect() can't see
    // inside it. Flatten through the wrapper explicitly.
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case o => o
      }
      inner +: inner.children.flatMap(flatten)
    }
    // a broadcast side is BOUNDED when its subtree pins a fixed-budget
    // pick (TakeOrdered / limit), semi-joins the corpus against a
    // bounded id set, or scans a checkpoint whose MATERIALIZED row
    // count is within the budget — counting the RDD (cheap: blocks
    // already exist) closes the hole where any localCheckpointed
    // frame, including a checkpointed full corpus, would have passed
    // on node type alone
    val maxBudgetRows = 256L * 6L // anchors + their <= budget*k neighbors
    def bounded(p: SparkPlan): Boolean = flatten(p).exists {
      case _: TakeOrderedAndProjectExec => true
      case _: GlobalLimitExec => true
      case r: RDDScanExec => r.rdd.count() <= maxBudgetRows
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => true
      case j: SortMergeJoinExec if j.joinType == LeftSemi => true
      case _ => false
    }
    Seq("q_sim_mutual_anchored", "q_sim_hubness_anchored",
        "q_embed_intrinsic_dim_anchored").foreach { q =>
      val plan = graft.SparkEntry.queries(q)(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan
      assert(!plan.toString.contains("CartesianProduct"), s"$q:\n$plan")
      val bnljs = flatten(plan)
        .collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnljs.nonEmpty,
        s"$q: expected broadcast-bounded scoring joins\n$plan")
      bnljs.foreach { j =>
        val build = j.buildSide match {
          case BuildRight => j.right
          case BuildLeft => j.left
        }
        assert(bounded(build), s"$q: UNBOUNDED broadcast side:\n$build")
      }
    }
  }
}
