package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph, Multimodal, Profiling, Sampling, Similarity, Sketches, Stats, TextAnalysis}
import graft.queries.{TimeSeries, Warehouse}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the training-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal), each with equivalent
  * DuckDB SQL in [[oracleSql]] where SQL-expressible.
  *
  * Oracle-parity conventions (why the queries look the way they do):
  *  - `events.ts` is stored with nanosecond precision; Spark truncates to
  *    microseconds on read. Queries therefore never emit raw timestamps —
  *    time buckets and order keys are epoch-second BIGINTs, which floor
  *    identically in both engines.
  *  - Aggregates over DOUBLE measures sum fixed-scale DECIMALs (exact,
  *    order-independent) and surface the result as DOUBLE — bit-identical
  *    under any partitioning and in both engines. Per-row double arithmetic
  *    (ratios, products) is deterministic IEEE and needs no such care.
  *  - Ties are always broken by a unique id so row_number/top-k are
  *    deterministic.
  */
object SparkEntry {

  /** Every table's declared schema, so a read runs no schema-inference
    * job. The timestamps are parquet µs with isAdjustedToUTC=false, which
    * Spark reads as TIMESTAMP_NTZ. `SchemaSpec` checks each against the
    * schema Spark infers from the files. */
  private[graft] val TableSchemas: Map[String, String] = Map(
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "region" -> "r_regionkey INT, r_name STRING",
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(TableSchemas(name)).parquet(s"$dir/$name.parquet")

  /** Epoch seconds (floor). Via TimestampType so TIMESTAMP_NTZ inputs
    * (parquet ms/us with isAdjustedToUTC=false) work too — the session TZ
    * is pinned UTC, so NTZ and instant agree numerically. */
  private def epochS(c: Column): Column =
    c.cast(TimestampType).cast(LongType)
  private def bucketS(c: Column, unit: String): Column =
    epochS(date_trunc(unit, c)).as("bucket_s")
  private val decimalSum: Column => Column = c =>
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)
  private def decimalAvg(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType) / count(c)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q3-shaped: 3-way join + decimal-exact revenue rollup. */
  def entry(spark: SparkSession): DataFrame =
    q3ShippingPriority(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- TPC-H

  /** Q1-shaped pricing summary: wide hash aggregation with partial/final
    * phases; at 100 TB this is one scan + one tiny shuffle (6 groups). */
  private def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decimalSum(col("l_quantity")).as("sum_qty"),
        decimalSum(col("l_extendedprice")).as("sum_base_price"),
        decimalSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        decimalSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("sum_charge"),
        decimalAvg(col("l_quantity")).as("avg_qty"),
        decimalAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Q3-shaped shipping priority: selective dimension filters reach the
    * scans (PushedFilters), then customer⨝orders is broadcast-able after
    * AQE sees the filtered size; revenue is decimal-exact. */
  private def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1995-03-15").cast(TimestampType)
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), epochS(col("o_orderdate")).as("o_orderdate_s"),
        col("o_orderpriority"))
      .agg(decimalSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  /** Q6-shaped forecast revenue: the pure scan-throughput marker — every
    * predicate reaches the parquet reader, one partial+final agg, no
    * join, no wide shuffle. */
  private def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(decimalSum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** Q5-shaped local-supplier volume: 6-table star join; region/nation are
    * broadcast dimensions, the only real shuffle is lineitem⨝orders. */
  private def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    val l = t(spark, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decimalSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  // ------------------------------------------------- time-series (events)

  /** `events.ts` across testdata vintages: current data is plain µs
    * TIMESTAMP (arriving as `TIMESTAMP_NTZ` — numeric casts must route
    * through `TimestampType`, see [[epochS]]); pre-r8 data was parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects unless
    * read as a raw nanosecond LONG (`nanosAsLong`) and converted
    * explicitly — integer floor-div, the same truncation DuckDB's
    * `epoch_ns(ts)//1000` applies. The type match keeps both vintages
    * readable. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** Time-range scan over events with the predicate applied to the RAW
    * nanosecond column, so it reaches the parquet reader as a PushedFilter
    * (a filter on the converted µs timestamp cannot push through the
    * conversion expression). Equivalent for whole-second bounds: µs
    * truncation never crosses a whole-second boundary. */
  private def eventsInRange(spark: SparkSession, dir: String,
      startIso: String, endIso: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def ns(iso: String): Long =
      java.time.LocalDateTime.parse(iso.replace(" ", "T"))
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.filter(col("ts") >= ns(startIso) && col("ts") < ns(endIso))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.filter(col("ts") >= lit(startIso).cast(TimestampType) &&
                   col("ts") < lit(endIso).cast(TimestampType))
    }
  }

  /** A1 — tumbling 1 h downsample, max + count per sensor (user). */
  private def qA1(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(bucketS(col("ts"), "hour"), col("user_id"))
      .agg(max(col("value")).as("max_value"), count(lit(1)).as("n"))

  /** A2 — the continuous aggregate's hourly rollup, batch form. */
  private def qA2(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(bucketS(col("ts"), "hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), decimalSum(col("value")).as("sum_value"))

  /** A3 + X2 — DISTINCT directory with CONCAT combo. */
  private def qA3(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), col("event_type"),
        concat(col("event_type"), lit(", "), col("user_id")).as("combo"))
      .distinct()

  /** A4 — trailing 10-minute sliding mean per user (pseudo-average). */
  private def qA4(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.slidingAverage(events(spark, dir), "ts", "user_id", "value", 600L)
      .select(col("event_id"), col("user_id"), col("epoch_s"), col("sliding_avg"))

  /** A5/S3 — historic range scan + 60-minute server-side averages. */
  private def qA5(spark: SparkSession, dir: String): DataFrame =
    eventsInRange(spark, dir, "2024-01-05 00:00:00", "2024-01-20 00:00:00")
      .groupBy(bucketS(col("ts"), "hour"), col("user_id"))
      .agg(decimalAvg(col("value")).as("avg_value"), count(lit(1)).as("n"))

  /** S3 — historic 10-minute pre-aggregation over a narrower range. */
  private def qS3(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsInRange(spark, dir, "2024-01-10 00:00:00", "2024-01-12 00:00:00")
    e.groupBy((floor(epochS(col("ts")) / 600L) * 600L).as("bucket_s"))
      .agg(decimalAvg(col("value")).as("avg_value"), count(lit(1)).as("n"))
  }

  /** S3 raw arm — `average=0` (`PurpleAirAPI.py:261`): the ranged samples
    * themselves, no averaging. */
  private def qS3Raw(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.historicAverage(events(spark, dir), "ts", "user_id", "value",
        "2024-01-10 00:00:00", "2024-01-11 00:00:00", 0)
      .select(epochS(col("ts")).as("epoch_s"), col("user_id"), col("value"))

  /** F1+F2+F4+F5+F7 — the multi-sensor pushdown predicate set as one scan. */
  private def qFilters(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.pushdownScan(
        eventsInRange(spark, dir, "2024-01-03 00:00:00", "2024-01-25 00:00:00"),
        "ts", "user_id",
        "event_type", "click", (1L to 40L), "value", 5.0, 50.0,
        "2024-01-03 00:00:00", "2024-01-25 00:00:00")
      .select(col("event_id"), col("user_id"), epochS(col("ts")).as("epoch_s"),
        col("value"))

  /** J1 — vertical split + recombine: 3 key-repeated projections of events
    * equi-joined back on the PK. */
  private def qJ1(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val p1 = e.select(col("event_id"), col("user_id"), col("event_type"))
    val p2 = e.select(col("event_id"), col("value"))
    val p3 = e.select(col("event_id"), epochS(col("ts")).as("epoch_s"))
    p1.join(p2, Seq("event_id")).join(p3, Seq("event_id"))
  }

  /** J2/F2 — show_only semi-join: orders restricted to BUILDING customers. */
  private def qJ2(spark: SparkSession, dir: String): DataFrame = {
    val building = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    t(spark, dir, "orders")
      .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decimalSum(col("o_totalprice")).as("total"))
  }

  /** J3 — dimension probe: small signup-cohort dim broadcast onto the fact
    * scan (dashboard variable chain). */
  private def qJ3(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val dim = e.filter(col("event_type") === "signup" &&
        col("ts") < lit("2024-01-08 00:00:00").cast(TimestampType))
      .select(col("user_id")).distinct()
    e.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), decimalSum(col("value")).as("sum_value"))
  }

  /** J3 via the EXPLICIT bloom screen ([[Scale.bloomScreenedJoin]]):
    * semantically the same dim-probe join, but large-side rows that
    * cannot match are dropped by a codegen'd `might_contain` BEFORE the
    * join — the hand-placed form of Spark's injected runtime filter, for
    * plans the optimizer can't cross. The oracle is the plain join SQL:
    * bloom false positives are removed by the exact join, so results are
    * bit-identical. */
  private def qBloomScreen(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val dim = e.filter(col("event_type") === "signup" &&
        col("ts") < lit("2024-01-08 00:00:00").cast(TimestampType))
      .select(col("user_id")).distinct()
    graft.queries.Scale.bloomScreenedJoin(e, dim, "user_id",
        expectedItems = 100000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), decimalSum(col("value")).as("sum_value"))
  }

  /** O1 — total time sort: daily max, ordered ascending. */
  private def qO1(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(bucketS(col("ts"), "day"))
      .agg(max(col("value")).as("max_value"))
      .orderBy(col("bucket_s"))

  /** T3 — deterministic PK dedup: first event per (user, minute). */
  private def qT3(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("bucket_s", epochS(date_trunc("minute", col("ts"))))
    TimeSeries.dedupFirstPerKey(e, Seq(col("user_id"), col("bucket_s")),
        col("event_id"))
      .select(col("user_id"), col("bucket_s"), col("event_id"))
  }

  /** X2+X3 — concat then string_to_array + 1-based subscript round trip. */
  private def qX23(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        concat(col("c_name"), lit(", "), col("c_custkey")).as("combo"))
      .withColumn("part2", element_at(split(col("combo"), ", "), 2))

  /** Grouped exact distinct-count (parity-plus; the reference has no
    * distinct-count — `approx_count_distinct` is the 100 TB variant). */
  private def qA6(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))

  /** Per-entity consecutive delta via lag() — the classic derived metric
    * the reference's pseudo-averages approximate. Deterministic order:
    * (µs time, event_id). */
  private def qLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_us"), col("event_id"))
    events(spark, dir)
      .withColumn("epoch_us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .select("event_id", "user_id", "delta")
  }

  /** Gap sessionization (30 min) — windowed cumulative-sum plan. */
  private def qSessionize(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.sessionize(events(spark, dir), "ts", "user_id", "event_id", 1800L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        // integer floor-div, not double division: exact at µs magnitudes
        expr("min(epoch_us) div 1000000").as("session_start_s"))

  /** A7 — TimescaleDB-style `time_bucket_gapfill` + `locf`: hourly
    * buckets per user with the complete per-user spine and
    * last-observation-carried-forward values; filled rows report n = 0. */
  private def qA7GapfillLocf(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.gapfillLocf(events(spark, dir), "ts", "user_id", "value", 3600L)

  /** As-of join: each click event joined to the most recent purchase
    * value by the same user at-or-before its timestamp (NULL when the
    * user has no prior purchase). */
  private def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    TimeSeries.asofJoin(
      e.filter(col("event_type") === "click"), "event_id", "ts",
      e.filter(col("event_type") === "purchase"), "ts", "value", "user_id")
  }

  /** A8 — TimescaleDB-style `time_bucket_gapfill` + `interpolate`:
    * hourly buckets per user, gaps filled by the straight line through
    * the neighboring observed buckets. */
  private def qA8GapfillInterp(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.gapfillInterp(events(spark, dir), "ts", "user_id", "value", 3600L)

  /** Grouped heavy hitters: top-5 users per event type by event count,
    * tie-broken on user_id — planned as WindowGroupLimit (map-side
    * top-k before the shuffle). */
  private def qTopkUsers(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    TimeSeries.topKPerGroup(counts, Seq("event_type"),
      Seq(col("n").desc, col("user_id")), 5)
  }

  /** Equi-width histogram, 10 bins per event type — the TimescaleDB
    * `histogram()` dashboard panel. */
  private def qHistogram(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.histogram(events(spark, dir), "event_type", "value", 10)

  /** Cohort retention triangle: users by first-activity week × active
    * week offset. */
  private def qCohort(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.cohortRetention(events(spark, dir), "ts", "user_id")

  /** DAU + exact trailing-7-day WAU per activity day. */
  private def qWauSliding(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.slidingActiveUsers(events(spark, dir), "ts", "user_id",
      windowDays = 7)

  /** Markov transition matrix over per-user event-type sequences. */
  private def qEventTransitions(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.transitionMatrix(events(spark, dir), "ts", "user_id",
      "event_type", "event_id")

  /** CUSUM change point: the most likely mean-shift instant per event
    * type, exact integer statistic, ties to the earliest event. */
  private def qChangePoint(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.changePointCusum(events(spark, dir), "ts", "event_type",
      "value", "event_id")

  /** view → click → purchase funnel: users completing each prefix,
    * every step strictly after the previous. */
  private def qFunnel(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.funnel(events(spark, dir), "ts", "user_id", "event_type",
      Seq("view", "click", "purchase"))

  /** Exact per-type distribution summary: continuous p25/p50/p75/p95
    * plus the discrete median. */
  private def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.percentileSummary(events(spark, dir), "event_type", "value",
      Seq(0.25, 0.5, 0.75, 0.95))

  /** Bucketed range join: each click matched to every same-user purchase
    * "attribution window" `[purchase_ts, purchase_ts + 6 h]` containing
    * it — the interval-containment join Spark would otherwise plan as a
    * broadcast-nested-loop. Cell width = the 6 h span (explode factor
    * ≤ 2 per interval). */
  private def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), epochS(col("ts")).as("es"))
    val intervals = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("interval_id"), col("user_id"),
        epochS(col("ts")).as("lo"),
        (epochS(col("ts")) + 21600L).as("hi"))
    TimeSeries.rangeJoin(clicks, "event_id", "es",
      intervals, "interval_id", "lo", "hi", "user_id", 21600L)
  }

  // ------------------------------------------------------- text analysis

  private def docs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")

  private def qTextTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"))

  private val stopwords = TextAnalysis.defaultMarkers.values.flatten.toSeq.distinct

  private def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(docs(spark, dir), "text", stopwords)
      .select("doc_id", "n_chars", "n_tokens", "avg_token_len", "punct_ratio",
        "digit_ratio", "upper_ratio", "stopword_ratio", "quality_score")

  private def qTextLangid(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(docs(spark, dir), "text")
      .select("doc_id", "lang", "predicted_lang",
        "score_de", "score_en", "score_es", "score_fr", "score_zh")

  private def qTextWinnow(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowedFingerprints(docs(spark, dir), "doc_id", "text",
      k = 8, w = 4)

  private def qTextScrub(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scrub(docs(spark, dir), "text")
      .select("doc_id", "scrubbed", "n_redactions")

  private def qTextRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(docs(spark, dir), "doc_id", "text")

  /** Gopher rule flags: per-doc integer-exact booleans for each
    * published filter rule + the conjunction — rule-level attrition
    * telemetry, not just a keep bit. */
  private def qTextGopher(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(docs(spark, dir), "doc_id", "text",
      minWords = 50, maxWords = 100000)

  /** BPE round-1 statistics: top-30 adjacent character pairs over the
    * frequency-weighted vocabulary — the corpus reduces to distinct
    * words once, pairs ride vocabulary weights. */
  private def qTextBpePairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairStats(docs(spark, dir), "text", k = 30)

  /** BPE encode under the fixed 8-rule merge table: per-doc token count
    * with the LEARNED-tokenizer semantics (rank-ordered greedy merges),
    * the inference complement of q_text_bpe_pairs. */
  private def qTextBpeEncode(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(docs(spark, dir), "doc_id", "text",
      TextAnalysis.referenceMerges)

  private def qTextNormalize(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextAnalysis.normalize(col("text")).as("normalized"))

  /** HTML→text extraction (C4/CCNet-class regex stripper): scripts/
    * styles/comments out, tags to spaces, entities decoded, whitespace
    * collapsed. */
  private def qTextStripHtml(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TextAnalysis.stripHtml(col("text")).as("stripped"))

  /** Context-window chunking: 32-token windows, 8-token overlap. */
  private def qChunkWindows(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(docs(spark, dir), "doc_id", "text",
      chunkSize = 32, overlap = 8)

  /** Global vocabulary: top 100 tokens by corpus frequency. */
  private def qVocabTopk(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(docs(spark, dir), "text", 100)

  /** Linear-classifier inference (fastText/CCNet quality-filter shape):
    * corpus tokens probe a broadcast weight table, exact integer logit
    * per document. The registry's weight table is built deterministically
    * — top-100 vocabulary tokens, each weighted
    * `(md5_60(token) mod 2001) − 1000` milli-units — so the oracle
    * reproduces the model bit-for-bit. */
  private def qTextLinear(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val md5_60 = conv(substring(md5(col("token").cast(StringType)), 1, 15),
      16, 10).cast(LongType)
    val weights = TextAnalysis.vocabulary(d, "text", 100)
      .select(col("token"), (pmod(md5_60, lit(2001L)) - 1000L).as("w_milli"))
    TextAnalysis.linearScore(d, "doc_id", "text", weights, biasMilli = 50L)
  }

  /** Top-20 PMI collocations over adjacent bigrams (quarter-bit exact
    * scores, min pair count 5). */
  private def qTextCollocations(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(docs(spark, dir), "doc_id", "text",
      minCount = 5L, topK = 20)

  /** Edit-distance-1 fuzzy pairs via lossless FastSS deletion-
    * neighborhood blocking, over the top-200 CHAR-5-GRAM vocabulary
    * (this corpus's word vocabulary is a closed 31-token set with no
    * distance-1 pairs — the gram level exercises the blocking + verify
    * non-trivially); the oracle brute-forces all pairs, independently
    * proving the blocking loses nothing. */
  private def qVocabFuzzy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fuzzyPairs(
      TextAnalysis.charGramVocabulary(docs(spark, dir), "text", n = 5,
        k = 200).select(col("token"), col("freq")))

  /** Bounded-memory heavy hitters — the same exact top-100 through the
    * Misra-Gries candidates + exact-recount scale path (the shuffle
    * carries ≤ 1/support tokens, not the vocabulary); oracle = the exact
    * vocabulary SQL, proving the bound holds on this corpus. */
  private def qVocabHeavy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitters(docs(spark, dir), "text", 100,
      support = 0.0005)

  /** BM25 (rational fixed-point) top-20 for a 3-term query. */
  private def qTextBm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Rational(docs(spark, dir), "doc_id", "text",
      Seq("spark", "vector", "merge"), topK = 20)

  /** Hybrid retrieval: BM25 top-50 ⊕ exact-cosine top-50 (query vector
    * 0) fused by integer reciprocal-rank, final top-20. */
  private def qTextHybridRrf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hybridRrfTopK(docs(spark, dir), "doc_id", "text",
      Seq("spark", "vector", "merge"),
      emb(spark, dir), "vec_id", "embedding", queryVecId = 0L,
      n = 50, k = 20)

  /** TF-IDF top-5 keywords per document (quarter-bit exact idf). */
  private def qTextTfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopK(docs(spark, dir), "doc_id", "text", k = 5)

  /** Unicode-script profile: per-doc block-range char counts + dominant
    * script — the script router in front of per-language pipelines. */
  private def qTextScripts(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(docs(spark, dir), "doc_id", "text")

  /** CCNet-style LM quality scoring: bigram model trained on the English
    * slice (the "clean reference"), every document scored in exact
    * quarter-bit NLL — out-of-language and junk text surfaces as high
    * milli-bits-per-token, the published head/middle/tail signal. */
  private def qLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.lmPerplexity(d, "doc_id", "text",
      d.filter(col("lang") === "en"), "text")
  }

  /** CCNet head/middle/tail: the [[qLmPerplexity]] scores partitioned
    * into thirds by milli-bits-per-token (value-tied cuts — equal
    * scores share a bucket); `head` is the slice the published recipe
    * keeps. */
  private def qLmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.Curation.perplexityBuckets(
        TextAnalysis.lmPerplexity(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text"))
      .select("doc_id", "milli_bits_per_token", "bucket")
  }

  /** OOV-rate quality signal: per-doc fraction of tokens outside the
    * corpus top-50 vocabulary, exact in milli-units. */
  private def qTextOov(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovRate(docs(spark, dir), "doc_id", "text", vocabK = 50)

  /** DSIR-style data selection: exact quarter-bit log-likelihood ratio
    * between a bigram LM trained on the English slice (target) and one
    * trained on the whole pool (background); top 200 most target-like
    * documents. */
  private def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.dsirSelect(d, "doc_id", "text",
      d.filter(col("lang") === "en"), "text", d, "text", k = 200)
  }

  /** Corpus composition profile per (lang, source): counts, char totals,
    * exact discrete median, corpus share. */
  private def qProfileCorpus(spark: SparkSession, dir: String): DataFrame =
    Profiling.corpusProfile(docs(spark, dir), Seq("lang", "source"), "n_chars")
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_size").as("total_chars"), col("min_size").as("min_chars"),
        col("max_size").as("max_chars"),
        col("median_size").as("median_chars"), col("share"))

  private def qTextFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(spark, dir), "text", 5)
      .select("doc_id", "md5_fp", "min_shingle_fp")

  // --------------------------------------------------------------- dedup

  private def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir), "doc_id", "text")
      .select("doc_id", "content_md5", "dup_count", "keep_id", "keep")

  private def qDedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, threshold = 0.10)

  /** Sub-document containment pairs: the asymmetric within-corpus
    * dedup signal Jaccard misses — a short doc quoted inside a long
    * one scores `|A∩B|/min(|A|,|B|)` near 1.0 while its Jaccard stays
    * tiny. Same postings chain as `q_dedup_ngram_jaccard`. */
  private def qDedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, threshold = 0.5)

  private def qDedupWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowNearDupPairs(docs(spark, dir), "doc_id", "text",
      k = 24, w = 8, minShared = 2L, threshold = 0.5)

  private def qDedupNgramPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, threshold = 0.5)

  /** Same exact semantics with the hot-bucket cap forced DOWN so common
    * shingles go over-cap and the SALTED block-pair path engages — the
    * oracle is the identical exact-Jaccard SQL, proving on real data
    * that salting is lossless (the pre-r9 drop-at-cap behavior loses
    * pairs here). */
  private def qDedupPrefixSalted(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, threshold = 0.5, maxDocFreq = 8L)

  /** The prefix filter parameterized for a SATURATED shingle space:
    * 5-word shingles keep the universe ≫ corpus, so prefix buckets
    * stay discriminative (at 3 words a tiny-vocab corpus degenerates
    * toward all-pairs candidates — the sf1 rehearsal pathology in
    * SCALE.md). The width contract IS the scale guard for this
    * operator family. */
  private def qDedupPrefixW5(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(docs(spark, dir), "doc_id", "text",
      shingleWords = 5, threshold = 0.5, maxDocFreq = 8L)

  /** Near-dup pairs collapsed into clusters: connected components over
    * the Jaccard pair graph — the dedup DECISION (one survivor per
    * component). */
  private def qDedupComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
        shingleWords = 3, threshold = 0.10))

  /** The dedup decision APPLIED: corpus minus non-survivors. */
  private def qDedupApply(spark: SparkSession, dir: String): DataFrame =
    Dedup.applyComponentDedup(docs(spark, dir), "doc_id",
        Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
          shingleWords = 3, threshold = 0.10))
      .select("doc_id", "lang")

  /** [[qDedupApply]] with provenance: each survivor carries its cluster
    * size and removed-duplicate count — the attrition audit. */
  private def qDedupApplyStats(spark: SparkSession, dir: String): DataFrame =
    Dedup.applyComponentDedupWithStats(docs(spark, dir), "doc_id",
        Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
          shingleWords = 3, threshold = 0.10))
      .select("doc_id", "lang", "cluster_size", "n_removed")

  /** The SUBSTRING-level dedup story composed end to end — winnowed
    * fingerprint pairs → connected components → survivors only — the
    * [[qDedupApply]] mirror for the winnowing family (what a user
    * actually runs against mirror/quote/concatenation duplication). */
  private def qDedupWinnowApply(spark: SparkSession, dir: String): DataFrame =
    Dedup.applyComponentDedup(docs(spark, dir), "doc_id",
        Dedup.winnowNearDupPairs(docs(spark, dir), "doc_id", "text",
          k = 24, w = 8, minShared = 2L, threshold = 0.5))
      .select("doc_id", "lang")

  /** Decontamination: 3/4 of the corpus as "training" probed against the
    * held-out quarter — which training docs share ≥ 2 tri-grams with an
    * eval doc, scored by containment of the eval doc. */
  private def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.crossCorpusContamination(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
      d.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
      shingleWords = 3, minShared = 2)
  }

  /** [[qDecontaminate]] with canonical normalization composed upstream
    * (the published recipes lower-case/collapse before shingling): both
    * splits shingle [[TextAnalysis.normalize]]d text, so case/spacing
    * variants of an eval doc still count as contamination. */
  private def qDecontaminateNormalized(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.crossCorpusContamination(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
      d.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
      shingleWords = 3, minShared = 2, normalize = true)
  }

  /** C4-style span excision: every duplicated 8-word block survives only
    * at its first corpus occurrence; documents come back REWRITTEN with
    * a removed-block count. */
  private def qDedupSpan(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedupRewrite(docs(spark, dir), "doc_id", "text", spanWords = 8)

  /** Paragraph-level dedup (Dolma recipe): first corpus occurrence of
    * each \n\n-delimited block survives; docs come back rewritten. */
  private def qDedupParagraph(spark: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(docs(spark, dir), "doc_id", "text")

  /** Corpus duplication telemetry off the 8-word span decision: one row
    * of block totals, duplicated fraction, and affected-doc counts. */
  private def qDedupSpanProfile(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDuplicationProfile(docs(spark, dir), "doc_id", "text",
      spanWords = 8)

  /** Span-level decontamination: train docs (¾ split) come back with any
    * 8-word block that also occurs in the eval split (¼) excised — the
    * surgical complement of q_decontaminate's whole-doc flag. */
  private def qDecontaminateSpan(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.spanDecontaminate(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
      d.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
      spanWords = 8)
  }

  private def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicates(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.10)

  private def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicates(docs(spark, dir), "doc_id", "text",
      maxHamming = 14)

  /** The operators composed end-to-end: quality gate → exact dedup →
    * deterministic sample — the standard corpus-curation pipeline. */
  private def qCuration(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.basicPipeline(docs(spark, dir), "doc_id", "text",
      stopwords, minQuality = 0.3, sampleRate = 0.5)

  /** Exact dedup over NORMALIZED text — case/whitespace variants of one
    * page become exact duplicates (the normalize-then-hash composition). */
  private def qDedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(
        docs(spark, dir).select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("text")),
        "doc_id", "text")
      .select("doc_id", "dup_count", "keep_id", "keep")

  /** Per-language quality budget: the 25 best-scoring docs per lang. */
  private def qCurationTopk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.topQualityPerGroup(
        TextAnalysis.quality(docs(spark, dir), "text", stopwords)
          .select(col("doc_id"), col("lang"), col("quality_score")),
        "lang", "quality_score", "doc_id", 25)
      .select("doc_id", "lang", "quality_score", "quality_rank")

  // ------------------------------------------------------------ sampling

  /** Deterministic Bernoulli(0.25) sample — the reproducible train/eval
    * split primitive. */
  private def qSampleUniform(spark: SparkSession, dir: String): DataFrame =
    Sampling.uniform(docs(spark, dir), "doc_id", 0.25)
      .select("doc_id", "lang")

  /** Deterministic per-language cap — skew rebalancing. */
  private def qSampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedCap(docs(spark, dir), "lang", "doc_id", 40)
      .select("doc_id", "lang", "sample_rank")

  /** Exactly-200 deterministic sample (k smallest hash draws) — the
    * fixed-size eval-set primitive; monotone in k. */
  private def qSampleFixed(spark: SparkSession, dir: String): DataFrame =
    Sampling.fixedSize(docs(spark, dir), "doc_id", 200)
      .select("doc_id", "lang", "sample_rank")

  /** Median/MAD robust outlier scoring per event type — the detector
    * heavy tails can't corrupt; exact percentile parity with DuckDB
    * quantile_cont. */
  private def qProfileOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.robustOutliers(
        events(spark, dir).select("event_id", "event_type", "value"),
        "event_type", "value", k = 3.0)
      .select("event_id", "event_type", "value", "med", "mad",
        "robust_z", "is_outlier")

  /** Deterministic mixture resampling to a training recipe: en
    * upsampled 1.5×, fr kept, de/es downsampled, zh doubled — expected
    * multiplicity exactly the rate, same rows on every rerun. */
  private def qSampleMixture(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(docs(spark, dir), "doc_id", "lang",
        Map("en" -> 1.5, "fr" -> 1.0, "de" -> 0.5, "es" -> 0.25,
          "zh" -> 2.0))
      .select("doc_id", "lang", "epoch")

  /** Temperature-balanced mixture at α = 1/2: the largest language
    * samples at 0.5, every other at 0.5·sqrt(n_max/n_g) — expected
    * counts ∝ sqrt(n_g), the multilingual flattening recipe with the
    * rates DERIVED from the corpus. */
  private def qSampleTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(docs(spark, dir), "doc_id", "lang",
        headRate = 0.5)
      .select("doc_id", "lang", "epoch")

  /** Per-language TOKEN budget: greedy hash-order admission until each
    * language has spent 2000 training tokens (soft cap — the crossing
    * document is kept). */
  private def qCurationTokenBudget(spark: SparkSession, dir: String)
      : DataFrame =
    graft.operators.Curation.tokenBudgetPerGroup(
        docs(spark, dir).withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast(LongType)),
        "lang", "doc_id", "n_tokens", budget = 2000L)
      .select("doc_id", "lang", "n_tokens", "tokens_before")

  /** Histogram-ECDF calibration of the quality score into 64 buckets:
    * each doc carries its integer ECDF standing (cum_lt / n_total) so
    * keep-top-q thresholds are percentile-addressed. */
  private def qCurationCalibrate(spark: SparkSession, dir: String)
      : DataFrame =
    graft.operators.Curation.calibrateScores(
        TextAnalysis.quality(docs(spark, dir), "text", stopwords)
          .select(col("doc_id"), col("quality_score")),
        "quality_score", buckets = 64)
      .select("doc_id", "quality_score", "bucket", "cum_lt", "n_total")

  /** Deterministic training-shard export: reproducible global shuffle
    * order (shard, position) with no global sort. */
  private def qExportShards(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardAssign(docs(spark, dir), "doc_id", 8)
      .select("doc_id", "lang", "shard", "position")

  /** Deterministic sequence packing into 512-token training bins. */
  private def qExportPack(spark: SparkSession, dir: String): DataFrame =
    Sampling.packTokenBudget(
        docs(spark, dir).withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast(LongType)),
        "doc_id", "n_tokens", budget = 512L, nShards = 4)
      .select("doc_id", "n_tokens", "shard", "bin", "bin_pos")

  // ---------------------------------------------------------- similarity

  private def emb(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")

  /** OLAP rollup: (event_type, day) subtotal ladder + grand total in
    * one Expand-pass aggregate. */
  private def qRollup(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.rollupSummary(
      events(spark, dir)
        .withColumn("day_s", epochS(date_trunc("day", col("ts")))),
      Seq("event_type", "day_s"), "value")

  /** Pivot: per-user event-type count matrix over the enumerated types. */
  private def qPivotCounts(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.pivotCounts(events(spark, dir), "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  /** OLAP cube: all four grouping planes of (event_type, day). */
  private def qCube(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.cubeSummary(
      events(spark, dir)
        .withColumn("day_s", epochS(date_trunc("day", col("ts")))),
      Seq("event_type", "day_s"), "value")

  /** First-touch attribution: purchases credited to each user's
    * earliest event type. */
  private def qAttribution(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.firstTouchAttribution(events(spark, dir), "ts", "user_id",
      "event_type", "event_id", conversionType = "purchase")

  /** Feature-hashed 16-dim doc vectors (exact bucket counts). */
  private def qTextFeatureHash(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.featureHashVectors(docs(spark, dir), "doc_id", "text",
      dims = 16)

  /** The text→vector bridge composed end to end: feature-hashed doc
    * vectors feed exact-cosine ANN — clusterable search with no learned
    * embedding anywhere. */
  private def qTextHashvecKnn(spark: SparkSession, dir: String): DataFrame = {
    val v = TextAnalysis.featureHashVectors(docs(spark, dir), "doc_id",
        "text", dims = 16)
      .withColumn("vec",
        array((0 until 16).map(i => col(s"f$i").cast(DoubleType)): _*))
    Similarity.bruteForceTopK(
      v.filter(col("doc_id") < 10), "doc_id", "vec",
      v, "doc_id", "vec", k = 5, cosine = true)
  }

  /** Language-ID confusion matrix vs the ground-truth lang column. */
  private def qTextLangidEval(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageIdConfusion(docs(spark, dir), "text", "lang")

  /** Funnel with a 1-hour conversion deadline from step 0. */
  private def qFunnelWindowed(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.funnelWindowed(events(spark, dir), "ts", "user_id",
      "event_type", Seq("view", "click", "purchase"), windowSeconds = 3600L)

  /** New vs returning daily actives (growth accounting). */
  private def qUserGrowth(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.newVsReturning(events(spark, dir), "ts", "user_id")

  /** Funnel step latencies: converted-key counts and exact mean µs
    * between adjacent steps. */
  private def qFunnelLatency(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.funnelLatency(events(spark, dir), "ts", "user_id",
      "event_type", Seq("view", "click", "purchase"))

  /** Equi-depth histogram: 8 rank-quantile buckets of value per event
    * type (ntile, tie-broken on event_id). */
  private def qHistogramDepth(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.histogramEquiDepth(events(spark, dir), "event_type", "value",
      "event_id", 8)

  /** Trailing 6 h z-score anomaly flags per user (threshold 2σ). */
  private def qAnomaly(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.anomalyZScore(events(spark, dir), "ts", "user_id", "value",
        21600L, 2.0)
      .select(col("event_id"), col("user_id"), col("__es").as("epoch_s"),
        col("z"), col("anomaly"))

  /** One-pass exact covariance of the embedding matrix — the sufficient
    * statistic PCA/OPQ whitening consumes ([[graft.operators.Embeddings]]). */
  private def qEmbedCovariance(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.covariance(emb(spark, dir), "embedding", 8)

  /** Top principal component of the (first-8-dims) embedding
    * covariance by 8 integer power steps — the hash-exact registered
    * PCA (the full-width double-Jacobi whitening stays spec-gated);
    * v in exact ppb units, λ in exact 10⁻⁹ covariance units. */
  private def qEmbedPca(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.pcaPowerTop(emb(spark, dir), "embedding",
      dim = 8, iterations = 8)

  /** Per-label centroid cosine matrix: class-geometry audit over the
    * labeled embedding table (45 pairs over the 10 labels). */
  private def qEmbedLabelSim(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.labelCentroidSimilarity(emb(spark, dir),
      "label", "embedding")

  /** K-means training summary: 16 md5-seeded centroids, one exact Lloyd
    * round, per-cluster size + decimal-exact inertia (scale-6 partials,
    * one final DOUBLE) — the balance/convergence diagnostics behind
    * cluster-stratified curation. */
  private def qEmbedKmeans(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansSummary(emb(spark, dir), "vec_id", "embedding",
      k = 16, refineRounds = 1)

  /** Simplified silhouette over the same refined k-means clustering as
    * [[qEmbedKmeans]] — per-cluster separation quality. */
  private def qEmbedSilhouette(spark: SparkSession, dir: String): DataFrame =
    Similarity.silhouetteSummary(emb(spark, dir), "vec_id", "embedding",
      k = 16, refineRounds = 1)

  /** SQ8 scalar-quantized ANN: per-dimension 256-level affine grid —
    * the codebook-free compression arm beside PQ/IVF-PQ. */
  private def qSimSq8(spark: SparkSession, dir: String): DataFrame =
    Similarity.sq8TopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5)

  private def qSimBinary(spark: SparkSession, dir: String): DataFrame =
    Similarity.binaryTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5, rerank = 20)

  /** Leave-one-out 5-NN label accuracy per class over exact cosine —
    * the representation-quality probe. */
  private def qEmbedKnn(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.knnLabelAccuracy(
      Similarity.bruteForceTopK(
        emb(spark, dir).filter(col("vec_id") < 50), "vec_id", "embedding",
        emb(spark, dir), "vec_id", "embedding",
        k = 5, cosine = true, excludeSelf = true),
      emb(spark, dir), "vec_id", "label")

  /** Per-document 8-gram novelty (memorization-risk score). */
  private def qTextNovelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(docs(spark, dir), "doc_id", "text",
      shingleWords = 8)

  /** Matryoshka retrieval: 16-dim prefix candidates, full 64-dim exact
    * rerank — the MRL-embedding cost/recall trade. */
  private def qSimMatryoshka(spark: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding",
      k = 5, prefixDims = 16, rerank = 20)

  /** Recall@5 of the binary-quantization index vs exact cosine ground
    * truth — the knob-tuning evaluation harness, itself oracle-gated. */
  private def qSimRecallBinary(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(
      qSimBinary(spark, dir),
      Similarity.bruteForceTopK(
        emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
        emb(spark, dir), "vec_id", "embedding", k = 5, cosine = true),
      k = 5)

  /** IVF nprobe recall/cost sweep: for nprobe ∈ {1,2,4,8}, the exact
    * candidate count paid and recall@5 bought vs brute ground truth —
    * the pinned recall-vs-cost frontier of the registry's index. */
  private def qSimIvfSweep(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecallSweep(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5,
      numCentroids = 0, refineRounds = 1)

  private def qSimTopkDot(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5)

  private def qSimTopkCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5, cosine = true)

  /** Deterministic scratch dir for a persisted ANN index over `dir`'s
    * corpus — the LSH/IVF queries run the build-once/probe-many path the
    * operators are designed around, so the oracle gates the SAME code a
    * production probe executes. */
  private def indexDir(kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_index/" +
      s"${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  private def qSimLsh(spark: SparkSession, dir: String): DataFrame = {
    val idx = Similarity.writeLshIndex(emb(spark, dir), "vec_id", "embedding",
      indexDir("lsh", dir), planes = 8, tables = 4)
    Similarity.probeLsh(idx,
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  private def qSimIvf(spark: SparkSession, dir: String): DataFrame = {
    val idx = Similarity.writeIvfIndex(emb(spark, dir), "vec_id", "embedding",
      indexDir("ivf", dir), numCentroids = 0, refineRounds = 1)
    Similarity.probeIvf(idx,
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nprobe = 2)
  }

  /** Prototype-distance pruning: keep the 20 hardest (least prototypical)
    * vectors per refined cluster — the Sorscher et al. data-pruning
    * selection. */
  private def qPrunePrototypes(spark: SparkSession, dir: String): DataFrame =
    Similarity.prunePrototypes(emb(spark, dir), "vec_id", "embedding",
      numCentroids = 0, refineRounds = 1, keepPerCell = 20)

  /** Contrastive hard-negative mining: for the first 10 anchors, the 5
    * most-similar vectors with a different label, candidates drawn from
    * 2 probed IVF cells. */
  private def qSimHardneg(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding",
      numCentroids = 0, refineRounds = 1)
    Similarity.hardNegativesIvf(idx, e, "vec_id", "label",
      e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
      k = 5, nprobe = 2)
  }

  private def qSimLshMp(spark: SparkSession, dir: String): DataFrame = {
    val idx = Similarity.writeLshIndex(emb(spark, dir), "vec_id", "embedding",
      indexDir("lshmp", dir), planes = 8, tables = 2)
    Similarity.probeLsh(idx,
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, multiProbe = true)
  }

  /** PQ/ADC top-k: 64-dim corpus compressed to 4 one-byte codes. */
  private def qSimPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5,
      numSubspaces = 4, numCodes = 16)

  /** IVF-PQ: probed cells bound candidates, ADC lookups price them. */
  private def qSimIvfPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5,
      numCentroids = 0, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16)

  /** Full IVFADC: codes quantize cell RESIDUALS, scores decompose as
    * q·centroid + q·code(residual). */
  private def qSimIvfPqRes(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5,
      numCentroids = 0, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true)

  /** IVFADC+R: the same residual chain as [[qSimIvfPqRes]], but the
    * top-10 ADC shortlist is reranked with exact dot products — the
    * recall-recovery step a deployed index runs when original vectors
    * are kept beside the codes. */
  private def qSimIvfPqRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopKRerank(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5, rerank = 10,
      numCentroids = 0, refineRounds = 1, nprobe = 2,
      numSubspaces = 4, numCodes = 16, residual = true)

  private def qSimIvf2(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK2(
      emb(spark, dir).filter(col("vec_id") < 10), "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 5,
      numCentroids = 16, numCoarse = 4, nprobe = 2, cprobe = 2)

  private def qEmbNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDuplicates(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.25, planes = 6, tables = 4)

  private def qDedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairs(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.25, numCentroids = 0, refineRounds = 1)

  /** [[qDedupSemantic]] with `maxCell` forced BELOW the mean cell size,
    * so the hierarchical split path (over-full cells re-clustered among
    * their own members instead of dropped) is itself oracle-gated:
    * `maxDepth = 1` makes the engine's recursion depth part of the
    * query contract, which the DuckDB CTE chain reproduces exactly —
    * level-0 cells ≤ maxCell pair directly, over-full cells split once
    * by md5-seeded in-cell quantization, still-over-full children drop
    * like hot buckets. */
  private def qDedupSemanticSplit(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairs(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.25, numCentroids = 0, refineRounds = 1,
      maxCell = 120, splitFanout = 4, maxDepth = 1)

  /** [[qDedupSemanticSplit]] with exact (identical-vector) dedup
    * composed upstream: duplicate classes collapse to one
    * representative before clustering, so duplicated-beyond-maxCell
    * content exits via direct keeper pairs instead of bottoming out a
    * degenerate cell. Same split parameters, so the oracle replays the
    * class-collapse + restricted-corpus clustering end to end. */
  private def qDedupSemanticExact(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairsWithExact(
      emb(spark, dir), "vec_id", "embedding",
      threshold = 0.25, numCentroids = 0, refineRounds = 1,
      maxCell = 120, splitFanout = 4, maxDepth = 1)

  // ---------------------------------------------------------- multimodal

  private def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.metadataProfile(
      Multimodal.mediaFromText(docs(spark, dir), "doc_id", "text"))

  private def qMultimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.mediaFromText(docs(spark, dir), "doc_id", "text"), 8)
      .select(col("media_id"), col("n_bytes"),
        element_at(col("features"), 1).as("f0"))

  /** Metadata-only frame-sampling plan over a synthetic video corpus:
    * which frame offsets a decoder should materialize, derived without
    * ever reading payloads. */
  private def qMultimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromText(docs(spark, dir), "doc_id", "text")
      .withColumn("kind", lit("video"))
      .withColumn("duration_ms", pmod(col("media_id"), lit(10000L)))
    Multimodal.frameSamplePlan(media, everyMs = 1000L)
  }

  /** Perceptual-hash near-dup pairs over the media corpus, in the real
    * pipeline shape: thumbnail-resize first (8×8 — raster payloads get a
    * true nearest-neighbor thumbnail, out-of-gate payloads the
    * documented 64-byte-budget truncation), then dHash + banded
    * Hamming ≤ 3. On the text-byte gate corpus every row takes the
    * md5-stub branch over its first 64 bytes, so near-dup documents
    * sharing a prefix collide and the whole chain stays
    * oracle-reproducible. */
  private def qMultimodalPhash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.phashNearDuplicates(
      Multimodal.resize(
        Multimodal.mediaFromText(docs(spark, dir), "doc_id", "text"), 8, 8))

  /** Multimodal features composed into ANN end to end: decode every
    * payload into an 8-dim feature vector ([[Multimodal.extractFeatures]]
    * — deterministic, so fully oracle-checkable), then run IVF-PQ top-5
    * over the feature corpus — the image/audio near-dup query a curation
    * pipeline actually runs (find media whose decoded signal matches,
    * whatever the bytes look like). Frozen-seed quantizers
    * (refineRounds = 0), 4 subspaces × 16 codes over the 8-dim space. */
  private def qMultimodalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
        Multimodal.mediaFromText(docs(spark, dir), "doc_id", "text"), 8)
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    Similarity.ivfPqTopK(
      feats.filter(col("vec_id") < 10), "vec_id", "embedding",
      feats, "vec_id", "embedding", k = 5,
      numCentroids = 16, refineRounds = 0, nprobe = 2,
      numSubspaces = 4, numCodes = 16)
  }

  /** RFM customer segmentation over orders: quintile scores from
    * cumulative-histogram quantiles (ties share a score); monetary
    * snapped to a 100-unit grid for scoring. */
  private def qRfm(spark: SparkSession, dir: String): DataFrame =
    Warehouse.rfmSegments(t(spark, dir, "orders"), "o_custkey",
      "o_orderdate", "o_totalprice", tiles = 5, monetaryGrid = 100L)

  /** SCD Type-2 versioned dimension: per user, consecutive runs of the
    * same event_type become validity intervals. */
  private def qScd2(spark: SparkSession, dir: String): DataFrame =
    Warehouse.scd2Dimension(events(spark, dir), "ts", "user_id",
      "event_type", "event_id")

  /** CDC latest-wins snapshot: newest event's payload per user, via one
    * map-side-combined max_by; a latest 'error' record tombstones the
    * key out of the state. */
  private def qCdcApply(spark: SparkSession, dir: String): DataFrame =
    Warehouse.cdcLatestWins(events(spark, dir), "ts", "user_id",
      "event_id", Seq("event_type", "value"),
      deleteWhen = col("event_type") === "error")

  /** PSI drift per event type: value distribution of the first vs the
    * second half of the observed time range, bin width 20, quarter-bit
    * exact log ratios. */
  private def qDriftPsi(spark: SparkSession, dir: String): DataFrame =
    Warehouse.distributionDrift(events(spark, dir), "ts", "event_type",
      "value", binWidth = 20.0)

  /** MaxSim late interaction over pseudo-documents of 4 consecutive
    * 8-dim token vectors (doc = vec_id >> 2, token = vec_id mod 4);
    * queries are docs 0–1. */
  private def qSimMaxsim(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "embeddings")
      .select(shiftright(col("vec_id"), 2).as("doc"),
        pmod(col("vec_id"), lit(4L)).as("tok"), col("embedding"))
    Similarity.maxSimTopK(
      toks.filter(col("doc") < 2), "doc", "tok", "embedding",
      toks, "doc", "embedding", k = 5)
  }

  /** MinHash-LSH banding quality vs the exact 3-gram Jaccard ground
    * truth at the same 0.10 threshold (the registry's own minhash and
    * jaccard configs). */
  private def qDedupRecallMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashQualityEval(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.10)

  /** MinHash-LSH band sweep over the same k = 64 signature: candidate
    * cost and precision/recall per band count {8, 16, 32} vs the exact
    * 3-gram Jaccard truth — the dedup counterpart of the IVF nprobe
    * frontier (`q_sim_ivf_sweep`). */
  private def qDedupLshSweep(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashBandSweep(docs(spark, dir), "doc_id", "text",
      shingleWords = 3, k = 64, bandsSweep = Seq(8, 16, 32),
      threshold = 0.10)

  /** Three synchronous label-propagation rounds over the part
    * CO-PURCHASE graph (parts sharing ≥ 2 orders — the non-bipartite
    * projection; the customer↔supplier graph is bipartite, where
    * synchronous LPA oscillates by construction), then the community
    * census: top 20 product families by size with the total count. */
  /** Bidirectional part co-purchase graph: parts sharing ≥ 2 orders
    * (the n_pair floor keeps it sparse and NON-bipartite — unlike the
    * customer↔supplier trade graph, triangles exist here). */
  private def partCoPurchaseEdges(spark: SparkSession,
      dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("b"),
        col("l_partkey").cast(LongType).as("i")).distinct()
    val pairs = li.as("a")
      .join(li.as("c"), col("a.b") === col("c.b") && col("a.i") < col("c.i"))
      .groupBy(col("a.i").as("src"), col("c.i").as("dst"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2)
      .select(col("src"), col("dst"))
    pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def qGraphLabelprop(spark: SparkSession, dir: String): DataFrame =
    Graph.labelPropagationCommunities(partCoPurchaseEdges(spark, dir),
      iterations = 3, topK = 20)

  /** Local clustering coefficient decile census of the co-purchase
    * graph — the cliquishness fingerprint (the bipartite trade graph
    * would be all-zeros by construction; this graph has triangles). */
  private def qGraphClustering(spark: SparkSession, dir: String): DataFrame =
    Graph.clusteringCoefficientBands(partCoPurchaseEdges(spark, dir),
      maxDeg = 128L)

  /** Robust per-event-type location/spread: exact medians, MAD, and
    * the >3·MAD outlier share — the z-score profile's robust twin. */
  private def qStatMad(spark: SparkSession, dir: String): DataFrame =
    Stats.madProfile(events(spark, dir), "event_type", "value", k = 3.0)

  /** Sliding-window chunk census of the documents corpus (32-token
    * windows, stride 24 — sized to the corpus's 10-100-token docs so
    * the census spans real bands): per chunk-count band, document and
    * token totals, tokens emitted after overlap re-emission, and the
    * exact duplication multiplier the overlap costs. */
  private def qTextChunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkCensus(docs(spark, dir), "text",
      window = 32, stride = 24)

  /** Linear-kernel MMD² drift between the even- and odd-id embedding
    * cohorts: quantized mean-shift per dimension, the top-shifted
    * dimension and its ppm share — the snapshot-pair drift tripwire. */
  private def qEmbedDrift(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.meanShiftDrift(
      emb(spark, dir).withColumn("grp", pmod(col("vec_id"), lit(2L))),
      "vec_id", "embedding", "grp")

  /** Mergeable HLL lifecycle under its accuracy audit: daily user
    * sketches unioned to weekly uniques, gated against exact weekly
    * distincts — the oracle reproduces every exact column and the
    * `est_within_5pct` verdict (TRUE by the spec-locked lgK=12
    * accuracy contract), so a broken sketch fails the hash gate.
    * The raw estimate surface lives in [[Sketches.distinctRollup]]. */
  private def qSketchDistinct(spark: SparkSession, dir: String): DataFrame =
    Sketches.distinctRollupAudit(events(spark, dir), "ts", "user_id")

  /** Sketch-algebra audience overlap (est(A) + est(B) − est(A∪B))
    * under its accuracy audit: exact half/union/overlap counts plus
    * the estimate-error verdicts, one row. The raw estimate surface
    * lives in [[Sketches.overlapEstimate]]. */
  private def qSketchOverlap(spark: SparkSession, dir: String): DataFrame =
    Sketches.overlapAudit(events(spark, dir), "ts", "user_id")

  /** Count-min sketch (depth 4 × width 512, md5-portable bucket
    * hashes) probed at the exact top-10 users: because the hash is the
    * engine-portable md5_60, the ESTIMATES themselves hash-match the
    * oracle — the only sketch in the registry whose approximate values
    * (not just verdicts) are exact-gated. */
  private def qSketchCms(spark: SparkSession, dir: String): DataFrame =
    Sketches.countMinAudit(events(spark, dir), "user_id")

  /** Mergeable GK quantile summary (`percentile_approx`, accuracy
    * 1000) audited per event type against exact rank-selected
    * p50/p90/p99 — integer rank-window verdicts, value-selected exact
    * quantiles, nothing interpolated. */
  private def qSketchQuantiles(spark: SparkSession, dir: String): DataFrame =
    Sketches.quantileAudit(events(spark, dir), "event_type", "value")

  /** Directed customer→supplier purchase edges (customers even ids,
    * suppliers odd — the disjoint-id encoding every graph query
    * shares). */
  private def tradeGraphEdgesDirected(spark: SparkSession,
      dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }

  /** Bidirectional customer↔supplier trade graph: distinct pairs via
    * orders⋈lineitem, customers at node 2k, suppliers at 2k+1. */
  private def tradeGraphEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradeGraphEdgesDirected(spark, dir)
    pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def decodeNode(df: DataFrame): DataFrame =
    df.select(
      when(pmod(col("node"), lit(2L)) === 0, lit("C")).otherwise(lit("S"))
        .as("node_type"),
      expr("node div 2").as("node_id"), col("rank_ppb"))

  /** Five damped PageRank iterations over the bidirectional
    * customer↔supplier trade graph, all-integer parts-per-billion
    * arithmetic — bit-exact cross-engine, the oracle unrolls the same
    * five steps as CTEs. Top 20 by rank. */
  private def qGraphPagerank(spark: SparkSession, dir: String): DataFrame =
    decodeNode(Graph.pageRankTop(tradeGraphEdges(spark, dir),
      iterations = 5, topK = 20))

  /** HITS on the DIRECTED purchase graph: hub score ranks the
    * broadest buyers, authority score the suppliers those buyers
    * concentrate on — the asymmetric roles the bidirectional PageRank
    * blurs. 3 integer-ppb rounds, bit-exact (oracle unrolls them). */
  private def qGraphHits(spark: SparkSession, dir: String): DataFrame =
    Graph.hitsTop(tradeGraphEdgesDirected(spark, dir),
      iterations = 3, topK = 20)
      .select(col("side"), expr("node div 2").as("node_id"),
        col("score_ppb"))

  /** Reproducibility manifest of the documents release, 8 shards:
    * per-shard counts, token totals, key ranges, and two
    * order-independent XOR checksums (membership over key hashes,
    * integrity over key:content hashes) — re-exporting anywhere must
    * reproduce this table bit-for-bit. */
  private def qExportManifest(spark: SparkSession, dir: String): DataFrame =
    Sampling.exportManifest(docs(spark, dir), "doc_id", "text")

  /** Bought-together part pairs across orders: apriori-pruned pairwise
    * association rules (support ≥ 2 baskets), top 20 by support with
    * exact confidence and lift — all counts BIGINT, each ratio ONE
    * division of exact longs. */
  private def qBasketRules(spark: SparkSession, dir: String): DataFrame =
    Warehouse.associationRules(
      t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")

  /** Semi-structured rollup of the events `props` JSON payload: the
    * `$.k` field extracted per row inside the scan (codegen'd
    * get_json_object + try_cast) and rolled up per event type —
    * coverage, min/max/sum, distinct. The registry's JSON-column
    * surface: extraction without ever re-shuffling the raw JSON. */
  private def qJsonRollup(spark: SparkSession, dir: String): DataFrame =
    Warehouse.jsonFieldRollup(events(spark, dir), "event_type", "props")

  /** Token-weighted median document length per language: the lower
    * weighted median — smallest length whose cumulative token mass
    * reaches half the language total. Answers "what does the typical
    * TOKEN sit in", which diverges from the typical ROW wherever a
    * few huge documents carry the token mass. All-integer. */
  private def qWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      length(col("text")).as("n_chars"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Warehouse.weightedMedian(d, "lang", "n_chars", "n_tokens", "doc_id")
  }

  /** Value concentration per event type: Gini index of per-user total
    * value — 0 = evenly spread, →1 = a few whales carry the type.
    * Rank-weighted exact-integer identity, one division per group. */
  private def qValueGini(spark: SparkSession, dir: String): DataFrame =
    Warehouse.giniIndex(events(spark, dir), "event_type", "user_id",
      "value")

  /** Mutual information between event type and value bucket: the
    * feature-relevance / leakage read — quantized MI in bits, both
    * entropies, and normalized MI, all from the exact quarter-bit log
    * kernel so every integer hash-matches the oracle. */
  private def qMutualInfo(spark: SparkSession, dir: String): DataFrame =
    Warehouse.mutualInformation(
      events(spark, dir).select(col("event_type"),
        (floor(col("value") / 10.0).cast(LongType) * 10L)
          .as("value_bucket")),
      "event_type", "value_bucket")

  /** Brown–Forsythe (median-centered Levene): do event-type value
    * variances differ — the heteroscedasticity alarm that gates any
    * pooled-variance assumption. */
  private def qStatLevene(spark: SparkSession, dir: String): DataFrame =
    Stats.brownForsythe(events(spark, dir), "event_type", "value")

  /** Theil–Sen robust slope of the daily value series: the median of
    * all pairwise slopes — the outlier-proof trend beside the OLS
    * q_series_trend. */
  private def qSeriesTheilsen(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir).filter(col("value").isNotNull)
      .withColumn("epoch_s", epochS(col("ts")))
      .groupBy(expr("epoch_s div 86400L").as("x"))
      .agg(floor(sum(col("value").cast(DecimalType(28, 6))))
        .cast(LongType).as("y"))
    Stats.theilSenSlope(daily, "x", "y")
  }

  /** TwoNN intrinsic dimension over a FIXED 256-anchor exact sample:
    * each anchor's exact q12 1st/2nd-neighbor distance ratio against
    * the FULL corpus, folded through the shifted quarter-bit log —
    * how many dimensions the data actually occupies. Exact ground-
    * truth arm with a 100×-safe O(budget·n) plan (the unregistered
    * [[graft.operators.Embeddings.intrinsicDimension]] is the
    * unbounded all-pairs baseline); [[qEmbedIntrinsicDimAnn]] is the
    * index-served form. */
  private def qEmbedIntrinsicDimAnchored(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.Embeddings.intrinsicDimensionAnchored(
      emb(spark, dir), "vec_id", "embedding", anchorBudget = 256)

  /** Nearest-centroid confusion matrix over the labeled embeddings:
    * which label pairs are systematically confusable — the label-
    * quality instrument behind [[qEmbedMislabel]]'s shortlist. */
  private def qEmbedConfusion(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.centroidConfusion(emb(spark, dir),
      "vec_id", "label", "embedding")

  /** Lines-per-order histogram with CCDF — the order-shape census
    * that also prices the basket-pairing quadratic tail. */
  private def qBasketSizes(spark: SparkSession, dir: String): DataFrame =
    Warehouse.basketSizeHistogram(t(spark, dir, "lineitem"),
      "l_orderkey")

  /** Loyalty census: customers banded by lifetime order count with
    * customer/revenue ppm shares — "how much of the business is
    * repeat", with the distribution behind it. */
  private def qRepeatBands(spark: SparkSession, dir: String): DataFrame =
    Warehouse.repeatBands(t(spark, dir, "orders"), "o_custkey",
      "o_totalprice")

  /** Distinctive terms per language: top-10 by integer permille lift
    * of in-group vs overall token share — the corpus-card "what is in
    * this slice" table (class-based, not per-doc TF-IDF). */
  private def qTextDistinctive(spark: SparkSession,
      dir: String): DataFrame =
    TextAnalysis.distinctiveTerms(docs(spark, dir), "lang", "text",
      minCount = 5L, topK = 10)

  /** Token case/format hygiene per source: ALL-CAPS / Title-Case /
    * digits-only shares — the boilerplate and OCR-debris audit. */
  private def qTextCaseProfile(spark: SparkSession,
      dir: String): DataFrame =
    TextAnalysis.caseProfile(docs(spark, dir), "source", "text")

  /** Per-label embedding norm profile: exact q12 squared-norm
    * extremes, rank-picked median, RMS — the norm-collapse detector. */
  private def qEmbedNorms(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.normProfile(emb(spark, dir), "vec_id",
      "label", "embedding")

  /** kNN-graph hubness census over a FIXED 256-anchor exact sample:
    * top-20 sampled in-degree vectors over the anchors' exact
    * full-corpus top-5 cosine lists — the hub/antihub distortion
    * [[qSimMutualAnchored]]'s reciprocity filter removes, quantified.
    * Exact ground-truth arm with a 100×-safe O(budget·n) plan (the
    * unregistered [[Similarity.hubnessCensus]] is the unbounded
    * all-pairs baseline it samples); [[qSimHubnessIvf]] is the
    * index-served form. */
  private def qSimHubnessAnchored(spark: SparkSession,
      dir: String): DataFrame =
    Similarity.hubnessCensusAnchored(emb(spark, dir), "vec_id",
      "embedding", k = 5, topHubs = 20, anchorBudget = 256)

  /** Mutual top-5 cosine pairs with at least one endpoint in a FIXED
    * 256-anchor sample: both ranks come from exact full-corpus lists
    * (per-pair semantics identical to the brute mutual), the anchor
    * set only bounds which pairs are audited — the exact ground-truth
    * arm with a 100×-safe O(budget·k·n) plan. [[qSimMutualIvf]] is the
    * index-served form. */
  private def qSimMutualAnchored(spark: SparkSession,
      dir: String): DataFrame =
    Similarity.mutualTopKAnchored(emb(spark, dir), "vec_id",
      "embedding", k = 5, anchorBudget = 256)

  /** [[qSimMutual]] through the refined IVF index — the 100 TB form:
    * kNN lists from a corpus-wide nprobe=2 self-probe (candidates
    * bounded by cell membership, never n²), the mutual join unchanged. */
  private def qSimMutualIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopKIvf(emb(spark, dir), "vec_id", "embedding",
      k = 5, numCentroids = 0)

  /** [[qSimHubness]] through the refined IVF index — the 100 TB form:
    * in-degrees censused over the kNN-graph the index actually serves. */
  private def qSimHubnessIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.hubnessCensusIvf(emb(spark, dir), "vec_id", "embedding",
      k = 5, topHubs = 20, numCentroids = 0)

  /** [[qEmbedIntrinsicDim]] through the refined IVF index — the 100 TB
    * form: each point's two nearest drawn from its nprobe=2 probed
    * cells, identical exact-q12 ratio fold. */
  private def qEmbedIntrinsicDimAnn(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.Embeddings.intrinsicDimensionIvf(emb(spark, dir),
      "vec_id", "embedding", numCentroids = 0)

  /** Memorization-risk census: the share of 8-word shingle types and
    * mass repeated across documents — the verbatim-regurgitation
    * scalar behind the pairwise dedup family. */
  private def qTextMemorization(spark: SparkSession,
      dir: String): DataFrame =
    Dedup.memorizationRisk(docs(spark, dir), "doc_id", "text",
      shingleWords = 8)

  /** Heaps vocabulary-growth curve: new and cumulative types per
    * doc-id decile — flattening = saturating vocabulary. */
  private def qVocabGrowth(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(docs(spark, dir), "doc_id", "text")

  /** Linear multi-touch attribution: touches between conversions
    * share the closing purchase's credit equally (floor ppb) — the
    * fairness counterweight to first-touch. */
  private def qAttributionLinear(spark: SparkSession,
      dir: String): DataFrame =
    TimeSeries.linearAttribution(events(spark, dir), "ts", "user_id",
      "event_type", "event_id", "purchase")

  /** Top boilerplate char-16-grams by document frequency (stride 8 —
    * any shared run of ≥ 23 chars is witnessed): the strip-list scan
    * that runs before pairwise dedup pays for template debris. */
  private def qTextBoilerplate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateGrams(docs(spark, dir), "doc_id", "text",
      gram = 16, stride = 8, topK = 20)

  /** Per-source vs global n_chars quantile alignment — the
    * comparability audit before pooling per-source scores. */
  private def qStatQq(spark: SparkSession, dir: String): DataFrame =
    Warehouse.quantileAlignment(docs(spark, dir), "source", "n_chars")

  /** Markov removal-effect attribution over the purchase journeys —
    * the data-driven model the first-touch/linear heuristics
    * approximate; channels are the explicit non-conversion types. */
  private def qAttributionMarkov(spark: SparkSession,
      dir: String): DataFrame =
    TimeSeries.markovAttribution(events(spark, dir), "ts", "user_id",
      "event_type", "event_id", "purchase",
      channels = Seq("click", "error", "signup", "view"), horizon = 16)

  /** Wald–Wolfowitz runs test on the daily value series: too few
    * runs = trending, too many = oscillating — the randomness audit
    * behind every forecast assumption. */
  private def qStatRuns(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir).filter(col("value").isNotNull)
      .withColumn("epoch_s", epochS(col("ts")))
      .withColumn("day_s", expr("(epoch_s div 86400L) * 86400L"))
      .groupBy(col("day_s"))
      .agg(floor(sum(col("value").cast(DecimalType(28, 6))))
        .cast(LongType).as("value_units"))
    Stats.runsTest(daily, "day_s", "value_units")
  }

  /** Rate-breach audit: top-20 users by peak events-per-minute, with
    * the earliest peak minute — the bot / rate-limit census. */
  private def qRateBreaches(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.rateBreaches(events(spark, dir), "ts", "user_id",
      topK = 20)

  /** Label-noise shortlist: the 3 points farthest from their own
    * label centroid per label — exact micro-unit distances via the
    * quantize6 ladder and the round-half-away integer mean. */
  private def qEmbedMislabel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.mislabelCandidates(emb(spark, dir),
      "vec_id", "label", "embedding", topK = 3)

  /** Duplicate-cluster size histogram: the connected-component dedup
    * decision summarized as (cluster size → clusters, docs) — the
    * dedup yield curve. */
  private def qDedupClusterSizes(spark: SparkSession,
      dir: String): DataFrame = {
    val comp = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
        shingleWords = 3, threshold = 0.10))
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** Short/medium/long length census per source with token mass and
    * ppb doc shares — the context-budget/chunking read. */
  private def qTextLengthBands(spark: SparkSession,
      dir: String): DataFrame =
    TextAnalysis.lengthBands(docs(spark, dir), "source", "text")

  /** Longest-inactivity-gap histogram over users: daily-habit vs
    * lapse-and-return cohorts, with ppb user shares — engagement
    * regularity a mean-activity metric hides. */
  private def qUserGaps(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.userGapHistogram(events(spark, dir), "ts", "user_id")

  /** Cohort LTV triangle: (acquisition week × age week) active users,
    * value units, cumulative units, and per-user cumulative value at
    * micro-unit resolution — retention priced, not just counted. */
  private def qCohortLtv(spark: SparkSession, dir: String): DataFrame =
    Warehouse.cohortLtv(events(spark, dir), "ts", "user_id", "value")

  /** Inter-purchase gap SLA: days between consecutive purchases per
    * user, profiled with exact rank-selected p50/p90/p99 — the
    * repeat-behavior clock (lag window ∘ latency quantiles). */
  private def qRepurchaseGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_us_o"), col("event_id"))
    val withPrev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("epoch_us_o", TimeSeries.epochMicros(col("ts")))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
    Warehouse.latencyQuantiles(withPrev, "event_type", "prev_ts", "ts")
  }

  /** Markov memorylessness audit of the event stream: observed
    * two-step transitions vs the chained one-step prediction, per
    * (from, to) pair in signed ppb — is one step of memory enough? */
  private def qMarkov2step(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.markovTwoStepAudit(events(spark, dir), "ts", "user_id",
      "event_id", "event_type")

  /** ABC inventory classification of parts by revenue: the 80/15/5
    * head/body/tail split with exact integer boundary tests and ppm
    * shares. */
  private def qAbcAnalysis(spark: SparkSession, dir: String): DataFrame =
    Warehouse.abcAnalysis(t(spark, dir, "lineitem"), "l_partkey",
      "l_extendedprice")

  /** BFS layers from customer #1 over the trade graph: per-hop node
    * counts and id ranges — the reach/diameter probe; hop parity
    * separates the bipartite sides. */
  private def qGraphBfs(spark: SparkSession, dir: String): DataFrame =
    Graph.bfsLayers(tradeGraphEdges(spark, dir), seed = 2L,
      maxHops = 4)

  /** Freshness audit per event type: newest record vs the global
    * watermark, lag seconds, last-day volume, stale verdict at 1 h —
    * the F3 cursor semantics restated as monitoring. */
  private def qDqFreshness(spark: SparkSession, dir: String): DataFrame =
    Warehouse.freshnessAudit(events(spark, dir), "event_type", "ts",
      3600L)

  /** Fano-factor burstiness of the top-20 corpus terms: function
    * words sit near 1, topical words clump ≫ 1 — zero-occurrence
    * documents counted via the sufficient-statistic form. */
  private def qTextBurstiness(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.termBurstiness(docs(spark, dir), "doc_id", "text",
      topN = 20)

  /** Wilson 95% interval per event type for P(value ≥ 100) — the
    * closed-form binomial CI beside the bootstrap band. */
  private def qWilsonCi(spark: SparkSession, dir: String): DataFrame =
    Stats.wilsonInterval(
      events(spark, dir).withColumn("is_big", col("value") >= 100.0),
      "event_type", "is_big")

  /** Zipf rank-frequency slope over the top-1000 token types — the
    * power-law diagnostic (natural text ≈ −1): integer quarter-bit
    * log axes, BIGINT OLS sufficient statistics, diagnostic-grade
    * quantization like the PSI/MI family. */
  private def qTextZipf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfSlope(docs(spark, dir), "text", topN = 1000)

  /** Hour-of-day × day-of-week activity heatmap with ppb shares —
    * weekday/hour from pure integer epoch arithmetic, never engine
    * date-part functions. */
  private def qActivityMatrix(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.activityMatrix(events(spark, dir), "ts")

  /** Order→ship latency profile per order priority: exact
    * rank-selected p50/p90/p99 in integer days over the compact
    * (priority, days) distinct-value frame — the SLA read. */
  private def qShipLatency(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    Warehouse.latencyQuantiles(
      l.join(o, col("l_orderkey") === col("o_orderkey")),
      "o_orderpriority", "o_orderdate", "l_shipdate")
  }

  /** Lexical diversity per language: TTR, hapax mass, Simpson repeat
    * probability, and exact quarter-bit Shannon entropy of the unigram
    * distribution — the vocabulary-richness battery. */
  private def qTextDiversity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(docs(spark, dir), "lang", "text")

  /** Degree distribution of the undirected trade graph — the CCDF
    * histogram a hub/power-law analysis reads; all-integer. */
  private def qGraphDegreeDist(spark: SparkSession, dir: String): DataFrame =
    Graph.degreeDistribution(tradeGraphEdges(spark, dir))

  /** Degree assortativity of the trade graph: do broad buyers
    * concentrate on broad suppliers? Exact BIGINT sufficient
    * statistics, one fixed-order double combination. */
  private def qGraphAssortativity(spark: SparkSession,
      dir: String): DataFrame =
    Graph.degreeAssortativity(tradeGraphEdges(spark, dir))

  /** Kendall τ-b between daily event count and daily floored value
    * units — the pairwise-concordance cross-check on
    * [[qStatSpearman]]; the O(T²) pair pass runs on the ~30-row
    * aggregated day series, never the raw events. */
  private def qStatKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir).filter(col("value").isNotNull)
      .withColumn("epoch_s", epochS(col("ts")))
      .withColumn("day_s", expr("(epoch_s div 86400L) * 86400L"))
      .groupBy(col("day_s"))
      .agg(count(lit(1)).as("n_events"),
        floor(sum(col("value").cast(DecimalType(28, 6))))
          .cast(LongType).as("value_units"))
    Stats.kendallTauB(daily, "n_events", "value_units")
  }

  /** Price–size skyline of the parts catalog: the undominated
    * frontier under (minimize retail price, maximize size) — "the
    * largest size at every price", co-optimal duplicates counted. */
  private def qSkyline(spark: SparkSession, dir: String): DataFrame =
    Warehouse.paretoFrontier(t(spark, dir, "part"), "p_retailprice",
      "p_size")

  /** Heavy-change users: the top-20 users whose share of events moved
    * most between the first and second half of the month — the
    * per-key "what changed" ranking PSI/KS compress away. */
  private def qHeavyChange(spark: SparkSession, dir: String): DataFrame =
    Warehouse.shareShiftTopK(
      events(spark, dir).withColumn("is_late",
        epochS(col("ts")) >= lit(1705363200L)),
      "user_id", "is_late")

  /** Peak concurrent activity per day: each event opens a 30-min
    * activity interval, the +1/−1 sweep line reports the day's maximum
    * simultaneous count and the earliest second it is hit — the
    * capacity statistic behind "how many sessions at once". */
  private def qConcurrency(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.intervalConcurrency(events(spark, dir), "ts", 1800L)

  /** Item-to-item kNN over order baskets: top-5 co-purchase neighbors
    * per part by co-occurrence cosine — the "also bought" serving
    * table; apriori-pruned pairing, per-item ranked window. */
  private def qRecsysItemknn(spark: SparkSession, dir: String): DataFrame =
    Warehouse.itemSimilarityTopK(t(spark, dir, "lineitem"),
      "l_orderkey", "l_partkey", minCount = 2L, topK = 5)

  /** Per-language readability: corpus-level Flesch reading ease from
    * exact word/sentence-run/vowel-run masses — the prose-complexity
    * axis of the curation quality battery. */
  private def qTextReadability(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(docs(spark, dir), "lang", "text")

  /** Revenue concentration per nation: HHI over each customer's share
    * of the nation's order revenue — [[qValueGini]]'s inequality read
    * restated as the market-concentration scalar plus the effective
    * customer count; both dims broadcast into the fact scan. */
  private def qHhi(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val c = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val joined = o
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
    Warehouse.herfindahlIndex(joined, "n_name", "o_custkey",
      "o_totalprice")
  }

  /** Decile contribution table: per event type, users ranked into
    * value deciles with per-decile and cumulative shares — the Lorenz
    * curve behind [[qValueGini]]'s scalar, at the granularity a
    * whale-risk or curation decision actually reads. */
  private def qValueDeciles(spark: SparkSession, dir: String): DataFrame =
    Warehouse.decileShares(events(spark, dir), "event_type", "user_id",
      "value")

  /** Benford first-digit audit of order totals — the synthetic-data /
    * fraud smell test; digits from exact BIGINT formatting, expected
    * mass from the frozen ppb table, all-integer output. */
  private def qBenford(spark: SparkSession, dir: String): DataFrame =
    Profiling.benfordAudit(t(spark, dir, "orders"), "o_totalprice")

  /** Chi-squared independence between event type and the 50-unit value
    * bucket — "does the event type carry information about spend", the
    * categorical feature-relevance test next to [[qMutualInfo]]'s
    * information-theoretic read. Observed-cells-only identity form. */
  private def qStatChi2(spark: SparkSession, dir: String): DataFrame =
    Stats.chiSquareIndependence(
      events(spark, dir).filter(col("value").isNotNull)
        .withColumn("value_bucket",
          floor(col("value") / 50.0).cast(LongType) * 50L),
      "event_type", "value_bucket")

  /** One-way ANOVA of event value across event types — F and η² from
    * per-group (n, Σx, Σx²) sufficient statistics, one shuffle. */
  private def qStatAnova(spark: SparkSession, dir: String): DataFrame =
    Stats.anovaF(events(spark, dir), "event_type", "value")

  /** Spearman ρ between per-user activity (event count) and per-user
    * total value units — the monotone "do heavier users spend more"
    * association, tie-correct via doubled average ranks. */
  private def qStatSpearman(spark: SparkSession, dir: String): DataFrame = {
    val perUser = events(spark, dir).filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        floor(sum(col("value").cast(DecimalType(28, 6))))
          .cast(LongType).as("value_units"))
    Stats.spearmanCorr(perUser, "n_events", "value_units")
  }

  /** Mann-Whitney U: are purchase values stochastically larger than
    * click values — the distribution-free cohort comparison, with
    * tie-corrected z and rank-biserial effect size. */
  private def qStatMannWhitney(spark: SparkSession, dir: String): DataFrame =
    Stats.mannWhitneyU(events(spark, dir), "event_type", "value",
      "purchase", "click")

  /** Welch's t: purchase vs click mean value without the equal-variance
    * assumption, with Welch–Satterthwaite degrees of freedom. */
  private def qStatWelch(spark: SparkSession, dir: String): DataFrame =
    Stats.welchT(events(spark, dir), "event_type", "value",
      "purchase", "click")

  /** Vocabulary coverage curve of the corpus: token-mass share of the
    * top-10/100/1000 types — the Zipf statistic a tokenizer or vocab
    * budget is sized against; the tail is the future `<unk>` rate. */
  private def qTextCoverage(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabularyCoverage(docs(spark, dir), "text")

  /** TextRank keywords of the document corpus: integer PageRank (3
    * rounds) over the window-2 token co-occurrence graph, top 20 —
    * centrality over the corpus's connective structure, not raw
    * frequency. Node ids are md5_60(token); the oracle unrolls the
    * same 3 steps over the identical hashed edge set. */
  private def qTextKeywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.textRankKeywords(docs(spark, dir), "doc_id", "text")

  /** Theta/KMV sketch set algebra over the customers ordering in the
    * first vs second half of the order-date range: exact counts,
    * thetas, and union/intersection/difference ESTIMATES — all
    * md5-portable, so the estimates themselves hash-match the oracle
    * (the set-op capability HLL's union-only registers lack). */
  private def qSketchTheta(spark: SparkSession, dir: String): DataFrame =
    Sketches.thetaAudit(t(spark, dir, "orders"), "o_orderdate",
      "o_custkey")

  /** Densest 2D neighborhoods of the embedding corpus: per-point count
    * of neighbors within r = 0.02 on the first two quantized dims,
    * top 20 by (count, id) — the fixed-grid radius join (3×3 cell
    * replication, lossless equi-join) at density-probe scale. */
  private def qEmbedRadius(spark: SparkSession, dir: String): DataFrame =
    Similarity.radiusNeighborCounts(emb(spark, dir), "vec_id", "embedding")

  /** Correlogram of daily event value (lags 1–7): exact-moment
    * Pearson of the series against its lagged self — weekly rhythm
    * shows at lag 7, trend as slow decay. The read before trusting
    * the seasonality/forecast operators. */
  private def qSeriesAcf(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.autocorrelation(events(spark, dir), "ts", "value")

  /** Holt linear-trend forecast of daily event value, horizons 1–7
    * days: α = β = ½ double exponential smoothing as exact BIGINT
    * floor-halvings over the daily micro-unit sums; the oracle's
    * recursive CTE replays the identical recursion. */
  private def qForecastHolt(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.holtForecast(events(spark, dir), "ts", "value")

  /** Exact phrase search for "table scan" over the documents corpus:
    * positional postings pruned to the phrase vocabulary, adjacency
    * equi-joins on the implied start position — one row per matching
    * doc with occurrence count and first (1-based) position. */
  private def qTextPhrase(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.phraseSearch(docs(spark, dir), "doc_id", "text",
      Seq("table", "scan"))

  /** 5-core of the trade graph after 4 synchronous peeling rounds:
    * the dense trading kernel — customers holding ≥5 surviving
    * supplier relationships and vice versa, each with its degree
    * inside the surviving subgraph. Pure edge counting, bit-exact;
    * the oracle unrolls the 4 rounds plus the final degree pass. */
  private def qGraphKcore(spark: SparkSession, dir: String): DataFrame =
    Graph.kCoreSurvivors(tradeGraphEdges(spark, dir), k = 5, rounds = 4)
      .select(
        when(pmod(col("node"), lit(2L)) === 0, lit("C")).otherwise(lit("S"))
          .as("node_type"),
        expr("node div 2").as("node_id"), col("degree"))

  /** Z-order locality audit over events (x = user_id, y = seconds
    * since corpus start, 22 interleave bits): buckets = top 8 z-bits,
    * i.e. aligned 2¹⁸×2¹⁸ squares — each bucket's 2D bounding box in
    * the output is what makes the layout's pruning power measurable.
    * All-integer bit algebra; the oracle regenerates the identical
    * interleave term-for-term via [[Layout.zValueSql]]. */
  private def qLayoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val lo = e.agg(min(epochS(col("ts"))).as("lo_s"))
    val base = e.crossJoin(broadcast(lo))
      .select(col("user_id").as("xv"),
        (epochS(col("ts")) - col("lo_s")).as("yv"))
    graft.operators.Layout.zOrderAudit(base, col("xv"), col("yv"),
      zShift = 36, bits = 22)
  }

  /** Deterministic Poisson-bootstrap 90% band for avg(value): 32
    * hash-driven replicas in one pass, decimal-exact weighted sums,
    * rank-selected band — reproducible across runs/engines, so the
    * oracle regenerates the identical thresholds and replica means
    * ([[graft.operators.Bootstrap.multiplicitySql]]). */
  private def qBootstrapCi(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bootstrap.meanCi(events(spark, dir), "event_id", "value")

  /** Portable-Bloom membership audit (4 hashes × 4096 bits over the
    * distinct user set, 1000 synthetic non-member probes): realized
    * bit load and false-positive count, bit-reproducible by the
    * oracle — completes the mergeable-sketch family's membership
    * corner next to HLL/CMS/GK. */
  private def qSketchBloom(spark: SparkSession, dir: String): DataFrame =
    Sketches.bloomAudit(events(spark, dir), "user_id")

  /** MRR@10 of the LSH index against exact-cosine gold: for each query
    * the gold answer is its true (exact, self-excluded) nearest
    * neighbor; the system list is LSH top-11 with the query's own row
    * dropped and ranks closed up. Reciprocal ranks fold as exact
    * integers (lcm(1..10)/r); one final double division. */
  private def qEvalMrr(spark: SparkSession, dir: String): DataFrame = {
    val queries = emb(spark, dir).filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", emb(spark, dir), "vec_id", "embedding",
      k = 1, cosine = true, excludeSelf = true)
    // k = 11 guarantees the top-10 NON-self candidates are all visible
    // whether or not the query's own row made the list
    val sys0 = Similarity.lshTopK(queries, "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 11, planes = 8, tables = 4)
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val sys = sys0.filter(col("query_id") =!= col("corpus_id"))
      .withColumn("rank", row_number().over(w).cast(LongType))
    Similarity.mrrEval(sys, truth, k = 10)
  }

  /** nDCG@10 of the LSH index against graded exact-cosine truth: the
    * exact top-10 (self-excluded) grades relevance linearly (true #1
    * worth 10 … true #10 worth 1); the system list is the same
    * LSH top-11-minus-self as [[qEvalMrr]]. All-integer DCG via the
    * frozen 10⁹/log₂ weight table; one double division per query. */
  private def qEvalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val queries = emb(spark, dir).filter(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", emb(spark, dir), "vec_id", "embedding",
      k = 10, cosine = true, excludeSelf = true)
    val sys0 = Similarity.lshTopK(queries, "vec_id", "embedding",
      emb(spark, dir), "vec_id", "embedding", k = 11, planes = 8, tables = 4)
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val sys = sys0.filter(col("query_id") =!= col("corpus_id"))
      .withColumn("rank", row_number().over(w).cast(LongType))
    Similarity.ndcgEval(sys, truth, k = 10)
  }

  /** Bootstrap uplift band: is the purchase-vs-view mean-value lift
    * real? 32 paired hash-driven resamples, one grouped pass, exact
    * arithmetic to one double subtraction per replica. */
  private def qBootstrapUplift(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bootstrap.upliftCi(events(spark, dir),
      "event_id", "value", "event_type", groupA = "view",
      groupB = "purchase")

  /** Personalized PageRank seeded at the highest-order-count customer
    * (ties → smallest custkey): "the suppliers and customers most
    * related to our biggest account" — same integer-exact contract,
    * sparse frontier (only rank>0 nodes message). */
  private def qGraphPpr(spark: SparkSession, dir: String): DataFrame = {
    val seed = t(spark, dir, "orders")
      .groupBy((col("o_custkey") * 2).as("node"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("node")).limit(1)
      .select(col("node"))
    decodeNode(Graph.personalizedPageRankTop(tradeGraphEdges(spark, dir),
      seed, iterations = 5, topK = 20))
  }

  /** Point-in-time feature join: each purchase (label) gets the user's
    * SCD2 state (built from non-purchase events) valid AT purchase time
    * — the leakage-free feature-store lookup. */
  private def qFeaturePit(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dim = Warehouse.scd2Dimension(
      ev.filter(col("event_type") =!= "purchase"),
      "ts", "user_id", "event_type", "event_id")
    Warehouse.pointInTimeJoin(
      ev.filter(col("event_type") === "purchase"), "event_id", "ts",
      dim, "valid_from_s", Seq("event_type", "version"),
      "user_id", tieBreak = "version")
  }

  /** PQ codebook distortion audit: per-subspace assignment L2 error of
    * the registry's own (4 subspaces × 16 codes) config. */
  private def qSimPqDistortion(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqDistortion(t(spark, dir, "embeddings"), "vec_id",
      "embedding", numSubspaces = 4, numCodes = 16)

  /** Triangle census of the minhash near-dup graph: clique-ness
    * (transitivity) of the pair set the dedup components collapse. */
  private def qDedupTriangles(spark: SparkSession, dir: String): DataFrame =
    Dedup.triangleStats(
      Dedup.minhashNearDuplicates(docs(spark, dir), "doc_id", "text",
        shingleWords = 3, bands = 16, rowsPerBand = 4, threshold = 0.10))

  /** Entity-consistent 80/10/10 split of events keyed on the user hash:
    * per-split row/entity counts (no user straddles two splits —
    * structural, from the hash). */
  private def qSampleEntitySplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.entitySplit(events(spark, dir), "user_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_entities"))

  /** Two-arm conversion experiment over events: salted user-hash
    * assignment, purchase conversion, pooled two-proportion z. */
  private def qAbTest(spark: SparkSession, dir: String): DataFrame =
    Warehouse.abTestConversion(events(spark, dir), "user_id",
      "event_type", conversionType = "purchase", salt = "exp1")

  /** IVF cell-balance audit of the registry's refined index config
    * (auto-sized K = max(16, ⌊√n⌋), 1 Lloyd round). */
  private def qSimIvfBalance(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfCellBalance(t(spark, dir, "embeddings"), "vec_id",
      "embedding", numCentroids = 0, refineRounds = 1)

  /** Time-weighted average of events.value per event type (LOCF
    * weighting — TimescaleDB `time_weight`/`average` semantics). */
  private def qTwa(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.timeWeightedAverage(events(spark, dir), "ts", "event_type",
      "value", "event_id")

  /** Counter aggregation with reset handling (TimescaleDB
    * `counter_agg`): per-user total increase, reset count, endpoints. */
  private def qCounterAgg(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.counterAggregate(events(spark, dir), "ts", "user_id",
      "value", "event_id")

  /** FK orphan audit: lineitem.l_partkey rows without a part parent. */
  private def qDqOrphans(spark: SparkSession, dir: String): DataFrame =
    Warehouse.referentialOrphans(t(spark, dir, "lineitem"), "l_partkey",
      t(spark, dir, "part"), "p_partkey")

  /** PK uniqueness audit of lineitem's composite (orderkey, linenumber)
    * key — sizes the damage before a dedup. */
  private def qDqPkViolations(spark: SparkSession, dir: String): DataFrame =
    Warehouse.pkViolations(t(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"))

  /** KS drift per event type: bin-free sup-distance between the two
    * half-range value distributions (exact integer D). */
  private def qDriftKs(spark: SparkSession, dir: String): DataFrame =
    Warehouse.distributionDriftKs(events(spark, dir), "ts", "event_type",
      "value")

  /** Weighted priority sample: 100 documents drawn proportional to
    * n_chars — the "mostly-but-not-only high quality" curation draw. */
  private def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedPriority(
      docs(spark, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 100)

  /** Pairwise Pearson correlation between event types' hourly sums —
    * the reference domain's "does PM2.5 track humidity" question. */
  private def qSeriesCorr(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.seriesCorrelation(events(spark, dir), "ts", "event_type",
      "value", bucketUnit = "hour")

  /** Hour-of-day × day-of-week seasonality fingerprint per event type. */
  private def qSeasonality(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.seasonalityProfile(events(spark, dir), "ts", "event_type",
      "value")

  /** Snapshot diff: a synthetic "after" version of events (drop every
    * 11th row, bump value on every 5th) reconciled against a "before"
    * that dropped every 7th — migration-audit accounting. */
  private def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val before = ev.filter(pmod(col("event_id"), lit(7L)) =!= 0L)
    val after = ev.filter(pmod(col("event_id"), lit(11L)) =!= 0L)
      .withColumn("value", when(pmod(col("event_id"), lit(5L)) === 0L,
        col("value") + 1.0).otherwise(col("value")))
    Warehouse.snapshotDiff(before, after, Seq("event_id"),
      Seq("user_id", "event_type", "value"))
  }

  /** K-anonymity audit of a pseudonymized event export: event_id
    * dropped, user_id salted-hash pseudonym, ts generalized to the day,
    * value to a width-10 bucket; quasi-identifiers = (day, type,
    * value bucket), k = 5. */
  private def qAnonymizeK(spark: SparkSession, dir: String): DataFrame = {
    val export = events(spark, dir).select(
      graft.operators.Dedup.md5_60(
        concat(col("user_id").cast(StringType), lit("pepper1")))
        .as("pseudonym"),
      epochS(date_trunc("day", col("ts"))).as("day_s"),
      col("event_type"),
      (floor(col("value") / 10.0).cast(LongType) * 10L).as("value_bucket"))
    Warehouse.kAnonymityAudit(export,
      Seq("day_s", "event_type", "value_bucket"), k = 5)
  }

  /** l-diversity audit of the same pseudonymized export as
    * [[qAnonymizeK]]: within each (day, value-bucket) quasi class,
    * are there at least 3 distinct event types? A big class that is
    * all 'purchase' still discloses the attribute — the leak
    * k-anonymity alone cannot see. */
  private def qAnonymizeL(spark: SparkSession, dir: String): DataFrame = {
    val export = events(spark, dir).select(
      epochS(date_trunc("day", col("ts"))).as("day_s"),
      col("event_type"),
      (floor(col("value") / 10.0).cast(LongType) * 10L).as("value_bucket"))
    Warehouse.lDiversityAudit(export, Seq("day_s", "value_bucket"),
      "event_type", l = 3)
  }

  /** Per-event-type OLS trend of hourly sums (slope per hour). */
  private def qSeriesTrend(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.seriesTrend(events(spark, dir), "ts", "event_type", "value")

  /** Chance-corrected language-router agreement (Cohen's kappa). */
  private def qTextLangidKappa(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageIdKappa(docs(spark, dir), "text", "lang")

  /** Tokenizer fertility per language under the reference BPE merges. */
  private def qTextFertility(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenizerFertility(docs(spark, dir), "doc_id", "text",
      "lang", TextAnalysis.referenceMerges)

  /** ANALYZE-style column profile of the events table. */
  private def qDqProfile(spark: SparkSession, dir: String): DataFrame =
    Warehouse.columnProfile(events(spark, dir),
      Seq("event_id", "user_id", "event_type", "value"))

  /** Join-key skew telemetry over the engine's four main shuffle
    * keys — the pre-flight read that prices salting/AQE-skew needs. */
  private def qDqSkew(spark: SparkSession, dir: String): DataFrame =
    Warehouse.keySkew(t(spark, dir, "lineitem"), "l_partkey",
        "lineitem.l_partkey")
      .unionAll(Warehouse.keySkew(t(spark, dir, "lineitem"),
        "l_suppkey", "lineitem.l_suppkey"))
      .unionAll(Warehouse.keySkew(t(spark, dir, "orders"),
        "o_custkey", "orders.o_custkey"))
      .unionAll(Warehouse.keySkew(events(spark, dir),
        "user_id", "events.user_id"))
      .orderBy(col("key_family"))

  /** Top-10 session journeys (30-minute gap, paths capped at 5 steps). */
  private def qSessionPaths(spark: SparkSession, dir: String): DataFrame =
    Warehouse.topSessionPaths(events(spark, dir), "ts", "user_id",
      "event_id", "event_type", gapSeconds = 1800L, maxSteps = 5, k = 10)

  /** Dwell time per state: the SCD2 dimension's CLOSED intervals rolled
    * up per event_type — total/mean seconds users spend in each state
    * before transitioning (open runs have no duration and are counted
    * separately). Pure composition over [[Warehouse.scd2Dimension]]. */
  private def qStateDwell(spark: SparkSession, dir: String): DataFrame =
    Warehouse.scd2Dimension(events(spark, dir), "ts", "user_id",
        "event_type", "event_id")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("valid_to_s").isNotNull, 1L).otherwise(0L))
          .as("n_closed"),
        sum(when(col("valid_to_s").isNull, 1L).otherwise(0L))
          .as("n_open"),
        sum(when(col("valid_to_s").isNotNull,
          col("valid_to_s") - col("valid_from_s"))).as("dwell_s"))
      .withColumn("mean_dwell_s", when(col("n_closed") > 0,
        col("dwell_s").cast(DoubleType) / col("n_closed")))

  /** Burst detection: each event type's hottest minute — max events in
    * any tumbling 60-second bucket, with the bucket that did it (ties
    * to the earliest minute). Two aggregates: minute counts
    * (map-combined), then max_by over the tiny bucket table. */
  private def qBurst(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"),
        (epochS(col("ts")) - pmod(epochS(col("ts")), lit(60L)))
          .as("minute_s"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("peak_per_minute"),
        min_by(col("minute_s"), struct((-col("n")).as("neg"),
          col("minute_s"))).as("peak_minute_s"),
        count(lit(1)).as("n_active_minutes"))

  /** ROC-AUC of document length as an is-English detector — the
    * eval-harness demo for [[Stats.rocAuc]]: any score column a
    * curation pipeline keeps (quality, langid confidence,
    * contamination logit) grades the same way. Heavy score ties
    * (integer n_chars) exercise the midrank handling. */
  private def qEvalAuc(spark: SparkSession, dir: String): DataFrame =
    Stats.rocAuc(
      docs(spark, dir).withColumn("is_en",
        (col("lang") === "en").cast("int")),
      "n_chars", "is_en")

  /** Split-conformal intervals per event type: even event_ids
    * calibrate (center = exact lower median, q̂ = the ⌈(n+1)·0.9⌉-th
    * absolute residual), odd event_ids audit empirical coverage of
    * the 90% interval. */
  private def qConformal(spark: SparkSession, dir: String): DataFrame =
    Stats.conformalInterval(
      events(spark, dir).withColumn("is_cal",
        pmod(col("event_id"), lit(2L)) === 0L),
      "event_type", "value", "is_cal", alphaPpm = 100000L)

  /** Pairwise Jensen–Shannon divergence between the language slices'
    * unigram distributions — the lexical distance matrix a mixture
    * designer reads before blending corpora. */
  private def qTextJsd(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.jsdPairs(docs(spark, dir), "lang", "text")

  /** Adamic–Adar link prediction over the bidirectional trade graph:
    * top-20 predicted (non-adjacent) links, scored through shared
    * neighborhoods with hub middlemen (deg > 128 — the supplier side)
    * structurally dropped; surviving middlemen are customers, so the
    * predictions are supplier co-purchase affinities. */
  private def qGraphLinkpred(spark: SparkSession, dir: String): DataFrame =
    Graph.adamicAdarTopK(tradeGraphEdges(spark, dir),
      maxDeg = 128L, topK = 20)

  /** Blocked entity resolution over customer names: block on
    * (nation, market segment), match in-block pairs whose names sit
    * within Levenshtein distance 2 — the record-linkage primitive for
    * structured entities, with over-broad blocks structurally
    * dropped. */
  private def qErBlocked(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockedEntityPairs(t(spark, dir, "customer"),
      "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
      maxDistance = 2, maxBlock = 1024L)

  // ------------------------------------------------------------ registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1Pricing _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q6_forecast_revenue" -> (q6Forecast _),
    "q_a1_downsample_max" -> (qA1 _),
    "q_a2_hourly_rollup" -> (qA2 _),
    "q_a3_directory" -> (qA3 _),
    "q_a4_sliding_average" -> (qA4 _),
    "q_a5_historic_average" -> (qA5 _),
    "q_s3_historic_range" -> (qS3 _),
    "q_s3_raw" -> (qS3Raw _),
    "q_f_pushdown_scan" -> (qFilters _),
    "q_j1_recombine" -> (qJ1 _),
    "q_j2_semi_join" -> (qJ2 _),
    "q_j3_dim_probe" -> (qJ3 _),
    "q_j4_bloom_screen" -> (qBloomScreen _),
    "q_o1_time_sort" -> (qO1 _),
    "q_t3_dedup_pk" -> (qT3 _),
    "q_x_concat_split" -> (qX23 _),
    "q_a6_distinct_count" -> (qA6 _),
    "q_w_lag_delta" -> (qLagDelta _),
    "q_sessionize" -> (qSessionize _),
    "q_a7_gapfill_locf" -> (qA7GapfillLocf _),
    "q_asof_join" -> (qAsofJoin _),
    "q_a8_gapfill_interp" -> (qA8GapfillInterp _),
    "q_range_join" -> (qRangeJoin _),
    "q_percentiles" -> (qPercentiles _),
    "q_topk_users" -> (qTopkUsers _),
    "q_histogram" -> (qHistogram _),
    "q_cohort_retention" -> (qCohort _),
    "q_wau_sliding" -> (qWauSliding _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_change_point" -> (qChangePoint _),
    "q_funnel" -> (qFunnel _),
    "q_embed_covariance" -> (qEmbedCovariance _),
    "q_embed_pca" -> (qEmbedPca _),
    "q_embed_label_sim" -> (qEmbedLabelSim _),
    "q_embed_kmeans" -> (qEmbedKmeans _),
    "q_embed_silhouette" -> (qEmbedSilhouette _),
    "q_rollup" -> (qRollup _),
    "q_pivot_counts" -> (qPivotCounts _),
    "q_cube" -> (qCube _),
    "q_attribution" -> (qAttribution _),
    "q_text_feature_hash" -> (qTextFeatureHash _),
    "q_text_hashvec_knn" -> (qTextHashvecKnn _),
    "q_text_langid_eval" -> (qTextLangidEval _),
    "q_funnel_windowed" -> (qFunnelWindowed _),
    "q_user_growth" -> (qUserGrowth _),
    "q_anomaly_zscore" -> (qAnomaly _),
    "q_histogram_depth" -> (qHistogramDepth _),
    "q_funnel_latency" -> (qFunnelLatency _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_scrub" -> (qTextScrub _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_text_gopher" -> (qTextGopher _),
    "q_text_bpe_pairs" -> (qTextBpePairs _),
    "q_text_bpe_encode" -> (qTextBpeEncode _),
    "q_text_normalize" -> (qTextNormalize _),
    "q_text_strip_html" -> (qTextStripHtml _),
    "q_profile_corpus" -> (qProfileCorpus _),
    "q_chunk_windows" -> (qChunkWindows _),
    "q_vocab_topk" -> (qVocabTopk _),
    "q_vocab_heavy" -> (qVocabHeavy _),
    "q_vocab_fuzzy" -> (qVocabFuzzy _),
    "q_text_collocations" -> (qTextCollocations _),
    "q_text_linear" -> (qTextLinear _),
    "q_dedup_apply_stats" -> (qDedupApplyStats _),
    "q_text_bm25" -> (qTextBm25 _),
    "q_text_hybrid_rrf" -> (qTextHybridRrf _),
    "q_text_tfidf" -> (qTextTfidf _),
    "q_text_scripts" -> (qTextScripts _),
    "q_lm_perplexity" -> (qLmPerplexity _),
    "q_lm_buckets" -> (qLmBuckets _),
    "q_text_oov" -> (qTextOov _),
    "q_dsir_select" -> (qDsirSelect _),
    "q_text_winnow" -> (qTextWinnow _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_sample_uniform" -> (qSampleUniform _),
    "q_curation_pipeline" -> (qCuration _),
    "q_curation_topk" -> (qCurationTopk _),
    "q_dedup_normalized" -> (qDedupNormalized _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_sample_mixture" -> (qSampleMixture _),
    "q_sample_temperature" -> (qSampleTemperature _),
    "q_sample_fixed" -> (qSampleFixed _),
    "q_profile_outliers" -> (qProfileOutliers _),
    "q_curation_token_budget" -> (qCurationTokenBudget _),
    "q_curation_calibrate" -> (qCurationCalibrate _),
    "q_export_shards" -> (qExportShards _),
    "q_export_pack" -> (qExportPack _),
    "q_dedup_ngram_jaccard" -> (qDedupNgram _),
    "q_dedup_winnow_pairs" -> (qDedupWinnowPairs _),
    "q_dedup_winnow_apply" -> (qDedupWinnowApply _),
    "q_dedup_ngram_prefix" -> (qDedupNgramPrefix _),
    "q_dedup_prefix_salted" -> (qDedupPrefixSalted _),
    "q_dedup_prefix_w5" -> (qDedupPrefixW5 _),
    "q_dedup_components" -> (qDedupComponents _),
    "q_dedup_apply" -> (qDedupApply _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_span" -> (qDedupSpan _),
    "q_dedup_paragraph" -> (qDedupParagraph _),
    "q_dedup_span_profile" -> (qDedupSpanProfile _),
    "q_decontaminate_span" -> (qDecontaminateSpan _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_norm" -> (qDecontaminateNormalized _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_sim_topk_dot" -> (qSimTopkDot _),
    "q_sim_topk_cosine" -> (qSimTopkCosine _),
    "q_sim_lsh" -> (qSimLsh _),
    "q_sim_lsh_mp" -> (qSimLshMp _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_sim_hardneg" -> (qSimHardneg _),
    "q_prune_prototypes" -> (qPrunePrototypes _),
    "q_sim_ivf2" -> (qSimIvf2 _),
    "q_sim_pq" -> (qSimPq _),
    "q_sim_sq8" -> (qSimSq8 _),
    "q_sim_binary" -> (qSimBinary _),
    "q_sim_recall_binary" -> (qSimRecallBinary _),
    "q_sim_matryoshka" -> (qSimMatryoshka _),
    "q_embed_knn" -> (qEmbedKnn _),
    "q_text_novelty" -> (qTextNovelty _),
    "q_sim_ivfpq" -> (qSimIvfPq _),
    "q_sim_ivfpq_res" -> (qSimIvfPqRes _),
    "q_sim_ivfpq_rr" -> (qSimIvfPqRerank _),
    "q_emb_neardup" -> (qEmbNearDup _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_dedup_semantic_split" -> (qDedupSemanticSplit _),
    "q_dedup_semantic_exact" -> (qDedupSemanticExact _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_features" -> (qMultimodalFeatures _),
    "q_multimodal_neardup" -> (qMultimodalNeardup _),
    "q_multimodal_phash" -> (qMultimodalPhash _),
    "q_rfm" -> (qRfm _),
    "q_scd2" -> (qScd2 _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_drift_psi" -> (qDriftPsi _),
    "q_sim_maxsim" -> (qSimMaxsim _),
    "q_dedup_recall_minhash" -> (qDedupRecallMinhash _),
    "q_sketch_distinct" -> (qSketchDistinct _),
    "q_sketch_overlap" -> (qSketchOverlap _),
    "q_feature_pit" -> (qFeaturePit _),
    "q_sim_pq_distortion" -> (qSimPqDistortion _),
    "q_dedup_triangles" -> (qDedupTriangles _),
    "q_sample_entity_split" -> (qSampleEntitySplit _),
    "q_ab_test" -> (qAbTest _),
    "q_sim_ivf_balance" -> (qSimIvfBalance _),
    "q_twa" -> (qTwa _),
    "q_counter_agg" -> (qCounterAgg _),
    "q_dq_orphans" -> (qDqOrphans _),
    "q_dq_pk_violations" -> (qDqPkViolations _),
    "q_drift_ks" -> (qDriftKs _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_series_corr" -> (qSeriesCorr _),
    "q_seasonality" -> (qSeasonality _),
    "q_table_diff" -> (qTableDiff _),
    "q_anonymize_k" -> (qAnonymizeK _),
    "q_series_trend" -> (qSeriesTrend _),
    "q_text_langid_kappa" -> (qTextLangidKappa _),
    "q_text_fertility" -> (qTextFertility _),
    "q_dq_profile" -> (qDqProfile _),
    "q_dq_skew" -> (qDqSkew _),
    "q_session_paths" -> (qSessionPaths _),
    "q_state_dwell" -> (qStateDwell _),
    "q_burst" -> (qBurst _),
    "q_sketch_cms" -> (qSketchCms _),
    "q_sketch_quantiles" -> (qSketchQuantiles _),
    "q_graph_pagerank" -> (qGraphPagerank _),
    "q_graph_ppr" -> (qGraphPpr _),
    "q_layout_zorder" -> (qLayoutZorder _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_bootstrap_uplift" -> (qBootstrapUplift _),
    "q_sketch_bloom" -> (qSketchBloom _),
    "q_eval_mrr" -> (qEvalMrr _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_graph_hits" -> (qGraphHits _),
    "q_eval_ndcg" -> (qEvalNdcg _),
    "q_graph_kcore" -> (qGraphKcore _),
    "q_text_phrase" -> (qTextPhrase _),
    "q_forecast_holt" -> (qForecastHolt _),
    "q_embed_radius" -> (qEmbedRadius _),
    "q_sketch_theta" -> (qSketchTheta _),
    "q_text_keywords" -> (qTextKeywords _),
    "q_weighted_median" -> (qWeightedMedian _),
    "q_json_rollup" -> (qJsonRollup _),
    "q_basket_rules" -> (qBasketRules _),
    "q_anonymize_l" -> (qAnonymizeL _),
    "q_export_manifest" -> (qExportManifest _),
    "q_series_acf" -> (qSeriesAcf _),
    "q_text_coverage" -> (qTextCoverage _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_value_gini" -> (qValueGini _),
    "q_stat_chi2" -> (qStatChi2 _),
    "q_stat_anova" -> (qStatAnova _),
    "q_stat_spearman" -> (qStatSpearman _),
    "q_stat_mannwhitney" -> (qStatMannWhitney _),
    "q_stat_welch" -> (qStatWelch _),
    "q_eval_auc" -> (qEvalAuc _),
    "q_conformal" -> (qConformal _),
    "q_text_jsd" -> (qTextJsd _),
    "q_graph_linkpred" -> (qGraphLinkpred _),
    "q_er_blocked" -> (qErBlocked _),
    "q_hhi" -> (qHhi _),
    "q_value_deciles" -> (qValueDeciles _),
    "q_benford" -> (qBenford _),
    "q_concurrency" -> (qConcurrency _),
    "q_recsys_itemknn" -> (qRecsysItemknn _),
    "q_text_readability" -> (qTextReadability _),
    "q_stat_kendall" -> (qStatKendall _),
    "q_skyline" -> (qSkyline _),
    "q_heavy_change" -> (qHeavyChange _),
    "q_text_diversity" -> (qTextDiversity _),
    "q_graph_degree_dist" -> (qGraphDegreeDist _),
    "q_graph_assortativity" -> (qGraphAssortativity _),
    "q_text_zipf" -> (qTextZipf _),
    "q_activity_matrix" -> (qActivityMatrix _),
    "q_ship_latency" -> (qShipLatency _),
    "q_dq_freshness" -> (qDqFreshness _),
    "q_text_burstiness" -> (qTextBurstiness _),
    "q_wilson_ci" -> (qWilsonCi _),
    "q_markov_2step" -> (qMarkov2step _),
    "q_abc_analysis" -> (qAbcAnalysis _),
    "q_graph_bfs" -> (qGraphBfs _),
    "q_user_gaps" -> (qUserGaps _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_repurchase_gap" -> (qRepurchaseGap _),
    "q_embed_mislabel" -> (qEmbedMislabel _),
    "q_dedup_cluster_sizes" -> (qDedupClusterSizes _),
    "q_text_length_bands" -> (qTextLengthBands _),
    "q_attribution_linear" -> (qAttributionLinear _),
    "q_attribution_markov" -> (qAttributionMarkov _),
    "q_text_boilerplate" -> (qTextBoilerplate _),
    "q_stat_qq" -> (qStatQq _),
    "q_stat_runs" -> (qStatRuns _),
    "q_rate_breaches" -> (qRateBreaches _),
    "q_sim_mutual_anchored" -> (qSimMutualAnchored _),
    "q_text_memorization" -> (qTextMemorization _),
    "q_vocab_growth" -> (qVocabGrowth _),
    "q_text_distinctive" -> (qTextDistinctive _),
    "q_text_case_profile" -> (qTextCaseProfile _),
    "q_embed_norms" -> (qEmbedNorms _),
    "q_embed_confusion" -> (qEmbedConfusion _),
    "q_repeat_bands" -> (qRepeatBands _),
    "q_stat_levene" -> (qStatLevene _),
    "q_series_theilsen" -> (qSeriesTheilsen _),
    "q_embed_intrinsic_dim_anchored" -> (qEmbedIntrinsicDimAnchored _),
    "q_basket_sizes" -> (qBasketSizes _),
    "q_sim_hubness_anchored" -> (qSimHubnessAnchored _),
    "q_sim_mutual_ivf" -> (qSimMutualIvf _),
    "q_sim_hubness_ivf" -> (qSimHubnessIvf _),
    "q_embed_intrinsic_dim_ann" -> (qEmbedIntrinsicDimAnn _),
    "q_sim_ivf_sweep" -> (qSimIvfSweep _),
    "q_dedup_lsh_sweep" -> (qDedupLshSweep _),
    "q_graph_labelprop" -> (qGraphLabelprop _),
    "q_graph_clustering" -> (qGraphClustering _),
    "q_stat_mad" -> (qStatMad _),
    "q_text_chunks" -> (qTextChunks _),
    "q_embed_drift" -> (qEmbedDrift _)
  )

  /** DuckDB-equivalent SQL per query — EVERY query in [[queries]] has an
    * exact oracle, including the approximate/hash-family operators: all
    * signatures build on the engine-portable md5_60 primitive, so minhash,
    * simhash, LSH, IVF, and the stubbed codec are reproduced bit-for-bit
    * by DuckDB (240 exact / 0 rows-only as of round 10 — the HLL and
    * GK-quantile sketch queries gate through their exact audit forms,
    * whose estimate-accuracy verdict columns the oracle pins to TRUE;
    * the count-min sketch needs no pinning, its md5-portable estimates
    * hash-match directly). See [[OracleSql.sql]] for the definitions. */
  def oracleSql: Map[String, String] = OracleSql.sql
}
