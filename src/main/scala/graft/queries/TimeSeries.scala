package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's public time-series analytics API — the dashboard/read-path
  * query surface of the reference (SURVEY §2.3/§2.4/§2.6) generalized to any
  * `(timestamp, key, measures…)` table.
  *
  * Scale notes (100 TB):
  *  - Every aggregation here is a plain `groupBy` → Catalyst plans
  *    partial (map-side) + final hash aggregation: one shuffle keyed on the
  *    group columns, no row explosion.
  *  - Time-bucket group keys compose with a date-partitioned storage layout,
  *    so F7-style time-range filters prune partitions before the scan.
  *  - Sliding windows partition by the entity key — state per key is bounded
  *    by the horizon, and skewed keys are handled by AQE; for pathological
  *    single-key skew pre-aggregate per (key, second) first (that is what
  *    [[slidingAverage]]'s `preBucket` flag does).
  *
  * Numeric determinism: aggregates over floating measures are computed by
  * summing fixed-scale decimals (exact, order-independent) and converting at
  * the end, so results are bit-identical across partitionings, retries, and
  * engines — double summation order is never observable.
  */
object TimeSeries {

  /** Exact, order-independent mean of a double column: sum as
    * `DECIMAL(28,6)` (exact), convert to double, divide by count. */
  def exactAvg(c: Column): Column =
    (sum(c.cast(DecimalType(28, 6))).cast(DoubleType) / count(c))

  /** Exact, order-independent sum of a double column, surfaced as double. */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Epoch seconds, truncated (floor) — sub-second precision is dropped so
    * window frames and order keys are stable across µs/ns storage. Routed
    * through `TimestampType` first: `TIMESTAMP_NTZ` columns (parquet µs with
    * isAdjustedToUTC=false) forbid a direct numeric cast, and the session TZ
    * is pinned UTC so NTZ and instant agree numerically. */
  def epochSeconds(ts: Column): Column =
    ts.cast(TimestampType).cast(LongType)

  /** Epoch microseconds (exact). Same NTZ-safe route as [[epochSeconds]]:
    * TIMESTAMP → DECIMAL(28,6) yields seconds with the µs fraction intact,
    * so ×1e6 is lossless for any µs-precision source. */
  def epochMicros(ts: Column): Column =
    (ts.cast(TimestampType).cast(DecimalType(28, 6)) * 1000000L)
      .cast(LongType)

  /** A1 — time-bucketed downsampling: tumbling-window `max` (plus count)
    * per entity, the shape of every reference dashboard panel
    * (`$__timeGroupAlias(ts, interval), max(col) GROUP BY 1`). */
  def downsampleMax(
      df: DataFrame, ts: String, key: String, measure: String,
      interval: String): DataFrame =
    df.groupBy(
        window(col(ts), interval)("start").as("bucket_ts"),
        col(key))
      .agg(max(col(measure)).as("max_value"),
           count(lit(1)).as("n"))

  /** A5/S3 — historic server-side average: `average ∈ {0,10,30,60,360,1440}`
    * minutes over a time range (`PurpleAirAPI.py:244-305`). Range bounds are
    * half-open `[start, end)` like the reference. `minutes = 0` is the
    * reference's RAW arm (`average=0` is a legal value,
    * `PurpleAirAPI.py:261`): no bucketing, the ranged samples themselves —
    * a pure pushed-down range scan. */
  def historicAverage(
      df: DataFrame, ts: String, key: String, measure: String,
      startIso: String, endIso: String, minutes: Int): DataFrame = {
    val ranged = df.filter(col(ts) >= lit(startIso).cast(TimestampType) &&
      col(ts) < lit(endIso).cast(TimestampType))
    if (minutes == 0) ranged.select(col(ts), col(key), col(measure))
    else ranged
      .groupBy(window(col(ts), s"$minutes minutes")("start").as("bucket_ts"),
        col(key))
      .agg(exactAvg(col(measure)).as("avg_value"), count(lit(1)).as("n"))
  }

  /** A4 — "pseudo average": trailing time-range sliding mean per entity
    * (the PurpleAir `pm2.5_10minute…1week` family, recomputed natively).
    * Frame = `[t - horizonSeconds, t]` over *truncated-second* event time,
    * so frame membership is precision-independent.
    *
    * At 100 TB the window shuffles once on the entity key; state per key is
    * bounded by the horizon. Rows sharing a truncated second are RANGE-frame
    * peers, so the result is deterministic under any intra-second order.
    *
    * `preBucket = true` is the single-key-skew path: rows are first
    * pre-aggregated to one `(key, second)` partial (map-side combinable —
    * the hot key collapses BEFORE its window), the sliding frame runs over
    * the compact buckets, and per-second results join back to the rows.
    * Identical output (peers share their second's value; the decimal sums
    * are associative), proven by test.
    */
  def slidingAverage(
      df: DataFrame, ts: String, key: String, measure: String,
      horizonSeconds: Long, preBucket: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("epoch_s"))
      .rangeBetween(-horizonSeconds, 0)
    val withEpoch = df.withColumn("epoch_s", epochSeconds(col(ts)))
    if (!preBucket)
      withEpoch.withColumn("sliding_avg",
        (sum(col(measure).cast(DecimalType(28, 6))).over(w).cast(DoubleType) /
          count(col(measure)).over(w)))
    else {
      val buckets = withEpoch
        .groupBy(col(key), col("epoch_s"))
        .agg(sum(col(measure).cast(DecimalType(28, 6))).as("s_sum"),
          count(col(measure)).as("s_n"))
        .withColumn("sliding_avg",
          (sum(col("s_sum")).over(w).cast(DoubleType) /
            sum(col("s_n")).over(w)))
        .select(col(key).as("_b_key"), col("epoch_s").as("_b_epoch"),
          col("sliding_avg"))
      // Null-safe (<=>) join back: groupBy and window partitioning both
      // treat NULL keys/timestamps as one group, so the join must too —
      // a plain inner join would silently drop null-key rows that the
      // preBucket=false window path retains.
      withEpoch.join(buckets,
          col(key) <=> col("_b_key") && col("epoch_s") <=> col("_b_epoch"))
        .drop("_b_key", "_b_epoch")
    }
  }

  /** A3 + X2 — the sensor-directory templating query:
    * `SELECT DISTINCT key, label, CONCAT(label, ', ', key) ORDER BY key`. */
  def directory(df: DataFrame, key: String, label: String): DataFrame =
    df.select(col(key), col(label),
        concat(col(label), lit(", "), col(key)).as("combo"))
      .distinct()
      .orderBy(col(key), col(label))

  /** F1/F2/F4/F5/F7 composed — the multi-sensor request's pushed-down
    * predicate set as one scan: equality, id-list semi-filter, value range,
    * and half-open time range. All of it reaches the parquet reader as
    * `PushedFilters` (verify with `.explain`). */
  def pushdownScan(
      df: DataFrame, ts: String, key: String,
      equalityCol: String, equalityValue: String,
      ids: Seq[Long], valueCol: String, lo: Double, hi: Double,
      startIso: String, endIso: String): DataFrame =
    df.filter(col(equalityCol) === equalityValue)
      .filter(col(key).isin(ids: _*))
      .filter(col(valueCol) >= lo && col(valueCol) < hi)
      .filter(col(ts) >= lit(startIso).cast(TimestampType) &&
              col(ts) < lit(endIso).cast(TimestampType))

  /** F5 — the two-point geo bounding box (`nwlng/nwlat/selng/selat`) as a
    * 4-way range predicate, exactly the reference's parameter semantics:
    * north-west corner + south-east corner. All four conjuncts reach the
    * scan as PushedFilters. */
  def geoBoundingBox(df: DataFrame, latCol: String, lonCol: String,
      nwLat: Double, nwLng: Double, seLat: Double, seLng: Double): DataFrame =
    df.filter(col(latCol) <= nwLat && col(latCol) >= seLat &&
              col(lonCol) >= nwLng && col(lonCol) <= seLng)

  /** T3 — deterministic PK dedup: first row per `(key, truncated bucket)`
    * in `orderCol` order. */
  def dedupFirstPerKey(
      df: DataFrame, bucketCols: Seq[Column], orderCol: Column): DataFrame = {
    val w = Window.partitionBy(bucketCols: _*).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** TimescaleDB-style gap-fill with last-observation-carried-forward —
    * the `time_bucket_gapfill(interval, ts) … locf(max(value))` dashboard
    * shape the reference's TimescaleDB sink exists to serve
    * (reference: purpleair_data_logger/PurpleAirPSQLQueryStatements.py
    * stores continuous time-series precisely for such panel queries).
    * Buckets each key's observations to `bucketSeconds`, materializes the
    * COMPLETE bucket spine from that key's first to last observed bucket,
    * and carries the last observed per-bucket `max` forward across the
    * gaps; filled rows report `n = 0` and `filled = true`.
    *
    * Scale shape: one hash aggregation on `(key, bucket)` (map-side
    * combine), a per-key span reduce, then the spine is generated by a
    * bounded `sequence` explode — per key it is `(span / bucketSeconds)`
    * rows, a number the CALLER controls via the bucket width, never a
    * function of row count. The left join back to observations
    * co-partitions on the same `(key, bucket)` keys, and the LOCF window
    * partitions by key ordered by bucket — bounded state per key, no
    * global sort, no corpus-wide window. The first spine bucket of every
    * key is observed by construction, so `value_locf` is never NULL. */
  def gapfillLocf(df: DataFrame, ts: String, key: String, value: String,
      bucketSeconds: Long): DataFrame = {
    val (observed, spine) = bucketedSpine(df, ts, key, value, bucketSeconds)
    val w = Window.partitionBy(col(key)).orderBy(col("bucket_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(observed, Seq(key, "bucket_s"), "left")
      .withColumn("value_locf", last(col("v_obs"), ignoreNulls = true).over(w))
      .select(col(key), col("bucket_s"), col("value_locf"),
        coalesce(col("n"), lit(0L)).as("n"), col("n").isNull.as("filled"))
  }

  /** Shared gap-fill scaffolding: per-`(key, bucket)` observations
    * (`max` + count) and that key's complete bucket spine from first to
    * last observed bucket (a bounded `sequence` explode — span/bucket
    * rows per key, controlled by the caller's bucket width). */
  private def bucketedSpine(df: DataFrame, ts: String, key: String,
      value: String, bucketSeconds: Long): (DataFrame, DataFrame) = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val observed = df
      .withColumn("__es", epochSeconds(col(ts)))
      .withColumn("bucket_s",
        expr(s"(__es div ${bucketSeconds}L) * ${bucketSeconds}L"))
      .groupBy(col(key), col("bucket_s"))
      .agg(max(col(value)).as("v_obs"), count(lit(1)).as("n"))
    val spans = observed.groupBy(col(key))
      .agg(min(col("bucket_s")).as("lo"), max(col("bucket_s")).as("hi"))
    val spine = spans.select(col(key),
      explode(sequence(col("lo"), col("hi"), lit(bucketSeconds))).as("bucket_s"))
    (observed, spine)
  }

  /** TimescaleDB-style gap-fill with LINEAR interpolation — the
    * `time_bucket_gapfill … interpolate(max(value))` panel shape: gaps
    * between two observed buckets are filled by the straight line through
    * the neighboring observations. Every spine bucket lies between that
    * key's first and last observed bucket, so both neighbors always
    * exist and `value_interp` is never NULL.
    *
    * Cross-engine determinism: the interpolation is evaluated in double
    * precision with a FIXED operation order —
    * `prev + (next - prev) * ((b - b_prev) / (b_next - b_prev))` — and
    * the oracle SQL spells out the identical expression, so IEEE-754
    * round-to-nearest makes the two engines bit-equal (each of `-`, `*`,
    * `/`, `+` is exactly rounded; identical operands + identical order =
    * identical bits).
    *
    * Scale shape: identical to [[gapfillLocf]] — one `(key, bucket)` hash
    * agg, bounded spine explode, co-partitioned left join — plus two
    * window frames (running last / reverse-running first) over the SAME
    * `(key, bucket)` sort, which Catalyst executes on one shuffle+sort
    * with bounded per-key state. */
  def gapfillInterp(df: DataFrame, ts: String, key: String, value: String,
      bucketSeconds: Long): DataFrame = {
    val (observed, spine) = bucketedSpine(df, ts, key, value, bucketSeconds)
    val ord = Window.partitionBy(col(key)).orderBy(col("bucket_s"))
    val back = ord.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
    val obsBucket = when(col("v_obs").isNotNull, col("bucket_s"))
    spine.join(observed, Seq(key, "bucket_s"), "left")
      .withColumn("__pv", last(col("v_obs"), ignoreNulls = true).over(back))
      .withColumn("__pb", last(obsBucket, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col("v_obs"), ignoreNulls = true).over(fwd))
      .withColumn("__nb", first(obsBucket, ignoreNulls = true).over(fwd))
      .withColumn("value_interp",
        when(col("v_obs").isNotNull, col("v_obs")).otherwise(
          col("__pv") + (col("__nv") - col("__pv")) *
            ((col("bucket_s") - col("__pb")).cast(DoubleType) /
              (col("__nb") - col("__pb")).cast(DoubleType))))
      .select(col(key), col("bucket_s"), col("value_interp"),
        coalesce(col("n"), lit(0L)).as("n"), col("n").isNull.as("filled"))
  }

  /** As-of join — for every probe row, the reference value with the
    * GREATEST timestamp at-or-before the probe's timestamp, per key (the
    * sensor-calibration / price-lookup join Spark has no native operator
    * for). The reference side is first collapsed to one row per
    * `(key, µs)` (`max` of the value — an explicit, deterministic
    * tie-break), so the as-of target is unique and the join is
    * engine-reproducible. Probes with no prior reference get NULL.
    *
    * Scale shape: NOT a range join (which Catalyst would plan as a
    * broadcast-nested-loop or an exploding theta join). Both sides are
    * tagged and UNIONED, then a single per-key window ordered by
    * `(µs, side)` carries the last reference value forward onto each
    * probe row — reference rows sort BEFORE probes at equal timestamps,
    * making the match at-or-before inclusive. Cost: one shuffle keyed on
    * `key` and a bounded-state running `last` — linear in rows at any
    * scale, the same plan an ASOF JOIN executes natively in engines that
    * have one. */
  def asofJoin(probe: DataFrame, probeId: String, probeTs: String,
      ref: DataFrame, refTs: String, refVal: String,
      key: String): DataFrame = {
    def us(c: Column): Column = epochMicros(c)
    val r = ref
      .groupBy(col(key), us(col(refTs)).as("epoch_us"))
      .agg(max(col(refVal)).as("asof_value"))
      .select(col(key), col("epoch_us"), col("asof_value"),
        lit(0).as("__side"), lit(null).cast(LongType).as("__probe_id"))
    val p = probe
      .select(col(key), us(col(probeTs)).as("epoch_us"),
        lit(null).cast(r.schema("asof_value").dataType).as("asof_value"),
        lit(1).as("__side"), col(probeId).cast(LongType).as("__probe_id"))
    val w = Window.partitionBy(col(key)).orderBy(col("epoch_us"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    r.unionByName(p)
      .withColumn("asof_value",
        last(col("asof_value"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__probe_id").as(probeId), col(key), col("epoch_us"),
        col("asof_value"))
  }

  /** Per-group equi-width histogram — TimescaleDB ships a native
    * `histogram(value, min, max, nbuckets)` for exactly this dashboard
    * panel. Bin bounds come from each group's observed [min, max]; the
    * top edge closes right (value == max lands in the last bin), and
    * only non-empty bins are returned (`bin`, `lo`, `hi`, `n`).
    *
    * Cross-engine determinism: the bin index is
    * `floor((v - mn) * nBins / (mx - mn))` evaluated in double with that
    * exact operation order, mirrored by the oracle — IEEE-754 exact
    * rounding makes the engines agree bit-for-bit, degenerate
    * single-value groups (`mx == mn`) collapse to bin 0 explicitly.
    *
    * Scale shape: two hash aggregations — per-group extremes (tiny:
    * one row per group, broadcast back to the scan), then the
    * `(group, bin)` count with map-side combine. No window, no sort. */
  def histogram(df: DataFrame, key: String, value: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val ext = df.groupBy(col(key))
      .agg(min(col(value)).as("__mn"), max(col(value)).as("__mx"))
    val v = col(value).cast(DoubleType)
    val bin = when(col("__mx") === col("__mn"), lit(0))
      .otherwise(least(
        floor((v - col("__mn")) * nBins / (col("__mx") - col("__mn")))
          .cast(IntegerType),
        lit(nBins - 1)))
    df.join(broadcast(ext), Seq(key))
      .withColumn("bin", bin)
      .groupBy(col(key), col("bin"))
      .agg(count(lit(1)).as("n"),
        // bin edges recomputed from the broadcast extremes — identical
        // double math in the oracle
        first(col("__mn") + col("bin") * ((col("__mx") - col("__mn")) / nBins))
          .as("lo"),
        first(col("__mn") +
          (col("bin") + 1) * ((col("__mx") - col("__mn")) / nBins)).as("hi"))
      .select(col(key), col("bin"), col("lo"), col("hi"), col("n"))
  }

  /** Per-group EQUI-DEPTH histogram — `nBuckets` rank-quantile buckets
    * of (approximately) equal population via `ntile` over a total order
    * (`value`, tie-broken by `tieBy` for determinism): per bucket the
    * min/max value span and exact count. The companion of [[histogram]]
    * (equi-width) — equi-depth adapts bin edges to the distribution, the
    * form dashboards want for heavy-tailed measures.
    *
    * Scale: one shuffle on the group key + one sort per group (ntile
    * needs rank, not a global sort); count/min/max fold map-side in the
    * follow-up aggregate. */
  def histogramEquiDepth(df: DataFrame, key: String, value: String,
      tieBy: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val w = Window.partitionBy(col(key)).orderBy(col(value), col(tieBy))
    df.withColumn("bucket", ntile(nBuckets).over(w))
      .groupBy(col(key), col("bucket"))
      .agg(min(col(value)).as("lo"), max(col(value)).as("hi"),
        count(lit(1)).as("n"))
  }

  /** Cohort retention — users bucketed by their first-activity week
    * (the cohort), counted by how many distinct users of each cohort
    * were active N weeks later: the `(cohort_week, week_offset,
    * n_users)` retention triangle every product dashboard draws.
    *
    * Scale shape: first-activity is a per-key `min` (map-side combine),
    * joined back to the fact on the key — broadcastable while user
    * dimension ≪ fact, shuffle-hash co-partitioned otherwise — then one
    * `(cohort, offset)` distinct-count. At extreme user counts swap the
    * exact distinct for [[distinctCountSketch]]'s HLL arm. */
  def cohortRetention(df: DataFrame, ts: String, key: String): DataFrame = {
    val weekS = 7L * 24 * 3600
    val es = epochSeconds(col(ts))
    val e = df.select(col(key), es.as("__es"))
    val firstSeen = e.groupBy(col(key))
      .agg(min(col("__es")).as("__first"))
      .select(col(key), col("__first"),
        expr(s"(__first div ${weekS}L) * ${weekS}L").as("cohort_week_s"))
    e.join(firstSeen, Seq(key))
      .withColumn("week_offset",
        expr(s"(__es div ${weekS}L) - (__first div ${weekS}L)")
          .cast(IntegerType))
      .groupBy(col("cohort_week_s"), col("week_offset"))
      .agg(countDistinct(col(key)).as("n_users"))
  }

  /** Funnel analysis — how many keys completed each prefix of an ordered
    * step sequence (e.g. view → click → purchase), where each step must
    * occur STRICTLY AFTER the previous one (equal-µs events do not
    * advance the funnel). Returns one row per step:
    * `(step, event_type, n_keys)`.
    *
    * The conditional-min ladder, windowed: `t0 = min µs of step 0 per
    * key`, `t_i = min µs of step i with µs > t_{i-1}` — each level is a
    * whole-partition window aggregate over the SAME `partitionBy(key)`
    * spec, so Catalyst stacks the Window nodes on ONE exchange; the
    * per-key collapse that follows reuses that partitioning (no second
    * shuffle), and the final count is a single-row aggregate exploded to
    * per-step rows. No self-joins, no per-level passes over the fact —
    * linear at any scale, `steps.length` window nodes deep. */
  def funnel(df: DataFrame, ts: String, key: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val w = Window.partitionBy(col(key))
    var d = df.select(col(key), col(typeCol).as("__type"),
      epochMicros(col(ts)).as("__us"))
    steps.zipWithIndex.foreach { case (step, i) =>
      val cond =
        if (i == 0) col("__type") === step
        else col("__type") === step && col("__us") > col(s"__t${i - 1}")
      d = d.withColumn(s"__t$i", min(when(cond, col("__us"))).over(w))
    }
    val perKey = d.groupBy(col(key))
      .agg(max(col("__t0")).as("__t0"),
        steps.indices.tail.map(i => max(col(s"__t$i")).as(s"__t$i")): _*)
    val totals = perKey
      .agg(count(col("__t0")).as("n0"),
        steps.indices.tail.map(i => count(col(s"__t$i")).as(s"n$i")): _*)
    totals.select(explode(array(steps.indices.map(i =>
        struct(lit(i).as("step"), lit(steps(i)).as("event_type"),
          col(s"n$i").as("n_keys"))): _*)).as("r"))
      .select("r.*")
  }

  /** TIME-BOUNDED FUNNEL — [[funnel]] with a conversion deadline: step
    * `i` counts only at the earliest `steps(i)` event STRICTLY AFTER
    * step `i−1` AND within `windowSeconds` of step 0 — the
    * "converted within N days" product-analytics shape (an eventual
    * conversion outside the window is churn, not success). Same
    * sequential per-key window-min construction as the base funnel
    * (each level's condition references the previous level's min), so
    * determinism and the one-shuffle-per-key shape carry over
    * unchanged; the deadline is one extra conjunct per level.
    *
    * Scale shape: identical to [[funnel]] — the level minima all
    * evaluate inside ONE per-key window pass over the events (no
    * self-joins, no per-step scans), then two tiny aggregates. */
  def funnelWindowed(df: DataFrame, ts: String, key: String,
      typeCol: String, steps: Seq[String],
      windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val w = Window.partitionBy(col(key))
    val deadline = windowSeconds * 1000000L
    var d = df.select(col(key), col(typeCol).as("__type"),
      epochMicros(col(ts)).as("__us"))
    steps.zipWithIndex.foreach { case (step, i) =>
      val cond =
        if (i == 0) col("__type") === step
        else col("__type") === step && col("__us") > col(s"__t${i - 1}") &&
          col("__us") <= col("__t0") + deadline
      d = d.withColumn(s"__t$i", min(when(cond, col("__us"))).over(w))
    }
    val perKey = d.groupBy(col(key))
      .agg(max(col("__t0")).as("__t0"),
        steps.indices.tail.map(i => max(col(s"__t$i")).as(s"__t$i")): _*)
    val totals = perKey
      .agg(count(col("__t0")).as("n0"),
        steps.indices.tail.map(i => count(col(s"__t$i")).as(s"n$i")): _*)
    totals.select(explode(array(steps.indices.map(i =>
        struct(lit(i).as("step"), lit(steps(i)).as("event_type"),
          col(s"n$i").as("n_keys"))): _*)).as("r"))
      .select("r.*")
  }

  /** NEW vs RETURNING daily actives — the growth-accounting split every
    * product dashboard leads with: per activity day, how many distinct
    * entities were seen for the FIRST time that day vs seen before.
    * First-day is a per-entity `min` over its distinct activity days;
    * the day rollup counts each entity once per active day. Exact
    * integer day arithmetic (same `86 400`-second grid as the WAU
    * query), deterministic everywhere.
    *
    * Scale shape: distinct (entity, day) pairs collapse map-side in one
    * aggregate; the per-entity first day is a second map-combinable
    * `min` keyed on the entity; the join back to pairs is
    * co-partitioned on the entity key, and the final day rollup is one
    * more map-combined aggregate — three shuffles, all on shrinking
    * keyed aggregates, never a window over raw events. */
  def newVsReturning(df: DataFrame, ts: String, key: String): DataFrame = {
    val day = epochSeconds(date_trunc("DAY", col(ts)))
    val pairs = df.select(col(key).as("__k"), day.as("day_s"))
      .distinct()
    val first = pairs.groupBy(col("__k"))
      .agg(min(col("day_s")).as("first_day"))
    pairs.join(first, Seq("__k"))
      .groupBy(col("day_s"))
      .agg(
        sum(when(col("day_s") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("day_s") =!= col("first_day"), 1L).otherwise(0L))
          .as("n_returning"))
      .withColumn("new_share",
        col("n_new").cast(DoubleType) / (col("n_new") + col("n_returning")))
  }

  /** Hierarchical rollup — subtotals at every prefix of the grouping
    * columns plus the grand total, each level tagged by `grouping_id`
    * (0 = finest). The OLAP answer to "totals by (type, day), by type,
    * and overall" in ONE pass: Catalyst expands the grouping sets and
    * aggregates them in a single `Expand` + hash aggregate — one shuffle
    * for every level together, never one scan per level. Measures:
    * count + exact decimal sum. */
  def rollupSummary(df: DataFrame, groupCols: Seq[String],
      measure: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    df.rollup(groupCols.map(col): _*)
      .agg(grouping_id().cast(IntegerType).as("gid"),
        count(lit(1)).as("n"), exactSum(col(measure)).as("sum_value"))
  }

  /** CUBE — every grouping-set combination of `groupCols` (2ⁿ
    * subtotal planes) in ONE Expand-pass aggregate, the OLAP companion
    * of [[rollupSummary]]'s subtotal ladder. Same exact decimal sums;
    * `gid` disambiguates planes exactly like `GROUPING()`.
    *
    * Scale shape: Spark's `cube` plans a single scan + Expand (each
    * input row fans to 2ⁿ grouping rows) + one hash aggregate with
    * map-side partials — n must stay small (2–3 dims) by design, the
    * same constraint every OLAP engine documents for CUBE. */
  def cubeSummary(df: DataFrame, groupCols: Seq[String],
      measure: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    df.cube(groupCols.map(col): _*)
      .agg(grouping_id().cast(IntegerType).as("gid"),
        count(lit(1)).as("n"), exactSum(col(measure)).as("sum_value"))
  }

  /** FIRST-TOUCH ATTRIBUTION — the acquisition-analytics primitive:
    * credit each entity's conversion to the event type that FIRST
    * touched it. Per entity, `first_touch` = the type of its earliest
    * event (`min_by` over the unique `(ts, rowId)` order — no window,
    * no second pass) and `converted` = whether any `conversionType`
    * event exists; the rollup reports users, conversions, and the rate
    * per acquisition channel. Exact: one `min_by` over a unique key,
    * one double division of exact longs.
    *
    * Scale shape: ONE shuffle keyed on the entity computes both the
    * first touch and the conversion flag as map-side-combinable
    * aggregates in the same pass; the channel rollup then touches one
    * row per entity. No window state, no join between two scans. */
  def firstTouchAttribution(df: DataFrame, ts: String, key: String,
      typeCol: String, rowId: String, conversionType: String): DataFrame =
    df.groupBy(col(key))
      .agg(
        min_by(col(typeCol), struct(col(ts), col(rowId)))
          .as("first_touch"),
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
          .as("converted"))
      .groupBy(col("first_touch"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conversion_rate",
        col("n_converted").cast(DoubleType) / col("n_users"))

  /** Pivot — one row per key, one measure column per (known) pivot
    * value: the wide dashboard matrix. `values` must be enumerated by
    * the caller: at 100 TB an unenumerated pivot needs a full distinct
    * scan BEFORE the real job and produces an unbounded-width schema;
    * with fixed values the whole pivot is one hash aggregate whose
    * conditional counters fold map-side (Spark's `pivot(col, values)`
    * plans exactly that). */
  def pivotCounts(df: DataFrame, key: String, pivotCol: String,
      values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "pivot values must be enumerated")
    df.groupBy(col(key))
      .pivot(pivotCol, values)
      .agg(count(lit(1)))
      .na.fill(0L, values)
  }

  /** Trailing-window z-score anomaly flag: each observation scored
    * against the mean/stddev of its key's PRECEDING `windowSeconds`
    * (exclusive of the current row); |z| ≥ `threshold` flags. Rows with
    * fewer than `minPrior` prior observations emit NULL z (not enough
    * evidence), never a false flag.
    *
    * Determinism: window mean and variance derive from exact
    * fixed-scale decimal running sums (order-independent), combined in
    * a fixed double op order — `var = ss/n − (s/n)²`, `z = (x − μ)/σ` —
    * that the oracle mirrors bit-for-bit; a σ = 0 window emits NULL z.
    * One shuffle on the key, one RANGE-frame window pass, all codegen. */
  def anomalyZScore(df: DataFrame, ts: String, key: String, value: String,
      windowSeconds: Long, threshold: Double,
      minPrior: Int = 3): DataFrame = {
    require(windowSeconds > 0 && threshold > 0)
    val es = epochSeconds(col(ts))
    val w = Window.partitionBy(col(key)).orderBy(col("__es"))
      .rangeBetween(-windowSeconds, -1)
    val d = df.withColumn("__es", es)
      .withColumn("__n", count(col(value)).over(w))
      .withColumn("__s",
        sum(col(value).cast(DecimalType(28, 6))).over(w).cast(DoubleType))
      .withColumn("__ss",
        sum((col(value) * col(value)).cast(DecimalType(28, 6))).over(w)
          .cast(DoubleType))
    val n = col("__n").cast(DoubleType)
    val mean = col("__s") / n
    val variance = col("__ss") / n - mean * mean
    // gate on variance, not sigma: cancellation on a constant window can
    // leave variance a hair below zero — sqrt of that must never run
    val z = when(col("__n") >= minPrior && variance > 0.0,
      (col(value) - mean) / sqrt(variance))
    d.withColumn("z", z)
      .withColumn("anomaly", coalesce(abs(col("z")) >= threshold, lit(false)))
      .drop("__n", "__s", "__ss")
  }

  /** Funnel step latency — for every adjacent step pair of [[funnel]]'s
    * ladder, how many keys converted and the exact mean microseconds
    * between the steps (decimal-exact sum of per-key deltas / count):
    * `(step, from_type, to_type, n_converted, mean_us)`. Same one-shuffle
    * windowed-ladder plan; the latency aggregate is a single-row
    * reduction over the per-key collapse. */
  def funnelLatency(df: DataFrame, ts: String, key: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.length >= 2, "funnelLatency needs at least two steps")
    val w = Window.partitionBy(col(key))
    var d = df.select(col(key), col(typeCol).as("__type"),
      epochMicros(col(ts)).as("__us"))
    steps.zipWithIndex.foreach { case (step, i) =>
      val cond =
        if (i == 0) col("__type") === step
        else col("__type") === step && col("__us") > col(s"__t${i - 1}")
      d = d.withColumn(s"__t$i", min(when(cond, col("__us"))).over(w))
    }
    val perKey = d.groupBy(col(key))
      .agg(max(col("__t0")).as("__t0"),
        steps.indices.tail.map(i => max(col(s"__t$i")).as(s"__t$i")): _*)
    val totals = perKey.agg(
      count(when(col("__t1").isNotNull, 1)).as("n_1"),
      (steps.indices.tail.flatMap { i =>
        val delta = col(s"__t$i") - col(s"__t${i - 1}")
        Seq(sum(delta.cast(DecimalType(28, 0))).as(s"s_$i")) ++
          (if (i >= 2) Seq(count(when(col(s"__t$i").isNotNull, 1))
            .as(s"n_$i"))
           else Nil)
      }): _*)
    totals.select(explode(array(steps.indices.tail.map { i =>
        struct(lit(i).as("step"),
          lit(steps(i - 1)).as("from_type"), lit(steps(i)).as("to_type"),
          col(s"n_$i").as("n_converted"),
          (col(s"s_$i").cast(DoubleType) / col(s"n_$i").cast(DoubleType))
            .as("mean_us"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** Sketch-based grouped distinct count — HyperLogLog++ at relative
    * standard deviation `rsd`. The 100 TB form of the exact
    * `countDistinct` dashboard query: exact distinct must shuffle every
    * distinct value (state O(distinct values) per group); the HLL sketch
    * is a few KB per group, merges map-side, and its error is a stated
    * constant. The spec bounds it against the exact count. */
  def distinctCountSketch(df: DataFrame, groupCols: Seq[String],
      value: String, rsd: Double = 0.01): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(value), rsd).as("n_distinct"),
        count(lit(1)).as("n"))

  /** Grouped top-k (heavy hitters): the first `k` rows of each group
    * under `order`, with their 1-based `rank`. Callers pass a total order
    * (tie-break on a unique column) for deterministic results.
    *
    * Scale: `row_number` + `rank <= k` is recognized by Catalyst and
    * planned as `WindowGroupLimit` — each MAP task keeps only its local
    * top-k per group BEFORE the exchange, so the shuffle carries
    * O(groups·k) rows per input partition, never the full input; the
    * spec locks this plan shape. No global sort anywhere. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-group distribution summary: count plus EXACT percentiles —
    * continuous (SQL `percentile`, linear interpolation at rank
    * `p·(n-1)`) for each requested `p`, and the discrete median
    * (`percentile_disc`, first value whose cumulative distribution
    * reaches 0.5 — always an actual data value). Column names are
    * `p<percent>` (`0.25 → p25`) and `p50_disc`.
    *
    * Cross-engine determinism: Spark's `percentile` and DuckDB's
    * `quantile_cont` both interpolate `lower + frac·(upper−lower)` in
    * double precision (probed bit-equal), and `percentile_disc` /
    * `quantile_disc` share the SQL-standard discrete definition, so the
    * oracle hash-matches without quantization.
    *
    * Scale: exact percentiles buffer each group's value multiset (Spark's
    * `Percentile` keeps a value→count map) — right for dashboard-grade
    * group counts (here: one group per event type), wrong for
    * billion-group fan-out. The 100 TB path is [[percentileSketch]]:
    * `approx_percentile`'s mergeable digest gives bounded state and
    * map-side combine at a stated accuracy; its spec pins the sketch to
    * this exact summary. */
  def percentileSummary(df: DataFrame, key: String, value: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probs must be in (0, 1)")
    val cont = probs.map(p =>
      expr(s"percentile($value, $p)").as(s"p${(p * 100).round}"))
    val disc =
      expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $value)")
        .as("p50_disc")
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"), (cont :+ disc): _*)
  }

  /** Sketch-based percentiles — `approx_percentile` at the given
    * `accuracy` (error ≤ 1/accuracy of rank). Unlike the exact form this
    * is a bounded-state, mergeable aggregate: partial digests combine
    * map-side, so it scales to any group count and any group size. Not
    * oracle-comparable (sketch internals are engine-specific); its spec
    * bounds it against [[percentileSummary]] instead. */
  def percentileSketch(df: DataFrame, key: String, value: String,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val cols = probs.map(p =>
      expr(s"approx_percentile($value, $p, $accuracy)")
        .as(s"p${(p * 100).round}"))
    df.groupBy(col(key)).agg(count(lit(1)).as("n"), cols: _*)
  }

  /** Range (interval-containment) join — every point row matched to every
    * interval of the same key that contains it (`lo <= t <= hi`,
    * inclusive both ends). Spark has no native range-join operator:
    * Catalyst plans the naive theta join as a broadcast-nested-loop (or
    * worse, a cartesian) — quadratic work that dies long before 100 TB.
    *
    * Scale shape: the classic bucketed range join. Intervals are exploded
    * onto a coarse grid of `bucketSeconds`-wide cells (a bounded
    * `sequence` — `span/bucket + 1` cells per interval, controlled by the
    * caller; pick the bucket near the typical interval span so the
    * explode factor is ~2), points land in exactly ONE cell, and the join
    * is a plain equi-join on `(key, cell)` with the exact containment
    * predicate applied AFTER the hash match. Each (interval, point) pair
    * is produced at most once — the point's single cell — so no dedup
    * pass is needed. One shuffle per side, co-partitioned; hot cells are
    * bounded by interval density per cell, and AQE's skew-join split
    * handles pathological cells. `lo`/`hi`/`pointTs` are epoch-second
    * longs; intervals with `hi < lo` are dropped (empty range). */
  def rangeJoin(points: DataFrame, pointId: String, pointTs: String,
      intervals: DataFrame, intervalId: String, lo: String, hi: String,
      key: String, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val cells = intervals
      .filter(col(hi) >= col(lo))
      .select(col(key), col(intervalId).as("interval_id"),
        col(lo).as("__lo"), col(hi).as("__hi"),
        explode(sequence(
          expr(s"$lo div ${bucketSeconds}L"),
          expr(s"$hi div ${bucketSeconds}L"))).as("__cell"))
    val p = points.select(col(key), col(pointId), col(pointTs).as("epoch_s"),
      expr(s"$pointTs div ${bucketSeconds}L").as("__cell"))
    p.join(cells, Seq(key, "__cell"))
      .filter(col("epoch_s") >= col("__lo") && col("epoch_s") <= col("__hi"))
      .select(col(pointId), col(key), col("epoch_s"), col("interval_id"))
  }

  /** SLIDING-WINDOW DISTINCT ACTIVE USERS (DAU/WAU) — per activity day,
    * the exact distinct-user count over the trailing `windowDays` window
    * ending that day, alongside the same-day count. Rolling distinct
    * does NOT decompose like a sum (a user active twice in the window
    * counts once), so a running-window aggregate over per-day partials
    * is WRONG; the classic exact plan used here: collapse the corpus to
    * distinct `(day, user)` pairs first (the only corpus-sized shuffle —
    * map-side combine collapses repeat activity), then explode each pair
    * into the `windowDays` window-END days it participates in and
    * distinct-count per end day. Shuffle volume after the collapse is
    * `windowDays × active-pairs` — bounded by the window parameter, not
    * the corpus — and the day key cannot develop skew beyond
    * `windowDays × users/day`. Only REAL activity days are emitted (the
    * explode's trailing phantom days are semi-joined away against the
    * distinct day set, a broadcastable side). */
  def slidingActiveUsers(df: DataFrame, ts: String, key: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val daySec = 86400L
    val pairs = df.select(
        (epochSeconds(date_trunc("DAY", col(ts)))).as("day_s"),
        col(key).as("uid"))
      .distinct()
    val days = pairs.select(col("day_s")).distinct()
    val dau = pairs.groupBy(col("day_s"))
      .agg(countDistinct(col("uid")).as("dau"))
    val wau = pairs
      .select(col("uid"), explode(sequence(lit(0), lit(windowDays - 1)))
        .as("off"), col("day_s"))
      .select(col("uid"), (col("day_s") + col("off") * daySec).as("day_s"))
      .join(days, Seq("day_s"), "left_semi")
      .groupBy(col("day_s"))
      .agg(countDistinct(col("uid")).as("wau"))
    dau.join(wau, Seq("day_s"))
      .select(col("day_s"), col("dau"), col("wau"))
  }

  /** Gap-based sessionization: a new session starts after `gapSeconds` of
    * per-key inactivity. Classic cumulative-sum-over-flags plan: one shuffle
    * on the key, two window passes, all codegen. Order key is
    * (µs-truncated time, rowId) so sessions are deterministic. */
  def sessionize(
      df: DataFrame, ts: String, key: String, rowId: String,
      gapSeconds: Long): DataFrame = {
    val epochUs = epochMicros(col(ts))
    val ord = Window.partitionBy(col(key)).orderBy(col("epoch_us"), col(rowId))
    df.withColumn("epoch_us", epochUs)
      .withColumn("prev_us", lag(col("epoch_us"), 1).over(ord))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
             col("epoch_us") - col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_us", "new_session")
  }

  /** MARKOV TRANSITION MATRIX over per-entity event sequences: for every
    * ordered pair of consecutive event types within an entity's
    * time-ordered stream, the transition count and the conditional
    * probability `P(next | prev)` — the sequence-analytics primitive
    * behind clickstream flow maps, behavioral cohorting, and
    * next-action models. Ordering is `(ts, rowId)`, so the sequence —
    * and therefore every count — is unique and engine-reproducible
    * regardless of partitioning. The probability is one double division
    * of two exact longs (identical in any IEEE-754 engine).
    *
    * Scale shape: one shuffle keyed on the entity for the `lag` window
    * (bounded one-row state), then a map-side-combined count keyed on
    * the (prev, next) pair — output is |types|² rows at most, and the
    * per-prev totals come from a window over that tiny aggregate, not a
    * second pass over the events. */
  def transitionMatrix(df: DataFrame, ts: String, key: String,
      typeCol: String, rowId: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(rowId))
    val pairs = df
      .withColumn("prev_type", lag(col(typeCol), 1).over(ord))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("prob", col("n").cast(DoubleType) / col("total"))
      .select("prev_type", "next_type", "n", "total", "prob")
  }

  /** CUSUM CHANGE-POINT DETECTION per series: the single most likely
    * mean-shift instant, found as the argmax over t of
    * `|n·S_t − t·S_n|` — the classic cumulative-sum statistic
    * `|S_t − t·μ|` scaled by n so it needs NO division and stays exact
    * integer arithmetic end to end. Values quantize once to scale-6
    * longs; prefix sums and the cross products fold in `DECIMAL(38,0)`
    * (scale 0 ⇒ no rounding ever; headroom to 10³⁸ covers n·S_t for
    * 10¹² rows of 10⁹-unscaled values), so every engine lands on the
    * same argmax, with ties broken by earliest `(ts, rowId)`. The
    * reported score converts the exact integer to double once, divided
    * by 10⁶ back into value units.
    *
    * Scale shape: one shuffle keyed on the series for the ordered
    * prefix-sum window (running state, no buffering); the per-series
    * totals ride the same partitioning as an unordered window; the
    * argmax is a `row_number` top-1 that `WindowGroupLimit` prunes
    * map-side. Linear in rows at any scale. */
  def changePointCusum(df: DataFrame, ts: String, key: String,
      value: String, rowId: String): DataFrame = {
    val ord = Window.partitionBy(col("key"))
      .orderBy(col("__ts"), col("__rid"))
    val whole = Window.partitionBy(col("key"))
    val d = df.select(col(key).as("key"), col(ts).as("__ts"),
      col(rowId).as("__rid"),
      (col(value).cast(DecimalType(28, 6)) * 1000000L)
        .cast(DecimalType(38, 0)).as("v"))
    val pick = Window.partitionBy(col("key"))
      .orderBy(col("a").desc, col("__ts"), col("__rid"))
    d.withColumn("s",
        sum(col("v")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", count(lit(1)).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)).cast(DecimalType(38, 0)))
      .withColumn("n", count(lit(1)).over(whole).cast(DecimalType(38, 0)))
      .withColumn("tt", sum(col("v")).over(whole))
      .withColumn("a", abs(col("n") * col("s") - col("t") * col("tt")))
      .withColumn("pr", row_number().over(pick))
      .filter(col("pr") === 1)
      .select(col("key"), col("__ts").as("change_ts"),
        (col("a").cast(DoubleType) / 1000000.0).as("score"))
  }

  /** Shared per-(series, bucket) exact sums for the cross-series
    * statistics ([[seriesCorrelation]], [[seriesTrend]]): quantized to
    * scale 2 (HALF_UP, identical in DuckDB) so every downstream
    * moment's scaled integer stays below 2⁵³ — the bound where
    * DECIMAL→DOUBLE conversion is EXACT in any engine; wider scales
    * put the grains past 2⁵³ where engines legally disagree by one ulp
    * (the TWA lesson). Bound: |Σxy|·10⁴ < 9·10¹⁵ holds to ~10⁷-unit
    * bucket sums over ~10⁴ buckets. ONE definition on each side (this
    * helper; the oracle's shared CTE) so the quantization discipline
    * cannot drift between the two statistics. */
  private def decimalBuckets(df: DataFrame, ts: String, seriesCol: String,
      value: String, bucketUnit: String): DataFrame =
    df.groupBy(col(seriesCol).as("series"),
        epochSeconds(date_trunc(bucketUnit, col(ts))).as("bucket_s"))
      .agg(sum(col(value).cast(DecimalType(28, 6)))
        .cast(DecimalType(38, 2)).as("y"))

  /** CROSS-SERIES CORRELATION MATRIX — pairwise Pearson correlation
    * between every two series' bucketed sums (the reference domain's
    * own question: does PM2.5 track humidity?). Series are first
    * reduced to `(series, bucket)` exact decimal sums; buckets present
    * in only one series drop from that pair (inner alignment), and
    * degenerate pairs (fewer than 2 common buckets or zero variance)
    * yield NULL, never NaN.
    *
    * Determinism: per-pair moments are exact decimal sums over the
    * aligned buckets; the Pearson combine is one fixed double op chain
    * `(n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))` the
    * oracle mirrors token for token (IEEE mul/sub/div/sqrt are all
    * correctly rounded).
    *
    * Scale shape: the bucket rollup is the only corpus pass (one
    * map-combined shuffle); the pair join and moment rollup run over
    * the |series|·|buckets| aggregate. Pairs are emitted for
    * `series_a ≤ series_b` (the matrix is symmetric). */
  def seriesCorrelation(df: DataFrame, ts: String, seriesCol: String,
      value: String, bucketUnit: String = "hour"): DataFrame = {
    val buckets = decimalBuckets(df, ts, seriesCol, value, bucketUnit)
      .withColumnRenamed("y", "v")
    val joined = buckets.select(col("series").as("series_a"),
        col("bucket_s"), col("v").as("va"))
      .join(buckets.select(col("series").as("series_b"),
        col("bucket_s"), col("v").as("vb")), Seq("bucket_s"))
      .filter(col("series_a") <= col("series_b"))
    joined
      .groupBy(col("series_a"), col("series_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("va")).as("sx"), sum(col("vb")).as("sy"),
        sum((col("va") * col("vb")).cast(DecimalType(38, 4))).as("sxy"),
        sum((col("va") * col("va")).cast(DecimalType(38, 4))).as("sxx"),
        sum((col("vb") * col("vb")).cast(DecimalType(38, 4))).as("syy"))
      .withColumn("num", col("n").cast(DoubleType) *
        col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
      .withColumn("dx", col("n").cast(DoubleType) *
        col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
      .withColumn("dy", col("n").cast(DoubleType) *
        col("syy").cast(DoubleType) -
        col("sy").cast(DoubleType) * col("sy").cast(DoubleType))
      .withColumn("corr_r", when(col("n") >= 2 &&
        col("dx") > 0.0 && col("dy") > 0.0,
        col("num") / (sqrt(col("dx")) * sqrt(col("dy")))))
      .select("series_a", "series_b", "n", "corr_r")
  }

  /** SEASONALITY PROFILE — the hour-of-day / day-of-week fingerprint
    * per series: exact mean and count per `(series, hour 0–23,
    * weekday 1–7)` cell, the panel every monitoring dashboard draws to
    * separate diurnal rhythm from drift. One map-combined aggregate;
    * cell extraction is integer arithmetic on the epoch second
    * (`dow` ISO-like: 1970-01-01 was a Thursday → `(d+3) mod 7 + 1`
    * with Monday = 1), identical in any engine — no locale-dependent
    * date functions anywhere. */
  def seasonalityProfile(df: DataFrame, ts: String, seriesCol: String,
      value: String): DataFrame =
    df.withColumn("__s", epochSeconds(col(ts)))
      // FLOOR division before the pmod: `div` truncates toward zero, so
      // a pre-1970 timestamp would land in the wrong cell (and disagree
      // with the oracle's flooring `//`); the CASE turns trunc-div into
      // floor-div for negative seconds, a no-op for the common case
      .withColumn("__h", expr(
        "__s div 3600 + (CASE WHEN __s % 3600 < 0 THEN -1 ELSE 0 END)"))
      .withColumn("__d", expr(
        "__s div 86400 + (CASE WHEN __s % 86400 < 0 THEN -1 ELSE 0 END)"))
      .withColumn("hour_of_day", expr("pmod(__h, 24)"))
      .withColumn("day_of_week", expr("pmod(__d + 3, 7) + 1"))
      .groupBy(col(seriesCol).as("series"), col("hour_of_day"),
        col("day_of_week"))
      .agg(count(lit(1)).as("n"), exactAvg(col(value)).as("avg_value"))

  /** PER-SERIES TREND (OLS) — least-squares slope and intercept of
    * each series' hourly sums against hours-since-series-start: the
    * drift detector that says "this sensor's baseline is creeping"
    * with a rate, not just a flag. Buckets re-index to small integers
    * (hours since the series' first bucket) and sums quantize to scale
    * 2, so every OLS moment's scaled integer stays far below 2⁵³ —
    * the DECIMAL→DOUBLE exactness bound — and the closed-form combine
    * `slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)`,
    * `intercept = (Σy − slope·Σt)/n` is a fixed IEEE op chain the
    * oracle mirrors. Degenerate series (< 2 buckets or zero time
    * variance) yield NULL.
    *
    * Scale shape: the hourly rollup is the only corpus pass; the
    * per-series min and the moments are aggregates over the
    * |series|·|buckets| table. */
  def seriesTrend(df: DataFrame, ts: String, seriesCol: String,
      value: String): DataFrame = {
    val buckets = decimalBuckets(df, ts, seriesCol, value, "hour")
    val w0 = Window.partitionBy(col("series"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets
      .withColumn("t0_s", min(col("bucket_s")).over(w0))
      .withColumn("t_h", expr("(bucket_s - t0_s) div 3600"))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("t_h")).as("st"),
        sum(col("t_h") * col("t_h")).as("stt"),
        sum(col("y")).as("sy"),
        sum((col("t_h") * col("y")).cast(DecimalType(38, 2))).as("sty"))
      .withColumn("den", col("n").cast(DoubleType) *
        col("stt").cast(DoubleType) -
        col("st").cast(DoubleType) * col("st").cast(DoubleType))
      .withColumn("slope_per_hour", when(col("n") >= 2 && col("den") > 0.0,
        (col("n").cast(DoubleType) * col("sty").cast(DoubleType) -
          col("st").cast(DoubleType) * col("sy").cast(DoubleType)) /
          col("den")))
      .withColumn("intercept", when(col("slope_per_hour").isNotNull,
        (col("sy").cast(DoubleType) -
          col("slope_per_hour") * col("st").cast(DoubleType)) /
          col("n").cast(DoubleType)))
      .select("series", "n", "slope_per_hour", "intercept")
  }

  /** TIME-WEIGHTED AVERAGE — TimescaleDB's `time_weight('LOCF', …)` →
    * `average()`: irregular samples weighted by how LONG each value
    * held, not how often it was reported (a sensor that reports 10×
    * during a spike must not drag the daily mean). Each observation
    * carries its value until the next one (LOCF weighting); the last
    * observation spans zero time, so
    * `twa = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_N − t₀)`. Single-observation keys
    * have no duration → NULL twa, never a fake number.
    *
    * Exactness: weights are integer SECOND deltas (ordering stays at
    * µs, ties by `rowId`); `value·Δt` multiplies a scale-6 decimal by
    * a long (exact), sums exactly, and rescales to BIGINT micro-units
    * — so the one double division at the end divides two exactly-
    * representable int64 values, which every IEEE engine rounds
    * identically (a wide DECIMAL→DOUBLE cast does not carry that
    * guarantee cross-engine).
    *
    * Scale shape: one key-partitioned `lead` window + one keyed
    * aggregate on the SAME partitioning — a single shuffle, bounded
    * per-key state. */
  def timeWeightedAverage(df: DataFrame, ts: String, key: String,
      value: String, rowId: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("t_us"), col(rowId))
    df.select(col(key), col(rowId), col(value).as("v"),
        epochMicros(col(ts)).as("t_us"),
        epochSeconds(col(ts)).as("t_s"))
      .withColumn("next_s", lead(col("t_s"), 1).over(w))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_obs"),
        // weights at SECOND grain, rescaled to exact BIGINT micro-units:
        // int64→double is correctly rounded in every engine, where a
        // wide DECIMAL→DOUBLE cast is not guaranteed to agree cross-
        // engine in the last ulp (observed vs DuckDB)
        (sum(when(col("next_s").isNotNull,
          col("v").cast(DecimalType(18, 6)) * (col("next_s") - col("t_s"))))
          * lit(1000000L)).cast(LongType).as("num_micro"),
        (max(col("t_s")) - min(col("t_s"))).as("duration_s"))
      .withColumn("twa", when(col("duration_s") > 0,
        col("num_micro").cast(DoubleType) /
          (col("duration_s") * 1000000L).cast(DoubleType)))
      .select(col(key), col("n_obs"), col("duration_s"), col("twa"))
  }

  /** COUNTER AGGREGATION — TimescaleDB's `counter_agg` delta/resets
    * semantics for monotonic counters that occasionally restart (a
    * rebooting sensor, a rolled process stat): per key in time order,
    * a non-negative step contributes its delta; a NEGATIVE step is a
    * RESET and the new reading itself is the increase since the
    * restart-from-zero. Reports observation/reset counts, the exact
    * total increase, and the first/last readings.
    *
    * Exactness: per-row double subtraction is deterministic IEEE; the
    * chosen contribution is cast to a scale-6 decimal once and summed
    * exactly. `first`/`last` take the `(ts, rowId)` extremes via
    * min_by/max_by — no second window pass.
    *
    * Scale shape: one key-partitioned `lag` window, then one keyed
    * aggregate on the same partitioning — a single shuffle. */
  def counterAggregate(df: DataFrame, ts: String, key: String,
      value: String, rowId: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("t_us"), col(rowId))
    df.select(col(key), col(rowId), col(value).as("v"),
        epochMicros(col(ts)).as("t_us"))
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(null))
          .when(col("v") >= col("prev"), col("v") - col("prev"))
          .otherwise(col("v")))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("prev").isNotNull && col("v") < col("prev"), 1L)
          .otherwise(0L)).as("n_resets"),
        sum(col("contrib").cast(DecimalType(28, 6)))
          .cast(DoubleType).as("total_increase"),
        min_by(col("v"), struct(col("t_us"), col(rowId))).as("first_value"),
        max_by(col("v"), struct(col("t_us"), col(rowId))).as("last_value"))
  }

  /** AUTOCORRELATION (correlogram) of the daily value series — the
    * diagnostic read before trusting [[seasonality]] or
    * [[holtForecast]]: a spike at lag 7 is weekly rhythm, slow decay
    * is trend, white noise is neither. Computed as the Pearson
    * correlation of the series against itself shifted by each lag
    * (1..`maxLag`), pairs aligned by day INDEX (gaps are adjacent
    * steps, the same contract as [[holtForecast]]).
    *
    * Exactness (the [[seriesCorrelation]] recipe): daily sums are
    * FLOORED to integer units (floor, not cast — the engines' native
    * decimal→int conversions disagree on rounding), every moment is a
    * BIGINT sum, and the Pearson combine is the one fixed double chain
    * `(n·Σxy − Σx·Σy)/(√(n·Σxx − Σx²)·√(n·Σyy − Σy²))` the oracle
    * mirrors token for token. Bound check: with day sums ≤ 10⁶ units
    * and ≤ 10³ days every moment stays under 2⁵³; larger deployments
    * rescale units first (same rule as the money-sum audit).
    * Degenerate lags (fewer than 2 pairs or zero variance on either
    * side) yield NULL, never NaN.
    *
    * Scale shape: ONE corpus pass (the map-combined daily rollup);
    * everything after runs on the ≤ days-sized frame — the index
    * window, the 7-way lag join, the per-lag moments are all
    * negligible at any corpus size. */
  def autocorrelation(df: DataFrame, ts: String, value: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag")
    import org.apache.spark.sql.expressions.Window
    val daily = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .groupBy(epochSeconds(date_trunc("day", col(ts))).as("day_s"))
      .agg(floor(sum(col(value).cast(DecimalType(28, 6))))
        .cast(LongType).as("y"))
      .withColumn("i",
        row_number().over(Window.orderBy(col("day_s"))).cast(LongType))
    val lags = daily.select(explode(sequence(lit(1L),
      lit(maxLag.toLong))).as("lag")).distinct()
    val a = daily.select(col("i"), col("y").as("x"))
    val b = daily.select(col("i").as("ib"), col("y").as("z"))
    val pairs = lags.crossJoin(a)
      .join(b, col("ib") === col("i") + col("lag"))
    val m = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("z")).as("sxz"))
    m.select(col("lag"), col("n").as("n_pairs"),
        when(col("n") >= 2 &&
          (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("n") * col("szz") - col("sz") * col("sz")) > 0,
          (col("n").cast(DoubleType) * col("sxz").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sz").cast(DoubleType)) /
            (sqrt(col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
              col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
             sqrt(col("n").cast(DoubleType) * col("szz").cast(DoubleType) -
              col("sz").cast(DoubleType) * col("sz").cast(DoubleType))))
          .as("acf"))
  }

  /** HOLT LINEAR-TREND FORECAST — double exponential smoothing over the
    * daily value sums, the forecasting leg the trend/seasonality/
    * change-point family reads history with. α = β = ½, so every
    * update is an exact FLOOR-halving on BIGINT micro-units:
    * `level_t = ⌊(y_t + level_{t−1} + trend_{t−1})/2⌋`,
    * `trend_t = ⌊(level_t − level_{t−1} + trend_{t−1})/2⌋`, with the
    * textbook init `level₁ = y₁, trend₁ = y₂ − y₁` and updates running
    * t = 2…n. Floor (not truncate) division is the cross-engine
    * contract — the trend goes NEGATIVE on declining series, where
    * BOTH Spark's `div` and DuckDB's `//` truncate toward zero — so
    * the engine halves via the pmod identity `(x − pmod(x, 2)) div 2`
    * and the oracle via the equivalent parity subtract
    * `(x − (x & 1)) // 2`. The h-step
    * forecast is `level_n + h·trend_n`; the only double is the final
    * micro→unit division of an exact long by the literal 10⁶.
    *
    * Scale shape: the ONLY corpus pass is the map-combined daily
    * rollup; the recursion is inherently sequential but runs over the
    * bucket count (≤ 3 650 rows for a decade of days), folded by a
    * single-row `aggregate` higher-order expression — never a
    * driver-side loop, no per-event work. Missing days are treated as
    * adjacent steps (gap policy belongs to the gapfill operators). */
  def holtForecast(df: DataFrame, ts: String, value: String,
      horizons: Int = 7): DataFrame = {
    require(horizons >= 1, s"horizons=$horizons")
    val daily = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .groupBy(epochSeconds(date_trunc("day", col(ts))).as("day_s"))
      .agg((sum(col(value).cast(DecimalType(18, 6))) * 1000000)
        .cast(LongType).as("y"))
    val series = daily.agg(
        sort_array(collect_list(struct(col("day_s"), col("y")))).as("s"))
      .withColumn("n", size(col("s")).cast(LongType))
    val nl = "((e.y + acc.level + acc.trend)" +
      " - pmod(e.y + acc.level + acc.trend, 2L)) div 2L"
    val lt = series.selectExpr("n",
      s"""aggregate(
         |  slice(s, 2, greatest(cast(n AS INT) - 1, 0)),
         |  named_struct(
         |    'level', s[0].y,
         |    'trend', coalesce(try_element_at(s, 2).y - s[0].y, 0L)),
         |  (acc, e) -> named_struct(
         |    'level', $nl,
         |    'trend', (($nl - acc.level + acc.trend)
         |      - pmod($nl - acc.level + acc.trend, 2L)) div 2L)
         |) AS lt""".stripMargin)
    lt.select(
        explode(sequence(lit(1L), lit(horizons.toLong)))
          .as("horizon_days"),
        col("n").as("n_days"),
        col("lt.level").as("level_micro"),
        col("lt.trend").as("trend_micro"))
      .withColumn("forecast_micro",
        col("level_micro") + col("horizon_days") * col("trend_micro"))
      .withColumn("forecast",
        col("forecast_micro").cast(DoubleType) / lit(1000000.0))
  }

  /** USER GAP HISTOGRAM — engagement regularity at a glance: each
    * key's LONGEST inactivity gap (in whole days between consecutive
    * active days), histogrammed with ppb user shares. Separates the
    * daily-habit cohort (gap ≤ 1) from lapsing-and-returning users a
    * mean-activity metric hides. Single-active-day keys report gap 0.
    *
    * All-integer. Scale shape: distinct (key, day) collapses
    * map-side; the lag window is per-key over that key's ACTIVE-DAY
    * list (≤ span days wide); the histogram is a ≤ span-row rollup. */
  def userGapHistogram(df: DataFrame, ts: String,
      key: String): DataFrame = {
    val active = df
      .withColumn("epoch_s", epochSeconds(col(ts)))
      .select(col(key).as("k"), expr("epoch_s div 86400L").as("day"))
      .distinct()
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    val longest = active
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
      .groupBy(col("k"))
      .agg(coalesce(max(col("gap")), lit(0L)).as("longest_gap_days"))
    val hist = longest.groupBy(col("longest_gap_days"))
      .agg(count(lit(1)).as("n_users"))
    val tot = hist.agg(sum(col("n_users")).as("n_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("longest_gap_days"), col("n_users"),
        expr("(n_users * 1000000000L) div n_total").as("user_share_ppb"))
  }

  /** RATE-BREACH AUDIT — each key's peak per-minute event rate, top-k
    * offenders: the rate-limit/bot-detection read (the reference's own
    * polling floor — SURVEY §2 S5 — is exactly such a budget,
    * enforced client-side; this is the server-side census). Reports
    * the peak rate, the EARLIEST minute it was hit, and the key's
    * total volume, ranked by (peak desc, key).
    *
    * All-integer. Scale shape: (key, minute) counts collapse
    * map-side; the per-key peak is a second map-combined rollup
    * (min_by via conditional-min against the max — no window); global
    * top-k via orderBy+limit (TakeOrderedAndProject). */
  def rateBreaches(df: DataFrame, ts: String, key: String,
      topK: Int = 20): DataFrame = {
    val perMin = df
      .withColumn("epoch_s", epochSeconds(col(ts)))
      .groupBy(col(key).as("k"), expr("epoch_s div 60L").as("minute"))
      .agg(count(lit(1)).as("cnt"))
    val peaks = perMin.groupBy(col("k"))
      .agg(max(col("cnt")).as("peak_per_minute"),
        sum(col("cnt")).as("n_events"))
    perMin.join(peaks, Seq("k"))
      .filter(col("cnt") === col("peak_per_minute"))
      .groupBy(col("k").as(key), col("peak_per_minute"),
        col("n_events"))
      .agg(min(col("minute")).as("peak_minute"))
      .select(col(key), col("peak_per_minute"), col("peak_minute"),
        col("n_events"))
      .orderBy(col("peak_per_minute").desc, col(key))
      .limit(topK)
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — every touch between two
    * conversions shares the closing conversion's credit equally (the
    * fairness counterweight to [[firstTouchAttribution]]'s
    * winner-takes-all): per touch type, the credited-touch count and
    * total credit in ppb. Segments are conversion-delimited: a touch
    * belongs to segment s = number of conversions strictly before it,
    * and is credited iff a conversion CLOSES segment s; per-touch
    * credit is `10⁹ div n_touches_in_segment` (floor — type totals
    * are exact multiples, engine-identical).
    *
    * Scale shape: one per-key running-count window (bounded by each
    * key's history), one (key, segment) rollup joined back (the
    * segment frame is conversions-sized), one type rollup. */
  def linearAttribution(df: DataFrame, ts: String, key: String,
      typeCol: String, rowId: String,
      conversionType: String): DataFrame = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("epoch_us"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seq = df.select(col(key).as("k"),
        epochMicros(col(ts)).as("epoch_us"),
        col(rowId).as("rid"), col(typeCol).as("t"))
      .withColumn("seg",
        coalesce(sum(when(col("t") === conversionType, 1L)
          .otherwise(0L)).over(w), lit(0L)))
    val touches = seq.filter(col("t") =!= conversionType)
    val closed = seq.filter(col("t") === conversionType)
      .select(col("k"), col("seg")).distinct()
    val credited = touches
      .join(closed, Seq("k", "seg"), "left_semi")
    val segSizes = credited.groupBy(col("k"), col("seg"))
      .agg(count(lit(1)).as("n_seg"))
    credited.join(segSizes, Seq("k", "seg"))
      .withColumn("credit", expr("1000000000L div n_seg"))
      .groupBy(col("t").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("credit_ppb"))
  }

  /** MARKOV MEMORYLESSNESS AUDIT — is the event stream first-order
    * Markov? Compares the OBSERVED two-step transition distribution
    * against the CHAINED one-step prediction `P²(a,c) = Σ_b
    * P(a,b)·P(b,c)`: a big gap means the process carries more than
    * one step of memory, and sequence features (sessions, paths)
    * carry signal a bigram model misses. Output per (from, to) pair:
    * observed-2-step and predicted ppb with the signed gap.
    *
    * Exactness: transition counts from two `lead` windows (user-
    * partitioned, fully tie-broken order); one-step probabilities are
    * FLOOR ppb; the chain rule sums EXACT ppb·ppb products before ONE
    * floor-div — all BIGINT (Σ p·p ≤ |states|·10¹⁸ — keep state
    * cardinality ≤ ~9, or drop to ppm scale above).
    *
    * Scale shape: the lead windows are per-user (bounded width); both
    * count rollups are map-combined onto |states|² cells; the matrix
    * product joins two |states|²-row frames — broadcast-trivial. */
  def markovTwoStepAudit(df: DataFrame, ts: String, key: String,
      rowId: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("epoch_us"), col(rowId))
    val seq = df
      .withColumn("epoch_us", epochMicros(col(ts)))
      .withColumn("s0", col(stateCol))
      .withColumn("s1", lead(col(stateCol), 1).over(w))
      .withColumn("s2", lead(col(stateCol), 2).over(w))
    val c1 = seq.filter(col("s1").isNotNull)
      .groupBy(col("s0").as("a"), col("s1").as("b"))
      .agg(count(lit(1)).as("c1"))
    val rows1 = c1.groupBy(col("a")).agg(sum(col("c1")).as("t1"))
    val p1 = c1.join(broadcast(rows1), Seq("a"))
      .withColumn("p_ppb", expr("(c1 * 1000000000L) div t1"))
    val c2 = seq.filter(col("s2").isNotNull)
      .groupBy(col("s0").as("a"), col("s2").as("c"))
      .agg(count(lit(1)).as("c2"))
    val rows2 = c2.groupBy(col("a")).agg(sum(col("c2")).as("t2"))
    val obs = c2.join(broadcast(rows2), Seq("a"))
      .withColumn("obs_ppb", expr("(c2 * 1000000000L) div t2"))
      .select(col("a"), col("c"), col("c2").as("n_two_step"),
        col("obs_ppb"))
    val pred = p1.select(col("a"), col("b"), col("p_ppb").as("p_ab"))
      .join(p1.select(col("a").as("b"), col("b").as("c"),
        col("p_ppb").as("p_bc")), Seq("b"))
      .groupBy(col("a"), col("c"))
      .agg(expr("sum(p_ab * p_bc) div 1000000000L").as("pred_ppb"))
    obs.join(pred, Seq("a", "c"), "full_outer")
      .select(col("a").as("from_state"), col("c").as("to_state"),
        coalesce(col("n_two_step"), lit(0L)).as("n_two_step"),
        coalesce(col("obs_ppb"), lit(0L)).as("obs_ppb"),
        coalesce(col("pred_ppb"), lit(0L)).as("pred_ppb"),
        (coalesce(col("obs_ppb"), lit(0L)) -
          coalesce(col("pred_ppb"), lit(0L))).as("gap_ppb"))
  }

  /** ACTIVITY MATRIX — the hour-of-day × day-of-week load heatmap
    * every ops review opens with: event counts and ppb shares per
    * (weekday, hour) cell. Weekday and hour come from PURE INTEGER
    * epoch arithmetic (`dow = (epoch_day + 3) % 7`, Monday = 0 —
    * epoch day 0 was a Thursday; `hour = (epoch_s % 86400) div
    * 3600`), never from engine date-part functions whose week/TZ
    * conventions differ.
    *
    * Scale shape: one map-combined groupBy onto ≤ 168 cells +
    * broadcast total — scan-bound. All-integer. */
  def activityMatrix(df: DataFrame, ts: String): DataFrame = {
    val base = df
      .withColumn("epoch_s", epochSeconds(col(ts)))
      .withColumn("dow", expr("((epoch_s div 86400L) + 3L) % 7L"))
      .withColumn("hour", expr("(epoch_s % 86400L) div 3600L"))
    val cells = base.groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum(col("n_events")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_ppb",
        expr("(n_events * 1000000000L) div n_total"))
      .select(col("dow"), col("hour"), col("n_events"),
        col("share_ppb"))
  }

  /** INTERVAL CONCURRENCY (sweep line) — peak simultaneous activity
    * per day: every event opens a half-open activity interval
    * `[ts, ts+duration)`, and the classic +1/−1 sweep reports each
    * day's maximum concurrent interval count and the EARLIEST second
    * it is reached — the capacity-planning statistic (peak simultaneous
    * sessions) that a grouped count can't produce. Intervals belong to
    * their START day; a tail crossing midnight keeps counting in the
    * start-day curve (documented, matches "sessions started that day").
    *
    * Exactness: all epoch-second integers; half-open semantics fall
    * out of summing +1/−1 deltas at the SAME second before the running
    * sum (an end tying a start cancels — no overlap). The earliest
    * argmax uses a rank over `(running desc, t asc)`, never min_by on
    * a struct (oracle rule).
    *
    * Scale shape: the ±1 deltas collapse map-side to one row per
    * `(day, second)` — the running-sum window is partitioned by day
    * and bounded by 86 400 rows whatever the event volume; the final
    * per-day pick is a rank over the same partition. */
  def intervalConcurrency(df: DataFrame, ts: String,
      durationSec: Long): DataFrame = {
    val base = df
      .withColumn("start_s", epochSeconds(col(ts)))
      .withColumn("day_s", expr("(start_s div 86400L) * 86400L"))
    val deltas = base
      .select(col("day_s"), col("start_s").as("t"),
        lit(1L).as("delta"))
      .unionAll(base.select(col("day_s"),
        (col("start_s") + lit(durationSec)).as("t"),
        lit(-1L).as("delta")))
      .groupBy(col("day_s"), col("t"))
      .agg(sum(col("delta")).as("delta"))
    val wRun = Window.partitionBy(col("day_s")).orderBy(col("t"))
    val wPick = Window.partitionBy(col("day_s"))
      .orderBy(col("running").desc, col("t"))
    val starts = base.groupBy(col("day_s"))
      .agg(count(lit(1)).as("n_intervals"))
    deltas
      .withColumn("running", sum(col("delta")).over(wRun))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .join(starts, Seq("day_s"))
      .select(col("day_s"), col("n_intervals"),
        col("running").as("max_concurrent"), col("t").as("peak_at_s"))
  }

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven multi-touch
    * model that first-touch and linear attribution approximate: fit a
    * first-order chain over the observed journeys (same segment
    * convention as [[linearAttribution]]: each conversion closes its
    * preceding touches; `start → first touch → … → conv/null`), then
    * credit each channel by how much the chain's conversion
    * probability DROPS when entering that channel becomes journey
    * death (the standard removal effect). Output per channel: base
    * and channel-removed bounded-horizon conversion probabilities
    * (exact ppb BIGINTs), the removal effect, and the normalized
    * attribution share.
    *
    * Conversion probability is `horizon`-step integer value iteration
    * (`p'(s) = Σ_to cnt(s,to)·p(to) div out(s)`, p(conv) = 10⁹,
    * p(null) = 0) — the bounded-horizon estimator is the stated
    * definition (journeys here are a handful of steps; the horizon
    * caps cyclic mass exactly the way every production attribution
    * run truncates journeys). Pure BIGINT arithmetic end to end —
    * truncating division agrees across Spark/DuckDB/JVM — so the
    * oracle replays the identical orbit as unrolled CTEs. Removal can
    * only LOWER conversion (the removed channel's continuation value
    * is floored to zero), so effects are non-negative.
    *
    * Scale shape: journeys reduce to the |states|² transition-count
    * matrix in one pass of per-user windows (bounded width) + a
    * map-combined rollup; the matrix collect is the documented
    * bounded driver-side site (≤ (channels+1)·(channels+2) cells — a
    * model constant), and the (channels+1) value iterations run on
    * the driver in microseconds. `channels` is an explicit contract
    * (it parameterizes the removal chains and the oracle). */
  def markovAttribution(df: DataFrame, ts: String, key: String,
      typeCol: String, rowId: String, conversionType: String,
      channels: Seq[String], horizon: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("k"))
      .orderBy(col("epoch_us"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seq = df.select(col(key).as("k"),
        epochMicros(col(ts)).as("epoch_us"),
        col(rowId).as("rid"), col(typeCol).as("t"))
      .filter(col("t").isin(conversionType +: channels: _*))
      .withColumn("seg",
        coalesce(sum(when(col("t") === conversionType, 1L)
          .otherwise(0L)).over(w), lit(0L)))
    val converting = seq.filter(col("t") === conversionType)
      .select(col("k"), col("seg")).distinct()
      .withColumn("conv", lit(true))
    val wj = Window.partitionBy(col("k"), col("seg"))
      .orderBy(col("epoch_us"), col("rid"))
    val touches = seq.filter(col("t") =!= conversionType)
      .withColumn("from_s", coalesce(lag(col("t"), 1).over(wj),
        lit("start")))
      .withColumn("rn", row_number().over(wj))
      .withColumn("n_j", count(lit(1)).over(
        Window.partitionBy(col("k"), col("seg"))))
      .join(converting, Seq("k", "seg"), "left")
      .withColumn("conv", coalesce(col("conv"), lit(false)))
    // interior transitions + the terminal exit of each journey; a
    // converting journey with zero touches is a direct start→conv
    val interior = touches
      .select(col("from_s"), col("t").as("to_s"))
    val terminal = touches.filter(col("rn") === col("n_j"))
      .select(col("t").as("from_s"),
        when(col("conv"), lit("conv")).otherwise(lit("null")).as("to_s"))
    val bare = converting
      .join(seq.filter(col("t") =!= conversionType)
        .select(col("k"), col("seg")).distinct(),
        Seq("k", "seg"), "left_anti")
      .select(lit("start").as("from_s"), lit("conv").as("to_s"))
    val counts = interior.unionAll(terminal).unionAll(bare)
      .groupBy(col("from_s"), col("to_s"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getAs[String]("from_s"), r.getAs[String]("to_s")) ->
        r.getAs[Long]("cnt")).toMap
    val out = counts.groupBy(_._1._1).map { case (s, m) =>
      s -> m.values.sum }
    def pConvFrom(removed: Option[String]): Long = {
      def value(p: Map[String, Long], to: String): Long = to match {
        case "conv" => 1000000000L
        case "null" => 0L
        case c if removed.contains(c) => 0L
        case c => p.getOrElse(c, 0L)
      }
      def step(p: Map[String, Long], s: String): Long =
        counts.collect { case ((`s`, to), cnt) =>
          Math.multiplyExact(cnt, value(p, to)) }
          .foldLeft(0L)(Math.addExact) / out(s)
      val fixed = (1 to horizon).foldLeft(
        channels.map(_ -> 0L).toMap) { (p, _) =>
          channels.map(c =>
            c -> (if (out.contains(c)) step(p, c) else 0L)).toMap
      }
      if (out.contains("start")) step(fixed, "start") else 0L
    }
    val base = pConvFrom(None)
    val removed = channels.map(c => c -> pConvFrom(Some(c)))
    val effects = removed.map { case (c, r) => c -> (base - r) }
    val total = effects.map(_._2).sum
    effects.zip(removed).map { case ((c, eff), (_, rem)) =>
      val attr = if (total > 0L) eff * 1000000000L / total else 0L
      (c, base, rem, eff, attr, attr.toDouble / 1.0e9)
    }.toDF("touch_type", "p_conv_base_ppb", "p_conv_removed_ppb",
      "removal_effect_ppb", "attribution_ppb", "attribution")
      .orderBy(col("touch_type"))
  }
}
