package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse-side lifecycle operators — the pieces a deployment keeps
  * NEXT to the raw event/order tables: customer scoring (RFM), slowly
  * changing dimension maintenance (SCD Type 2), changelog application
  * (CDC latest-wins), and distribution-drift monitoring (PSI). The
  * reference stores append-only sensor history and leaves the derived
  * state to the operator (SURVEY §2.8 maintenance policies); these are
  * the standard derived-state builds, re-expressed as one- or two-pass
  * Spark plans.
  *
  * Numeric determinism follows the registry conventions: time is epoch
  * seconds (integer floor), money sums as fixed-scale decimals, scores
  * and drift statistics are integer arithmetic end to end (`div`,
  * `log2_quarter_bits`) so every value hash-compares against the DuckDB
  * oracle bit for bit.
  */
object Warehouse {

  /** One timestamp-normalization rule for the whole engine — see
    * [[TimeSeries.epochSeconds]] for the NTZ-safety rationale. */
  private def epochS(c: Column): Column = TimeSeries.epochSeconds(c)

  /** RFM CUSTOMER SEGMENTATION — recency / frequency / monetary scoring,
    * the classic CRM rollup.
    *
    * Per customer: `recency_days` (days from the last order's day to the
    * newest order day in the table — the "as of" anchor, so the query is
    * reproducible on a frozen snapshot), `frequency` (order count) and
    * `monetary` (exact decimal revenue sum). Each dimension is scored
    * 1..`tiles` by CUMULATIVE-HISTOGRAM quantiles: per distinct metric
    * value, `score = ceil(tiles · cum / n)` where `cum` counts customers
    * from worst to best. Equal metric values always share a score — no
    * arbitrary tie-split — and the monetary axis is first snapped to a
    * `monetaryGrid` grid so its histogram stays bounded.
    *
    * Scale shape: the base rollup is ONE shuffle keyed on the customer
    * (map-side combinable). Scoring never sorts the customer table:
    * each dimension builds a per-VALUE histogram (bounded — days span,
    * order counts, grid cells), runs the cumulative window over THAT
    * tiny table, and broadcast-joins the value→score map back. A global
    * `ntile` window would serialize every customer through one task;
    * this is the same answer with three broadcast hash joins.
    *
    * Integer exactness: `ceil(t·cum/n) = (t·cum + n − 1) div n`; the
    * grid snap is `(m_micro − pmod(m_micro, grid_micro)) / grid_micro`
    * on scale-6 decimal micro-units — both floor identically in DuckDB.
    */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
      priceCol: String, tiles: Int = 5,
      monetaryGrid: Long = 100L): DataFrame = {
    // <= 9 keeps the decimal-digit rfm_cell encoding unambiguous
    require(tiles >= 2 && tiles <= 9, "tiles must be in [2, 9]")
    // segment cutoffs derived from the tile count: the top band is the
    // best tile (hiCut), "low" is the bottom half (loCut), and the
    // at-risk frequency bar sits just above the midpoint (midCut) —
    // at the default tiles = 5 these are the classic 4 / 2 / 3
    val hiCut = tiles - 1
    val loCut = tiles / 2
    val midCut = tiles / 2 + 1
    val day = epochS(date_trunc("day", col(dateCol).cast(TimestampType)))
    // as-of anchor: newest order day — one-row aggregate, broadcast.
    val asOf = orders.agg(max(day).as("as_of_s"))
    val base = orders
      .groupBy(col(custCol).as("custkey"))
      .agg(
        max(day).as("last_day_s"),
        count(lit(1)).as("frequency"),
        sum(col(priceCol).cast(DecimalType(28, 6))).as("monetary_dec"))
      .crossJoin(broadcast(asOf))
      .withColumn("recency_days",
        ((col("as_of_s") - col("last_day_s")) / 86400L).cast(LongType))
      // grid snap on exact micro-units (scale-6 decimal → long is exact
      // for |monetary| < 9.2·10¹²; order totals are far below). The
      // pmod form floors for NEGATIVE totals too (refund-heavy
      // customers): plain `div` truncates toward zero and would
      // disagree with the oracle's flooring `//` there.
      .withColumn("m_micro",
        (col("monetary_dec") * lit(1000000L)).cast(LongType))
      .withColumn("m_grid", expr(
        s"(m_micro - pmod(m_micro, ${monetaryGrid * 1000000L}L))" +
          s" div ${monetaryGrid * 1000000L}L"))
      .withColumn("monetary", col("monetary_dec").cast(DoubleType))

    // score one dimension: per-value histogram → worst-to-best running
    // count → ceil-quantile score → broadcast value→score map.
    def scores(valueCol: String, worstFirst: Column, out: String): DataFrame = {
      val hist = base.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(worstFirst)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col(valueCol),
          expr(s"CAST((${tiles}L * cum + n - 1) div n AS BIGINT)").as(out))
    }
    // recency: larger gap = worse (score 1); frequency/monetary:
    // smaller = worse.
    val r = scores("recency_days", col("recency_days").desc, "r_score")
    val f = scores("frequency", col("frequency").asc, "f_score")
    val m = scores("m_grid", col("m_grid").asc, "m_score")

    base
      .join(broadcast(r), Seq("recency_days"))
      .join(broadcast(f), Seq("frequency"))
      .join(broadcast(m), Seq("m_grid"))
      .withColumn("rfm_cell",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .withColumn("segment",
        when(col("r_score") >= hiCut && col("f_score") >= hiCut &&
          col("m_score") >= hiCut, "champion")
          .when(col("f_score") >= hiCut, "loyal")
          .when(col("m_score") >= hiCut, "big_spender")
          .when(col("r_score") <= loCut && col("f_score") >= midCut,
            "at_risk")
          .when(col("r_score") <= loCut, "dormant")
          .otherwise("regular"))
      .select("custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_cell", "segment")
  }

  /** SCD TYPE 2 — build the versioned dimension from an append-only
    * changelog: per entity, consecutive runs of the same attribute value
    * collapse into one validity interval `[valid_from_s, valid_to_s)`;
    * the open run (`valid_to_s` NULL) is the current version. The
    * classic gaps-and-islands build: a lag-change flag, a running sum
    * numbering the runs, a per-run rollup, and a lead for the closing
    * edge.
    *
    * Scale shape: every window and the rollup partition BY THE ENTITY —
    * one shuffle keyed on it, per-key sorted state bounded by the key's
    * history (AQE splits skewed keys). Nothing global anywhere.
    * Determinism: the change order is `(ts, rowId)` — unique — so run
    * numbering is reproducible under any partitioning.
    */
  def scd2Dimension(df: DataFrame, ts: String, key: String,
      attr: String, rowId: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).cast(TimestampType), col(rowId))
    val runs = df
      .select(col(key), col(attr), col(rowId), col(ts),
        epochS(col(ts)).as("ts_s"))
      .withColumn("chg",
        when(lag(col(attr), 1).over(w).isNull ||
          lag(col(attr), 1).over(w) =!= col(attr), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(key), col("version"))
      .agg(min(col(attr)).as(attr), // constant within a run
        min(col("ts_s")).as("valid_from_s"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col(key)).orderBy(col("version"))
    runs
      .withColumn("valid_to_s", lead(col("valid_from_s"), 1).over(wv))
      .withColumn("is_current", col("valid_to_s").isNull)
      .select(col(key), col("version"), col(attr),
        col("valid_from_s"), col("valid_to_s"), col("n_events"),
        col("is_current"))
  }

  /** CDC LATEST-WINS APPLY — materialize current state from a changelog:
    * per key, the payload of the newest record (by the unique
    * `(ts, rowId)` order) wins; keys whose newest record satisfies
    * `deleteWhen` are tombstoned out of the snapshot.
    *
    * Scale shape: ONE `max_by` aggregate keyed on the entity — the
    * struct comparator folds map-side, so each partition forwards one
    * candidate row per key (contrast a window + `row_number`, which
    * shuffles EVERY changelog row to its key's reducer and sorts).
    * This is the replay path for the reference's append-only store:
    * the same plan at 100 TB applies a day of changes in one shuffle
    * whose width is |keys|, not |changes|.
    */
  def cdcLatestWins(df: DataFrame, ts: String, key: String, rowId: String,
      payload: Seq[String], deleteWhen: Column): DataFrame = {
    val last = df
      .withColumn("__del", when(deleteWhen, 1L).otherwise(0L))
      .groupBy(col(key))
      .agg(max_by(
        struct((Seq(epochS(col(ts)).as("last_ts_s"),
          col(rowId).as("last_row_id"), col("__del").as("del")) ++
          payload.map(col)): _*),
        struct(col(ts).cast(TimestampType), col(rowId))).as("lastv"))
    last
      .filter(col("lastv.del") === 0L)
      .select(col(key) +: (Seq("last_ts_s", "last_row_id") ++ payload)
        .map(c => col(s"lastv.$c").as(c)): _*)
  }

  /** REFERENTIAL-INTEGRITY AUDIT — count child rows whose foreign key
    * has no parent: the constraint a data lake cannot enforce on write
    * and therefore must MEASURE on read (the reference's RDBMS targets
    * enforce FKs; a parquet lake silently accumulates orphans instead).
    * One row out: child rows, distinct child keys, orphan rows,
    * distinct orphan keys, orphan rate.
    *
    * Scale shape: the row/key totals fold in one pass over the child;
    * orphan detection is a LEFT ANTI join — when the parent key set is
    * small it broadcasts, otherwise it is one shuffle on the key, and
    * either way only the key column of the parent ever travels. */
  def referentialOrphans(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val totals = child.agg(
      count(lit(1)).as("n_child"),
      countDistinct(col(childKey)).as("n_child_keys"),
      // SQL FK semantics: a NULL key violates nothing — reported
      // separately, never folded into the orphan count
      sum(when(col(childKey).isNull, 1L).otherwise(0L)).as("n_null_fk"))
    val orphans = child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey))
          .filter(col(childKey).isNotNull).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_orphan_rows"),
        countDistinct(col(childKey)).as("n_orphan_keys"))
    totals.crossJoin(orphans)
      .withColumn("orphan_rate",
        col("n_orphan_rows").cast(DoubleType) / col("n_child"))
  }

  /** PRIMARY-KEY UNIQUENESS AUDIT — how broken is a composite key:
    * total rows, distinct keys, keys with duplicates, excess rows (what
    * a dedup would delete), and the worst key's multiplicity. The read
    * side of [[graft.transform.Transforms]] PK dedup: run THIS first to
    * size the damage, then dedup.
    *
    * Scale shape: one count aggregate keyed on the composite key
    * (map-side combined), then a tiny rollup over the per-key counts.
    */
  def pkViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
        sum(when(col("n") > 1, col("n") - 1L).otherwise(0L))
          .as("n_excess_rows"),
        max(col("n")).as("max_multiplicity"))
      .withColumn("dup_rate",
        col("n_excess_rows").cast(DoubleType) / col("n_rows"))

  /** SNAPSHOT DIFF — reconcile two versions of a keyed table: per key,
    * is the row added, removed, changed, or unchanged? The audit every
    * migration/backfill/replication needs before anyone trusts the new
    * copy. Payloads compare null-safely as a struct (`<=>`), so NULL
    * fields diff correctly. One summary row out.
    *
    * Scale shape: ONE full-outer shuffle on the key (the minimum any
    * diff can do), then a one-row conditional rollup folded map-side.
    * At 100 TB both sides should be bucketed on the key so even that
    * shuffle disappears ([[graft.queries.Scale]] bucketed layouts). */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String], payload: Seq[String]): DataFrame = {
    val b = before.select((keys.map(col) :+
      struct(payload.map(col): _*).as("__pb")): _*)
    val a = after.select((keys.map(col) :+
      struct(payload.map(col): _*).as("__pa")): _*)
    b.join(a, keys, "full_outer")
      .agg(
        sum(when(col("__pb").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__pa").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("__pb").isNotNull && col("__pa").isNotNull &&
          !(col("__pb") <=> col("__pa")), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("__pb") <=> col("__pa"), 1L).otherwise(0L))
          .as("n_unchanged"))
      .withColumn("n_total", col("n_added") + col("n_removed") +
        col("n_changed") + col("n_unchanged"))
      .withColumn("drift_rate",
        (col("n_added") + col("n_removed") + col("n_changed"))
          .cast(DoubleType) / col("n_total"))
  }

  /** K-ANONYMITY AUDIT of a pseudonymized export — after direct
    * identifiers are dropped and quasi-identifiers generalized, how
    * re-identifiable is the table? Rows group by their quasi-identifier
    * tuple; a class of size 1 is a unique fingerprint. Reports the
    * class-size floor, the class count, and the share of rows living in
    * classes below `k` — the number a privacy review actually asks for.
    *
    * Scale shape: one count aggregate keyed on the quasi tuple
    * (map-combined), then a one-row rollup over the class sizes. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_rows"),
        min(col("n")).as("min_class"),
        sum(when(col("n") < k, col("n")).otherwise(0L))
          .as("n_rows_below_k"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singletons"))
      .withColumn("k_threshold", lit(k.toLong))
      .withColumn("below_k_share",
        col("n_rows_below_k").cast(DoubleType) / col("n_rows"))

  /** L-DIVERSITY AUDIT — the attribute-disclosure companion to
    * [[kAnonymityAudit]]: k-anonymity bounds RE-IDENTIFICATION (how
    * small can a quasi-identifier class get), but a large class whose
    * rows all share ONE sensitive value still leaks that value to
    * anyone who can place a person in the class. Distinct l-diversity
    * asks: does every quasi class contain at least `l` DISTINCT
    * sensitive values? Reports the diversity floor, the class/row
    * counts below `l`, and the row share — the second number on the
    * same privacy-review sheet.
    *
    * Scale shape: one two-level aggregate — distinct sensitive count
    * per quasi class (map-combined), then a one-row rollup. */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("d"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_rows"),
        min(col("d")).as("min_diversity"),
        sum(when(col("d") < l, 1L).otherwise(0L))
          .as("n_classes_below_l"),
        sum(when(col("d") < l, col("n")).otherwise(0L))
          .as("n_rows_below_l"))
      .withColumn("l_threshold", lit(l.toLong))
      .withColumn("below_l_share",
        col("n_rows_below_l").cast(DoubleType) / col("n_rows"))

  /** ANALYZE-STYLE COLUMN PROFILE — one row per profiled column: row
    * and null counts, distinct cardinality, min/max (stringified so
    * heterogeneous column types share one report schema). The stats
    * sheet an optimizer, a data contract, or a new team member reads
    * first; a lake has no system catalog to keep it, so it is a query.
    *
    * Scale shape: ONE aggregate computes every column's stats in a
    * single scan (Spark plans the multiple distinct aggregates through
    * one Expand — wider shuffle rows, but the table is read once; a
    * per-column union would scan it N times), then the one-row result
    * explodes to the per-column report shape. `countDistinct` is exact
    * (swap for approx_count_distinct at the 10⁹-distinct mark, same
    * report schema). */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast(StringType).as(s"__min_$c"),
      max(col(c)).cast(StringType).as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))): _*)).as("p"))
      .select(col("p.*"))
      .withColumn("null_share",
        col("n_nulls").cast(DoubleType) / col("n_rows"))
  }

  /** TOP SESSION PATHS — the product-analytics "top user journeys"
    * query: sessionize, render each session's ordered event-type
    * sequence as a path string (capped at `maxSteps` steps — an
    * unbounded concat is a memory grenade on bot sessions), and count
    * the most common paths. Ties in the ranking break on the path.
    *
    * Determinism: the per-session sequence sorts by the UNIQUE
    * `(epoch_us, rowId)` struct inside `sort_array` — reproducible
    * under any partitioning; truncated sessions are marked with a
    * `…` suffix so "exactly A→B" and "A→B→(more)" never conflate.
    *
    * Scale shape: one session aggregate keyed on `(key, session)` with
    * the bounded `slice` applied in the same projection, one path-count
    * aggregate, and a TakeOrderedAndProject top-k — no global sort. */
  def topSessionPaths(df: DataFrame, ts: String, key: String,
      rowId: String, typeCol: String, gapSeconds: Long, maxSteps: Int,
      k: Int): DataFrame = {
    require(maxSteps >= 1 && k >= 1, "maxSteps and k must be >= 1")
    val sessions = TimeSeries.sessionize(df, ts, key, rowId, gapSeconds)
    val paths = sessions
      .groupBy(col(key), col("session_id"))
      .agg(sort_array(collect_list(struct(col("epoch_us"), col(rowId),
        col(typeCol).as("t")))).as("seq"))
      .select(concat(
        array_join(transform(slice(col("seq"), 1, maxSteps),
          s => s.getField("t")), ">"),
        when(size(col("seq")) > maxSteps, lit(">…")).otherwise(lit("")))
        .as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path")))
        .cast(LongType))
  }

  /** A/B CONVERSION TEST — the experimentation rollup: entities are
    * deterministically bucketed into two arms by a salted hash (the
    * salt IS the experiment id — re-salting re-randomizes, same salt
    * reproduces the assignment on any engine), per-entity conversion is
    * an any-match flag, and the two-proportion pooled z-statistic
    * prices the observed lift. One row out: counts, rates, and z.
    *
    * Scale shape: ONE shuffle keyed on the entity (arm + conversion
    * flag fold map-side in the same aggregate), then a single-group
    * rollup with conditional sums — the arm rollup never re-shuffles
    * raw events. Determinism: counts are exact longs; the z is a fixed
    * double op order over them — `p=(cA+cB)/(nA+nB)`, `se=√(p·(1−p)·
    * (1/nA+1/nB))`, `z=(rA−rB)/se` — mirrored token-for-token by the
    * oracle (IEEE ops incl. sqrt are correctly rounded, so the engines
    * agree bit-for-bit); a degenerate se (empty arm or p ∈ {0,1})
    * yields NULL z. */
  def abTestConversion(df: DataFrame, key: String, typeCol: String,
      conversionType: String, salt: String): DataFrame = {
    val arm = when(graft.operators.Dedup.md5_60(
      concat(col(key).cast(StringType), lit(salt))) <
      lit(1L << 59), "A").otherwise("B")
    val perEntity = df
      .groupBy(col(key), arm.as("arm"))
      .agg(max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
        .as("converted"))
    val r = perEntity.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("converted")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("converted")).otherwise(0L))
        .as("conv_b"))
    r.withColumn("rate_a", col("conv_a").cast(DoubleType) / col("n_a"))
      .withColumn("rate_b", col("conv_b").cast(DoubleType) / col("n_b"))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast(DoubleType) /
          (col("n_a") + col("n_b")))
      .withColumn("se", sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .withColumn("z", when(col("se") > 0.0,
        (col("rate_a") - col("rate_b")) / col("se")))
      .select("n_a", "conv_a", "rate_a", "n_b", "conv_b", "rate_b", "z")
  }

  /** POINT-IN-TIME (feature-store) JOIN — for every label row, the
    * feature payload whose effective time is the GREATEST at-or-before
    * the label's time, per entity: the join that keeps training data
    * leakage-free (a feature computed AFTER the label's moment must
    * never reach that example). Against a tiling dimension like
    * [[scd2Dimension]]'s runs, "latest start at-or-before" IS "version
    * valid at" — no interval predicate needed; labels before the first
    * version get NULL features.
    *
    * Scale shape: NOT a range join (Catalyst would plan the interval
    * predicate as a broadcast-nested-loop). Features collapse to one
    * row per `(entity, second)` (`max_by` on `tieBreak` — explicit
    * determinism), both sides are tagged and UNIONED, and a single
    * per-entity window ordered by `(second, side)` carries the last
    * feature struct onto each label row — feature rows sort before
    * labels at equal times, so the match is at-or-before inclusive at
    * second grain. One shuffle keyed on the entity, bounded running
    * state: the [[TimeSeries.asofJoin]] plan, generalized to a struct
    * payload. */
  def pointInTimeJoin(labels: DataFrame, labelId: String, labelTs: String,
      features: DataFrame, featureTsS: String, payload: Seq[String],
      key: String, tieBreak: String): DataFrame = {
    // the union carries the label id through a typed NULL slot on the
    // feature side — a silent LongType cast would NULL every
    // non-numeric id (the repo-wide fail-loud rule for id columns)
    require(labels.schema(labelId).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"pointInTimeJoin needs a numeric label id; " +
        s"'$labelId' is ${labels.schema(labelId).dataType.sql}")
    val feat = features
      .groupBy(col(key), col(featureTsS).cast(LongType).as("t_s"))
      .agg(max_by(struct(payload.map(col): _*), col(tieBreak)).as("__feat"))
      .select(col(key), col("t_s"), col("__feat"),
        lit(0).as("__side"), lit(null).cast(LongType).as("__label_id"))
    val lab = labels.select(col(key), epochS(col(labelTs)).as("t_s"),
      lit(null).cast(feat.schema("__feat").dataType).as("__feat"),
      lit(1).as("__side"), col(labelId).cast(LongType).as("__label_id"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("t_s"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    feat.unionByName(lab)
      .withColumn("__feat", last(col("__feat"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__label_id").as(labelId) +: col(key) +:
        col("t_s").as("label_ts_s") +:
        payload.map(c => col(s"__feat.$c").as(c)): _*)
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT — the bin-free companion to
    * [[distributionDrift]]: D = sup |F_A(x) − F_B(x)| between the first
    * and second half of the time range, per group. PSI needs a binning
    * choice; KS sees ANY distributional shift at the resolution of the
    * data itself — run both, they fail differently.
    *
    * Exact integer formulation: per distinct value, the per-half counts
    * cumulate in value order, and `D_scaled = max |cumA·nB − cumB·nA|`
    * is a BIGINT (no division anywhere until the final
    * `D = D_scaled / (nA·nB)` double). Overflow bound: cumA·nB ≤
    * nA·nB < 2⁶³ for up to ~3·10⁹ rows per (group, half) — beyond
    * that, pre-bin (the PSI operator's grid) before the statistic.
    *
    * Scale shape: one `(group, value)` count aggregate (map-combined —
    * ties collapse BEFORE the sort), then a value-ordered running
    * window and max PER GROUP over the distinct-value table. The sort
    * is per group over distinct values, the same cost class as the
    * exact-percentile operator. */
  def distributionDriftKs(df: DataFrame, ts: String, groupCol: String,
      valueCol: String): DataFrame = {
    val bounds = df.agg(
      min(epochS(col(ts))).as("lo_s"), max(epochS(col(ts))).as("hi_s"))
    val cells = df
      .crossJoin(broadcast(bounds))
      .withColumn("late",
        when(epochS(col(ts)) >= expr("(lo_s + hi_s) div 2"), 1L)
          .otherwise(0L))
      .groupBy(col(groupCol).as("grp"), col(valueCol).as("v"))
      .agg(sum(lit(1L) - col("late")).as("a"), sum(col("late")).as("b"))
    val wOrd = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("cum_a", sum(col("a")).over(wOrd))
      .withColumn("cum_b", sum(col("b")).over(wOrd))
      .withColumn("n_a", sum(col("a")).over(wAll))
      .withColumn("n_b", sum(col("b")).over(wAll))
      .withColumn("d_scaled",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .groupBy(col("grp").as(groupCol))
      .agg(max(col("n_a")).as("n_before"), max(col("n_b")).as("n_after"),
        max(col("d_scaled")).as("d_scaled"))
      .withColumn("ks", when(col("n_before") > 0 && col("n_after") > 0,
        col("d_scaled").cast(DoubleType) /
          (col("n_before") * col("n_after")).cast(DoubleType)))
  }

  /** POPULATION STABILITY INDEX — distribution drift between the first
    * and second half of the observed time range, per group: the
    * monitoring statistic that tells an operator a feature's
    * distribution moved before a model downstream degrades.
    *
    *   PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)
    *
    * computed EXACTLY in integer arithmetic: counts per `(group, bin)`
    * with `bin = floor(value / binWidth)` (per-row IEEE, identical in
    * DuckDB), add-one smoothing over the group's observed bins, both
    * probabilities scaled to integer parts-per-`scale` by truncating
    * division, and the log ratio quantized by the
    * [[graft.functions.FixedLogImpl quarter-bit log2 kernel]] — so
    * `psi_q = Σ (p − q) · floor±(4·log2(p/q))` is a BIGINT both engines
    * agree on, and `psi_bits = psi_q / (4·scale)` is the PSI in log2
    * units (× ln 2 for nats). Probabilities floor at 1 part to stay in
    * the log domain.
    *
    * Scale shape: the time midpoint is a one-row aggregate; the cell
    * table is ONE shuffle keyed `(group, bin)` with both window counts
    * folded map-side in the same pass; totals/bin-counts are windows
    * over the CELL table (|groups|·|bins| rows, not the corpus); the
    * final rollup touches cells only. `scale` = 10⁹ keeps every product
    * under 2⁶³ (p, q ≤ 10⁹; |p−q|·qlb ≤ 10⁹·4·62).
    */
  def distributionDrift(df: DataFrame, ts: String, groupCol: String,
      valueCol: String, binWidth: Double,
      scale: Long = 1000000000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val bounds = df.agg(
      min(epochS(col(ts))).as("lo_s"), max(epochS(col(ts))).as("hi_s"))
    val cells = df
      .crossJoin(broadcast(bounds))
      .withColumn("mid_s", expr("(lo_s + hi_s) div 2"))
      .withColumn("bin",
        floor(col(valueCol) / lit(binWidth)).cast(LongType))
      .withColumn("late",
        when(epochS(col(ts)) >= col("mid_s"), 1L).otherwise(0L))
      .groupBy(col(groupCol).as("grp"), col("bin"))
      .agg(sum(lit(1L) - col("late")).as("a"), sum(col("late")).as("b"))
    val wg = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val terms = cells
      .withColumn("n_bins", count(lit(1)).over(wg))
      .withColumn("tot_a", sum(col("a")).over(wg))
      .withColumn("tot_b", sum(col("b")).over(wg))
      // add-one smoothing, then integer parts-per-scale (floor ≥ 1)
      .withColumn("p", greatest(lit(1L),
        expr(s"((a + 1) * ${scale}L) div (tot_a + n_bins)")))
      .withColumn("q", greatest(lit(1L),
        expr(s"((b + 1) * ${scale}L) div (tot_b + n_bins)")))
      .withColumn("qlb", when(col("p") >= col("q"),
        graft.functions.FixedLogFunctions.log2QuarterBits(col("q"), col("p")))
        .otherwise(-graft.functions.FixedLogFunctions
          .log2QuarterBits(col("p"), col("q"))))
      .withColumn("term", (col("p") - col("q")) * col("qlb"))
    terms
      .groupBy(col("grp").as(groupCol))
      .agg(max(col("n_bins")).as("n_bins"),
        max(col("tot_a")).as("n_before"),
        max(col("tot_b")).as("n_after"),
        sum(col("term")).as("psi_q"))
      .withColumn("psi_bits",
        col("psi_q").cast(DoubleType) / lit(4.0 * scale))
  }

  /** GINI CONCENTRATION INDEX per group — the inequality statistic
    * behind every "whales" question: how concentrated is total value
    * across users? 0 = everyone contributes equally, →1 = one user
    * carries everything. Computed from per-key totals with the
    * rank-weighted identity `G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)`
    * over values sorted ascending (ties broken by key — every engine
    * walks the same order).
    *
    * Exactness: per-key totals are FLOORED to integer units (native
    * decimal→int casts disagree on rounding), the rank weights come
    * from one cumulative-free window (`row_number`), and both the
    * numerator and denominator of G are exact BIGINTs — ONE double
    * division per group. Bound: `n·Σx` must stay under 2⁵³ — at 10⁶
    * keys × 10⁶ units rescale units first (money-sum audit rule).
    *
    * Scale shape: one map-combined per-key rollup, one key-partitioned
    * rank window, one grouped fold — the standard two-shuffle shape of
    * any per-group ranking statistic. */
  def giniIndex(df: DataFrame, group: String, keyCol: String,
      valueCol: String): DataFrame = {
    val totals = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(group).as("g"), col(keyCol).as("k"))
      .agg(floor(sum(col(valueCol).cast(DecimalType(28, 6))))
        .cast(LongType).as("x"))
    val w = Window.partitionBy(col("g")).orderBy(col("x"), col("k"))
    totals
      .withColumn("i", row_number().over(w).cast(LongType))
      .groupBy(col("g").as(group))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("x")).as("total_units"),
        sum(col("i") * col("x")).as("s1"))
      .withColumn("gini",
        when(col("n_keys") >= 2 && col("total_units") > 0,
          (lit(2L) * col("s1") -
            (col("n_keys") + 1L) * col("total_units")).cast(DoubleType) /
            (col("n_keys") * col("total_units")).cast(DoubleType)))
      .drop("s1")
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * feature-relevance / leakage statistic: how many bits does knowing
    * X reveal about Y? Near zero → independent; near min(H(X), H(Y))
    * → one determines the other (a leaking feature, a redundant
    * column, a label proxy). Reports quantized MI in bits, both
    * marginal entropies, and the normalized MI
    * `mi / min(H(X), H(Y))` ∈ [0, 1].
    *
    * Determinism (the PSI recipe, [[distributionDrift]]): proportions
    * are FLOOR-quantized to parts-per-`scale` (clamped ≥ 1), each
    * cell's `log2(p_xy/(p_x·p_y))` comes from the exact integer
    * quarter-bit kernel [[graft.functions.FixedLogFunctions]] (the
    * argument pair is `(p_x·p_y, p_xy·scale)` — with scale = 10⁴ both
    * stay ≤ 10⁸, inside the oracle's HUGEINT b⁴ window), and terms
    * weight by RAW counts, so `mi_q` is an exact BIGINT any engine
    * reproduces; the only doubles are the final `/(4·N)` conversions.
    * Quantization resolution is 10⁻⁴ of probability per cell —
    * a diagnostic-grade MI, same contract as `psi_q`.
    *
    * Scale shape: three map-combined aggregates (cells + two
    * marginals, each over the same pass shape), two broadcast joins of
    * the cell frame against the marginal frames, one scalar rollup.
    * Cardinality caveat at 100 TB: the cell frame is |X|·|Y| — fine
    * for categorical columns; bucket continuous ones first (as the
    * registry query does). */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String,
      scale: Long = 10000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    import graft.functions.{FixedLogFunctions => FL}
    // complete rows only (the chi-square convention): a null x or y
    // would count in the denominator n yet drop out of the marginal
    // joins, biasing every quantized cell/marginal probability.
    val base = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val tot = base.agg(count(lit(1)).as("n"))
    val cx = base.groupBy(col("x")).agg(count(lit(1)).as("n_x"))
    val cy = base.groupBy(col("y")).agg(count(lit(1)).as("n_y"))
    val cxy = base.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_xy"))
    val j = cxy.join(cx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(tot))
      .withColumn("pxy", greatest(lit(1L),
        expr(s"(n_xy * ${scale}L) div n")))
      .withColumn("px", greatest(lit(1L),
        expr(s"(n_x * ${scale}L) div n")))
      .withColumn("py", greatest(lit(1L),
        expr(s"(n_y * ${scale}L) div n")))
      .withColumn("num", col("pxy") * lit(scale))
      .withColumn("den", col("px") * col("py"))
      .withColumn("qlb", when(col("num") >= col("den"),
        FL.log2QuarterBits(col("den"), col("num")))
        .otherwise(-FL.log2QuarterBits(col("num"), col("den"))))
      .withColumn("term", col("n_xy") * col("qlb"))
    val mi = j.agg(count(lit(1)).as("n_cells"),
      sum(col("term")).as("mi_q"))
    val hx = cx.crossJoin(broadcast(tot))
      .withColumn("px", greatest(lit(1L),
        expr(s"(n_x * ${scale}L) div n")))
      .agg(count(lit(1)).as("n_x_values"),
        sum(col("n_x") * FL.log2QuarterBits(col("px"), lit(scale)))
          .as("hx_q"))
    val hy = cy.crossJoin(broadcast(tot))
      .withColumn("py", greatest(lit(1L),
        expr(s"(n_y * ${scale}L) div n")))
      .agg(count(lit(1)).as("n_y_values"),
        sum(col("n_y") * FL.log2QuarterBits(col("py"), lit(scale)))
          .as("hy_q"))
    tot.crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
      .crossJoin(broadcast(hy))
      .select(col("n").as("n_rows"), col("n_cells"),
        col("n_x_values"), col("n_y_values"),
        col("mi_q"), col("hx_q"), col("hy_q"),
        (col("mi_q").cast(DoubleType) /
          (lit(4.0) * col("n").cast(DoubleType))).as("mi_bits"),
        (col("hx_q").cast(DoubleType) /
          (lit(4.0) * col("n").cast(DoubleType))).as("hx_bits"),
        (col("mi_q").cast(DoubleType) /
          greatest(lit(1L), least(col("hx_q"), col("hy_q")))
            .cast(DoubleType)).as("nmi"))
  }

  /** PAIRWISE ASSOCIATION RULES (market-basket mining) — the classic
    * "bought together" statistic: for item pairs co-occurring in at
    * least `minCount` baskets, support counts plus the two derived
    * rule strengths — `confidence(a→b) = n_pair/n_a` (how often a
    * basket with a also holds b) and `lift = n_pair·N/(n_a·n_b)`
    * (co-occurrence vs independence; > 1 = genuinely associated).
    *
    * Scale shape — the APRIORI prune is the load-bearing step: an item
    * in a qualifying pair must itself reach `minCount`, so the basket
    * lists are semi-joined against the frequent-item set BEFORE any
    * pairing, and the quadratic blow-up runs only over frequent items
    * within each basket (bounded by basket size; a pathological
    * mega-basket is a skew case to cap upstream). Pair counts are one
    * map-combined groupBy; the final ranking is top-k by (count, pair)
    * via TakeOrderedAndProject. Exactness: all counts are BIGINTs;
    * confidence and lift are each ONE division of exact longs (keep
    * `n_pair·N` and `n_a·n_b` under 2⁵³ — at 10⁹ baskets that means
    * pruning to pairs with meaningful support first, which minCount
    * does). */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 2L, topK: Int = 20): DataFrame =
    sealedOverFrequentPairs(df, basketCol, itemCol, minCount) {
      (li, freq, pairs) =>
      val nb = li.select(col("b")).distinct().agg(count(lit(1)).as("n_baskets"))
      pairs
        .join(freq.select(col("i").as("item_a"), col("n_i").as("n_a")),
          Seq("item_a"))
        .join(freq.select(col("i").as("item_b"), col("n_i").as("n_b")),
          Seq("item_b"))
        .crossJoin(broadcast(nb))
        .select(col("item_a"), col("item_b"), col("n_pair"),
          col("n_a"), col("n_b"), col("n_baskets"),
          (col("n_pair").cast(DoubleType) / col("n_a").cast(DoubleType))
            .as("confidence_ab"),
          ((col("n_pair") * col("n_baskets")).cast(DoubleType) /
            (col("n_a") * col("n_b")).cast(DoubleType)).as("lift"))
        .orderBy(col("n_pair").desc, col("item_a"), col("item_b"))
        .limit(topK)
    }

  /** The apriori front [[associationRules]] and [[itemSimilarityTopK]]
    * share: distinct `(b, i)` basket items, the items of support ≥
    * `minCount` as `(i, n_i)`, and the within-basket pairs of frequent
    * items as `(item_a < item_b, n_pair ≥ minCount)`. `finish(li, freq,
    * pairs)` builds the result, which is sealed before the two caches are
    * released. */
  private def sealedOverFrequentPairs(df: DataFrame, basketCol: String,
      itemCol: String, minCount: Long)(
      finish: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val li = df.select(col(basketCol).cast(LongType).as("b"),
      col(itemCol).cast(LongType).as("i")).distinct().persist()
    val freq = li.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      .filter(col("n_i") >= minCount).persist()
    val pruned = li.join(freq.select("i"), Seq("i"), "left_semi")
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.b") === col("b.b") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("item_a"), col("b.i").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    try graft.operators.Lifetime.seal(finish(li, freq, pairs))
    finally { li.unpersist(); freq.unpersist() }
  }

  /** SEMI-STRUCTURED FIELD ROLLUP — extraction + aggregation over a
    * JSON string column, the universal event-pipeline shape (payload
    * props, API responses, device metadata ride along as JSON; the
    * reference's own source payloads are JSON objects). One numeric
    * path is pulled per row (`get_json_object`, a codegen'd per-row
    * Catalyst expression — the extraction runs inside the scan's
    * whole-stage span, no UDF) through a `try_cast` (malformed or
    * missing → NULL, never an abort), then rolled up per group:
    * row count, extraction coverage, min/max/sum, distinct count.
    *
    * Exactness: extracted values are BIGINTs; every aggregate is an
    * integer fold. Scale shape: extraction is map-side, the rollup is
    * one map-combined groupBy — the cheapest possible pass; at 100 TB
    * the win is precisely that the JSON never re-shuffles, only the
    * per-group partials do. */
  def jsonFieldRollup(df: DataFrame, group: String, jsonCol: String,
      path: String = "$.k"): DataFrame = {
    val kv = expr(
      s"try_cast(get_json_object($jsonCol, '$path') AS BIGINT)")
    df.select(col(group).as(group), kv.as("kv"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_rows"),
        count(col("kv")).as("n_with_field"),
        min(col("kv")).as("k_min"),
        max(col("kv")).as("k_max"),
        sum(col("kv")).as("k_sum"),
        countDistinct(col("kv")).as("k_distinct"))
  }

  /** EXACT WEIGHTED MEDIAN per group — the quantile a SIZE-aware
    * curation budget actually needs: the unweighted median document
    * length answers "what does the typical ROW look like", the
    * token-weighted median answers "what does the typical TOKEN sit
    * in" — on corpora where a few huge documents carry most of the
    * token mass the two diverge wildly, and budget decisions keyed to
    * the wrong one mis-size everything. Definition: the LOWER weighted
    * median — the smallest value v whose cumulative weight reaches
    * half the group total (`2·cumw(v) ≥ W`). All-integer: weights sum
    * as BIGINTs, the half test is the multiplied-through inequality
    * (never a division), ties in `v` are broken by `rowId` in the
    * cumulative order so every engine walks the identical prefix.
    *
    * Scale shape: ONE window pass (cumulative weight, partitioned by
    * group, ordered by value) + one aggregate — the same cost as any
    * per-group ranking; no collect, no sort beyond the window's
    * partition-local one. */
  def weightedMedian(df: DataFrame, group: String, valueCol: String,
      weightCol: String, rowId: String): DataFrame = {
    val w = Window.partitionBy(col("g"))
      .orderBy(col("v"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col(group).as("g"), col(valueCol).cast(LongType).as("v"),
        col(weightCol).cast(LongType).as("wt"),
        col(rowId).cast(LongType).as("rid"))
      .withColumn("cumw", sum(col("wt")).over(w))
      .withColumn("totw", sum(col("wt")).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(lit(2L) * col("cumw") >= col("totw"))
      .groupBy(col("g").as(group))
      .agg(max(col("n")).as("n_rows"),
        max(col("totw")).as("total_weight"),
        min(col("v")).as("weighted_median"))
  }

  /** HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX per group — the market-
    * concentration read next to [[giniIndex]]'s inequality read: HHI =
    * Σ share², ranging from 1/n (even split) to 1 (monopoly). Also the
    * top single share and the "effective number of players" 1/HHI (the
    * count of equal-sized keys that would produce the same
    * concentration).
    *
    * Exactness: per-key value totals floor to BIGINT units (the gini
    * recipe), shares quantize to FLOOR parts-per-billion (`x·10⁹ div
    * V` — keep `x·10⁹` under 2⁶³, i.e. per-key totals under ~9·10⁹
    * units; rescale units above that), and `hhi_ppb = (Σ s_ppb²) div
    * 10⁹` stays an exact BIGINT (`Σ s² ≤ 10¹⁸`). The only double is
    * the final effective-n division.
    *
    * Scale shape: one map-combined per-key rollup, one grouped fold —
    * no window, unlike gini's rank pass. */
  def herfindahlIndex(df: DataFrame, group: String, keyCol: String,
      valueCol: String): DataFrame = {
    val totals = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(group).as("g"), col(keyCol).as("k"))
      .agg(floor(sum(col(valueCol).cast(DecimalType(28, 6))))
        .cast(LongType).as("x"))
    val withV = totals
      .withColumn("v_tot",
        sum(col("x")).over(Window.partitionBy(col("g"))))
      .filter(col("v_tot") > 0L)
      .withColumn("s_ppb", expr("(x * 1000000000L) div v_tot"))
    withV.groupBy(col("g").as(group))
      .agg(count(lit(1)).as("n_keys"),
        max(col("v_tot")).as("total_units"),
        expr("sum(s_ppb * s_ppb) div 1000000000L").as("hhi_ppb"),
        max(col("s_ppb")).as("top_share_ppb"))
      .withColumn("effective_n",
        when(col("hhi_ppb") > 0L,
          lit(1.0e9) / col("hhi_ppb").cast(DoubleType)))
  }

  /** ITEM-TO-ITEM SIMILARITY (co-occurrence kNN) — the "customers who
    * bought this also bought" table: for every frequent item, its topK
    * most-similar neighbors by basket-co-occurrence cosine
    * `n_pair / sqrt(n_a·n_b)` — the classic item-based collaborative
    * filter ([[associationRules]] ranks GLOBAL rules; this ranks
    * neighbors PER ITEM, which is what a recommender serves).
    *
    * Scale shape: the same apriori discipline as associationRules —
    * distinct (basket, item), frequent-item semi-join BEFORE the
    * quadratic within-basket self-join, map-combined pair counts,
    * `minCount` support floor. The pair set then mirrors (a↔b) and
    * ranks per item with a window over each item's neighbor list —
    * partition width = that item's qualifying-neighbor count, already
    * support-floored. Exactness: counts are BIGINTs; cosine is one
    * double division over exact integers (sqrt is IEEE-exact), and the
    * rank order `(cosine desc, neighbor)` is fully tie-broken. */
  def itemSimilarityTopK(df: DataFrame, basketCol: String,
      itemCol: String, minCount: Long = 2L, topK: Int = 5): DataFrame =
    sealedOverFrequentPairs(df, basketCol, itemCol, minCount) {
      (_, freq, pairs) =>
      val mirrored = pairs
        .select(col("item_a").as("item"), col("item_b").as("neighbor"),
          col("n_pair"))
        .unionAll(pairs.select(col("item_b").as("item"),
          col("item_a").as("neighbor"), col("n_pair")))
      val scored = mirrored
        .join(freq.select(col("i").as("item"), col("n_i").as("n_item")),
          Seq("item"))
        .join(freq.select(col("i").as("neighbor"),
          col("n_i").as("n_neighbor")), Seq("neighbor"))
        .withColumn("cosine",
          col("n_pair").cast(DoubleType) /
            sqrt(col("n_item").cast(DoubleType) *
              col("n_neighbor").cast(DoubleType)))
      val w = Window.partitionBy(col("item"))
        .orderBy(col("cosine").desc, col("neighbor"))
      scored
        .withColumn("sim_rank", row_number().over(w).cast(LongType))
        .filter(col("sim_rank") <= topK)
        .select(col("item"), col("neighbor"), col("n_pair"),
          col("n_item"), col("n_neighbor"), col("cosine"),
          col("sim_rank"))
    }

  /** LATENCY QUANTILE PROFILE per group — the SLA read on any
    * start→end timestamp pair (order→ship, request→response): per
    * group, count, min/max/mean and EXACT rank-selected p50/p90/p99 in
    * integer days. Quantile convention: the value at rank
    * `⌈q·n/100⌉` — the smallest value whose cumulative count clears
    * the multiplied-through inequality `100·cum ≥ q·n` (no
    * interpolation, engine-reproducible — the
    * [[graft.operators.Sketches]] quantile-audit convention).
    *
    * Scale shape: the latency column collapses map-side to one row
    * per `(group, latency_days)` — the cumulative window runs over
    * that compact distinct-value frame (the
    * [[graft.operators.Profiling]] exact-median discipline), then one
    * grouped fold picks all three quantiles with conditional minima.
    * Exactness: all-integer ranks; `mean_days` is ONE double division
    * of exact longs. */
  def latencyQuantiles(df: DataFrame, groupCol: String,
      startTs: String, endTs: String): DataFrame = {
    val lat = df
      .withColumn("lat_days",
        expr(s"(${epochExpr(endTs)} - ${epochExpr(startTs)}) " +
          "div 86400L"))
      .groupBy(col(groupCol).as("g"), col("lat_days"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("lat_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    lat
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n_rows"),
        min(col("lat_days")).as("min_days"),
        max(col("lat_days")).as("max_days"),
        (sum(col("lat_days") * col("cnt")).cast(DoubleType) /
          max(col("n")).cast(DoubleType)).as("mean_days"),
        min(when(col("cum") * 100L >= col("n") * 50L,
          col("lat_days"))).as("p50_days"),
        min(when(col("cum") * 100L >= col("n") * 90L,
          col("lat_days"))).as("p90_days"),
        min(when(col("cum") * 100L >= col("n") * 99L,
          col("lat_days"))).as("p99_days"))
  }

  /** The NTZ-safe epoch-seconds SQL fragment for [[latencyQuantiles]]
    * (expression-string form of [[TimeSeries.epochSeconds]]). */
  private def epochExpr(c: String): String =
    s"cast(cast($c as timestamp) as long)"

  /** COHORT LTV TRIANGLE — cumulative value by acquisition cohort and
    * age: rows are (cohort week, weeks since cohort) with the active-
    * user count, the week's value units, the cohort's cumulative
    * units, and cumulative units per COHORT user at micro-unit
    * resolution (`cum·10⁶ div users`) — the lifetime-value curve
    * behind every retention decision; the registry's cohort-retention
    * query counts who came back, this one prices what they were
    * worth.
    *
    * All-integer (floored value units, calendar weeks as epoch-day div
    * 7). Scale shape: one per-key min-week rollup, one broadcast-scale
    * join back (the cohort frame is |keys| rows — shuffle join keyed
    * on the id), one (cohort, age) rollup, one per-cohort cumulative
    * window over ≤ span-weeks rows. */
  def cohortLtv(df: DataFrame, ts: String, key: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull)
      .withColumn("epoch_s", TimeSeries.epochSeconds(col(ts)))
      .withColumn("week", expr("(epoch_s div 86400L) div 7L"))
      .select(col(key).as("k"), col("week"),
        col(valueCol).cast(DecimalType(28, 6)).as("v"))
    val cohorts = base.groupBy(col("k"))
      .agg(min(col("week")).as("cohort_week"))
    val sized = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    val cells = base.join(cohorts, Seq("k"))
      .withColumn("age_week", col("week") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(countDistinct(col("k")).as("n_active"),
        floor(sum(col("v"))).cast(LongType).as("units"))
    val wCum = Window.partitionBy(col("cohort_week"))
      .orderBy(col("age_week"))
    cells
      .withColumn("cum_units", sum(col("units")).over(wCum))
      .join(broadcast(sized), Seq("cohort_week"))
      .select(col("cohort_week"), col("age_week"),
        col("cohort_users"), col("n_active"), col("units"),
        col("cum_units"),
        expr("(cum_units * 1000000L) div cohort_users")
          .as("cum_units_per_user_ppm"))
  }

  /** BASKET-SIZE HISTOGRAM — lines-per-order distribution with ppb
    * shares and a CCDF cumulative: the order-shape census behind
    * picking/packing capacity and any basket-analysis support floor
    * ([[associationRules]]' quadratic pairing cost is exactly this
    * histogram's tail). All-integer, two map-combined rollups + one
    * cumulative window over the ≤ max-size histogram frame. */
  def basketSizeHistogram(df: DataFrame,
      basketCol: String): DataFrame = {
    val per = df.groupBy(col(basketCol).as("b"))
      .agg(count(lit(1)).as("n_lines"))
    val hist = per.groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_baskets"))
    val tot = hist.agg(sum(col("n_baskets")).as("n_total"))
    hist.crossJoin(broadcast(tot))
      .withColumn("basket_share_ppb",
        expr("(n_baskets * 1000000000L) div n_total"))
      .withColumn("cum_baskets",
        sum(col("n_baskets")).over(Window.orderBy(col("n_lines"))))
      .select(col("n_lines"), col("n_baskets"),
        col("basket_share_ppb"), col("cum_baskets"))
  }

  /** REPEAT-PURCHASE BANDS — the loyalty census: customers banded by
    * lifetime order count (one-time / repeat 2–4 / loyal 5–9 / power
    * 10+), each band's customer count, order volume, floored revenue
    * units, and floor-PPM shares of customers and revenue. The
    * one-number answer to "how much of the business is repeat" with
    * the distribution behind it.
    *
    * All-integer (revenue shares in ppm per the [[abcAnalysis]]
    * headroom rule — band masses approach the grand total). Scale
    * shape: one per-customer rollup, a ≤4-band fold, broadcast
    * totals. */
  def repeatBands(df: DataFrame, custCol: String,
      valueCol: String): DataFrame = {
    val per = df.groupBy(col(custCol).as("k"))
      .agg(count(lit(1)).as("n_orders"),
        floor(sum(col(valueCol).cast(DecimalType(28, 6))))
          .cast(LongType).as("units"))
      .withColumn("band",
        when(col("n_orders") === 1L, lit("one_time"))
          .otherwise(when(col("n_orders") <= 4L, lit("repeat_2_4"))
            .otherwise(when(col("n_orders") <= 9L, lit("loyal_5_9"))
              .otherwise(lit("power_10_plus")))))
    val cells = per.groupBy(col("band"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("n_orders"),
        sum(col("units")).as("units"))
    val tot = cells.agg(sum(col("n_customers")).as("t_cust"),
      sum(col("units")).as("t_units"))
    cells.crossJoin(broadcast(tot))
      .select(col("band"), col("n_customers"), col("n_orders"),
        col("units"),
        expr("(n_customers * 1000000L) div t_cust")
          .as("customer_share_ppm"),
        when(col("t_units") > 0L,
          expr("(units * 1000000L) div t_units")).otherwise(lit(0L))
          .as("revenue_share_ppm"))
  }

  /** ABC ANALYSIS — the 80/15/5 inventory classification: keys ranked
    * by value, class A = the head carrying the first 80% of total
    * value, B the next 15%, C the tail. Class membership uses the
    * PRE-key cumulative (`cum − x`), so the key that CROSSES a
    * boundary belongs to the class it started in — the standard
    * convention, and an exact multiplied-through integer test (5·prev
    * < 4·T for A; 20·prev < 19·T for B). Output: per-class key count,
    * value units, and floor-PPM share (ppm, not ppb: class unit masses
    * approach the grand total, so `units·10⁶` holds to ~9·10¹² units
    * where `·10⁹` would overflow BIGINT at ~9·10⁹ — the money-sum
    * headroom audit rule applied to shares).
    *
    * Scale shape: per-key rollup (map-combined), ONE global cumulative
    * window over the per-key frame, 3-row fold. The global window is
    * the honest cost of a global ranking — at 10⁸⁺ keys replace it
    * with a two-phase range-partitioned prefix sum; at catalog-sized
    * key counts (parts, SKUs) it is a single in-memory partition. */
  def abcAnalysis(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val per = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(floor(sum(col(valueCol).cast(DecimalType(28, 6))))
        .cast(LongType).as("x"))
    val wCum = Window.orderBy(col("x").desc, col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("cum", sum(col("x")).over(wCum))
      .withColumn("t", sum(col("x")).over(wAll))
      .withColumn("prev", col("cum") - col("x"))
      .withColumn("abc_class",
        when(col("prev") * 5L < col("t") * 4L, lit("A"))
          .otherwise(when(col("prev") * 20L < col("t") * 19L,
            lit("B")).otherwise(lit("C"))))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_keys"), sum(col("x")).as("units"),
        max(col("t")).as("total_units"))
      .withColumn("share_ppm",
        when(col("total_units") > 0L,
          expr("(units * 1000000L) div total_units"))
          .otherwise(lit(0L)))
      .select(col("abc_class"), col("n_keys"), col("units"),
        col("share_ppm"))
  }

  /** FRESHNESS AUDIT per group — the staleness read a pipeline SLA
    * dashboard needs: each partition/source/type's newest record
    * versus the dataset's global watermark, its lag in seconds, the
    * volume inside the final 24 h window, and a stale verdict against
    * a threshold. The reference's `modified_since` cursor semantics
    * (SURVEY §2 F3) restated as a monitoring query.
    *
    * All-integer (epoch seconds, counts, boolean verdict); one
    * map-combined per-group rollup + a broadcast global max. */
  def freshnessAudit(df: DataFrame, groupCol: String, tsCol: String,
      staleThresholdSec: Long): DataFrame = {
    val base = df.withColumn("epoch_s",
      TimeSeries.epochSeconds(col(tsCol)))
    val glob = base.agg(max(col("epoch_s")).as("watermark_s"))
    base.crossJoin(broadcast(glob))
      .groupBy(col(groupCol).as(groupCol), col("watermark_s"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("epoch_s")).as("last_epoch_s"),
        count(when(col("epoch_s") >= col("watermark_s") - 86400L, 1))
          .as("n_last_day"))
      .withColumn("lag_s", col("watermark_s") - col("last_epoch_s"))
      .withColumn("is_stale", col("lag_s") > staleThresholdSec)
      .select(col(groupCol), col("n_rows"), col("last_epoch_s"),
        col("watermark_s"), col("lag_s"), col("n_last_day"),
        col("is_stale"))
  }

  /** 2D PARETO FRONTIER (skyline) — the points no other row strictly
    * dominates under (minimize x, maximize y): "the largest size at
    * every price", "the best quality at every latency". A row is
    * dominated iff some row has `x ≤` and `y ≥` with one strict; the
    * frontier is therefore exactly the per-x maxima whose y exceeds
    * the running maximum over all strictly-smaller x. Output is one
    * row per frontier POINT `(x, y)` with the count of rows sitting on
    * it (duplicates of a frontier point are co-optimal, not
    * dominated).
    *
    * Scale shape: per-x maxima via an x-partitioned window on the raw
    * frame (map-side combinable groupBy shape), then ONE cumulative-
    * max window over the per-x LEVEL frame — single-partition but
    * bounded by |distinct x|, the same distinct-value discipline as
    * the rank tests ([[graft.operators.Stats]]); quantize x upstream
    * if its cardinality is unbounded. No self-join — the O(n²)
    * dominance test collapses into two windows. */
  def paretoFrontier(df: DataFrame, minimizeCol: String,
      maximizeCol: String): DataFrame = {
    val base = df
      .filter(col(minimizeCol).isNotNull && col(maximizeCol).isNotNull)
      .select(col(minimizeCol).as("x"), col(maximizeCol).as("y"))
    val perX = base
      .withColumn("ymax",
        max(col("y")).over(Window.partitionBy(col("x"))))
      .filter(col("y") === col("ymax"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_rows"))
    val wPrev = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perX
      .withColumn("mprev", max(col("y")).over(wPrev))
      .filter(col("mprev").isNull || col("y") > col("mprev"))
      .select(col("x").as(minimizeCol), col("y").as(maximizeCol),
        col("n_rows"))
  }

  /** HEAVY-CHANGE DETECTION — the keys whose SHARE of activity moved
    * most between two periods: the "what changed" ranking that
    * aggregate drift scores (PSI, KS — [[distributionDrift]],
    * [[distributionDriftKs]]) deliberately compress away. Shares are
    * FLOOR parts-per-billion of each period's total, the shift is the
    * absolute ppb delta, and the output is the top-k by
    * `(delta desc, key)` — fully tie-broken, all-integer.
    *
    * Scale shape: one map-combined per-key two-period rollup (CASE-
    * counted arms, no join between periods), broadcast totals, global
    * top-k via orderBy+limit (TakeOrderedAndProject — never a global
    * row_number window). */
  def shareShiftTopK(df: DataFrame, keyCol: String, lateFlag: String,
      topK: Int = 20): DataFrame = {
    val per = df.groupBy(col(keyCol).as("k"))
      .agg(count(when(!col(lateFlag), 1)).as("n_first"),
        count(when(col(lateFlag), 1)).as("n_second"))
    val tot = per.agg(sum(col("n_first")).as("t1"),
      sum(col("n_second")).as("t2"))
    per.crossJoin(broadcast(tot))
      .filter(col("t1") > 0L && col("t2") > 0L)
      .withColumn("share_first_ppb",
        expr("(n_first * 1000000000L) div t1"))
      .withColumn("share_second_ppb",
        expr("(n_second * 1000000000L) div t2"))
      .withColumn("delta_ppb",
        abs(col("share_second_ppb") - col("share_first_ppb")))
      .select(col("k").as(keyCol), col("n_first"), col("n_second"),
        col("share_first_ppb"), col("share_second_ppb"),
        col("delta_ppb"))
      .orderBy(col("delta_ppb").desc, col(keyCol))
      .limit(topK)
  }

  /** DECILE CONTRIBUTION TABLE per group — the Lorenz curve at decile
    * granularity: keys ranked by value into ntile(10) buckets, each
    * decile's key count, unit total, share, and cumulative share (in
    * FLOOR parts-per-billion). The "top 10% of users carry X% of
    * value" statement [[giniIndex]] compresses into one number,
    * delivered as the curve a curation or capacity decision actually
    * reads.
    *
    * Exactness: ntile is the SQL-standard deterministic fill (first
    * `n mod 10` buckets take the extra row) over the fully-ordered
    * `(value, key)` ranking, so bucket membership is engine-identical;
    * everything else is BIGINT sums and floor-div shares.
    *
    * Scale shape: per-key rollup, one rank window, one grouped fold —
    * the gini shape with a bucketed output. */
  def decileShares(df: DataFrame, group: String, keyCol: String,
      valueCol: String): DataFrame = {
    val totals = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(group).as("g"), col(keyCol).as("k"))
      .agg(floor(sum(col(valueCol).cast(DecimalType(28, 6))))
        .cast(LongType).as("x"))
    val w = Window.partitionBy(col("g")).orderBy(col("x"), col("k"))
    val bucketed = totals
      .withColumn("decile", ntile(10).over(w).cast(LongType))
      .groupBy(col("g"), col("decile"))
      .agg(count(lit(1)).as("n_keys"), sum(col("x")).as("units"))
      .withColumn("v_tot",
        sum(col("units")).over(Window.partitionBy(col("g"))))
      .filter(col("v_tot") > 0L)
    bucketed
      .withColumn("cum_units",
        sum(col("units")).over(Window.partitionBy(col("g"))
          .orderBy(col("decile"))))
      .select(col("g").as(group), col("decile"), col("n_keys"),
        col("units"),
        expr("(units * 1000000000L) div v_tot").as("share_ppb"),
        expr("(cum_units * 1000000000L) div v_tot")
          .as("cum_share_ppb"))
  }

  /** PER-GROUP QUANTILE ALIGNMENT (Q-Q table) — each group's exact
    * rank-selected quantiles beside the global ones, with the signed
    * gap: the comparability audit run before pooling per-source
    * scores (a source whose p50 sits at the global p75 needs
    * rank-normalization before any cross-source threshold makes
    * sense). Quantile ranks use ceil(n·p/100) over each frame's own
    * ordered values — rank-SELECTED data values, never interpolated,
    * so the output is cross-engine exact; the gap is one IEEE
    * subtraction.
    *
    * Scale shape: one rank window per group (no global sort except
    * the |global| frame's own window — replace with rank-select via
    * count+filter at true scale), percentile grid broadcast, output
    * |groups|·|grid| rows. */
  def quantileAlignment(df: DataFrame, groupCol: String,
      valueCol: String,
      pcts: Seq[Int] = Seq(10, 25, 50, 75, 90)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = broadcast(pcts.toDF("p"))
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("v"))
    def ranked(d: DataFrame, part: Seq[String]): DataFrame = {
      val w = if (part.isEmpty) Window.orderBy(col("v"))
        else Window.partitionBy(part.map(col): _*).orderBy(col("v"))
      val wp = if (part.isEmpty) Window.partitionBy()
        else Window.partitionBy(part.map(col): _*)
      d.withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(wp))
    }
    val grp = ranked(base, Seq("g")).crossJoin(grid)
      .filter(col("rn") === expr("(n * p + 99) div 100"))
      .select(col("g"), col("p"), col("n").as("n_group"),
        col("v").as("group_value"))
    val glob = ranked(base.select(col("v")), Nil).crossJoin(grid)
      .filter(col("rn") === expr("(n * p + 99) div 100"))
      .select(col("p"), col("v").as("global_value"))
    grp.join(broadcast(glob), Seq("p"))
      .withColumn("gap", col("group_value") - col("global_value"))
      .select(col("g").as(groupCol), col("p"), col("n_group"),
        col("group_value"), col("global_value"), col("gap"))
      .orderBy(col(groupCol), col("p"))
  }

  /** JOIN-KEY SKEW TELEMETRY — the pre-flight read that decides
    * whether a join/groupBy on this key needs salting or AQE skew
    * handling at scale: distinct keys, row total, and the ppb row
    * mass of the heaviest key and heaviest 10 keys. `top10_ppb` near
    * 10⁹ means a handful of keys own the shuffle; `top1_ppb` over the
    * per-task budget is the straggler predictor.
    *
    * All-integer (counts + floor-ppb shares — the top-10 mass is a
    * unique multiset, so boundary ties cannot change the sum); one
    * map-combined key rollup, a 3-way scalar aggregate, and a
    * TakeOrdered top-10 — never a global sort. */
  def keySkew(df: DataFrame, keyCol: String,
      family: String): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"), max(col("cnt")).as("top1"))
    val top10 = counts.orderBy(col("cnt").desc).limit(10)
      .agg(sum(col("cnt")).as("top10"))
    totals.crossJoin(top10)
      .select(lit(family).as("key_family"), col("n_rows"),
        col("n_keys"),
        expr("(top1 * 1000000000L) div n_rows").as("top1_ppb"),
        expr("(top10 * 1000000000L) div n_rows").as("top10_ppb"))
  }
}
