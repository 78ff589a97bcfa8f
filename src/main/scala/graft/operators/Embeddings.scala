package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-matrix statistics and whitening — the preprocessing stage of
  * a production ANN/quantization pipeline (OPQ-style rotation before PQ,
  * covariance diagnostics before IVF): a one-pass exact covariance
  * aggregate and a PCA whitening transform built on it.
  *
  * Scale shape: the covariance pass is a SINGLE hash aggregate producing a
  * fixed-size result — d means + d(d+1)/2 product sums — with map-side
  * combine; nothing explodes per row and nothing is ever collected except
  * the d×d matrix itself (KBs for any practical d). The eigen solve runs
  * on the driver over that d×d matrix (Jacobi rotations — exact-enough,
  * dependency-free) and the rotation broadcasts back into a codegen'd
  * projection. This is how large systems do it: sufficient statistics in
  * one distributed pass, tiny dense solve centrally, transform as a map.
  *
  * Numeric determinism: per-row entry products are computed in double
  * (one exact-rounded operation), then summed as fixed-scale DECIMAL —
  * exact and order-independent, so results are bit-identical across
  * partitionings and engines; the final covariance combines those exact
  * sums in a fixed double op order the oracle mirrors. The partials are
  * scale 8 (not 12): the final DECIMAL→DOUBLE conversion is exact —
  * hence engine-identical — only while |Σ|·10^scale < 2⁵³, and
  * unit-bounded entries keep a scale-8 global sum exact to ~9·10⁷ rows
  * where scale 12 already tripped at ~10⁴ (caught at sf0.1). Scale 8
  * also out-resolves float32 inputs (~1e-8 ulp at |x| ≤ 1), so nothing
  * real is lost.
  */
object Embeddings {

  private def d2(c: Column): Column = c.cast(DoubleType)

  /** Population covariance of a fixed-dimension `ARRAY<FLOAT>` column as
    * one row per (i ≤ j): `(i, j, cov)` with
    * `cov = E[x_i·x_j] − E[x_i]·E[x_j]`. One aggregate, no explosion. */
  def covariance(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val el: Int => Column = i => d2(element_at(col(vecCol), i + 1))
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val sumCols =
      (0 until dim).map(i =>
        sum(el(i).cast(DecimalType(28, 8))).as(s"s_$i")) ++
      pairs.map { case (i, j) =>
        sum((el(i) * el(j)).cast(DecimalType(28, 8))).as(s"p_${i}_$j") }
    val agg = df.agg(count(lit(1)).as("n"), sumCols: _*)
    val n = d2(col("n"))
    val rows = pairs.map { case (i, j) =>
      struct(lit(i).as("i"), lit(j).as("j"),
        (d2(col(s"p_${i}_$j")) / n -
          (d2(col(s"s_$i")) / n) * (d2(col(s"s_$j")) / n)).as("cov"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** TOP PRINCIPAL COMPONENT BY INTEGER POWER ITERATION — the
    * hash-exact registered companion to the (spec-gated, double-Jacobi)
    * [[whiten]] path: the corpus reduces distributively to the d×d
    * covariance (ONE map-combined pass — the only corpus-sized work),
    * the covariance quantizes to scale-8 BIGINT units (double→decimal
    * rounds HALF_UP identically cross-engine — scale ≤ 8 is the
    * repo's PROVEN bound for arbitrary-double casts; scale 12 diverged
    * by 1 ulp at sf0.1 in the covariance family), and `iterations`
    * power steps from the all-ones ppb vector run in PURE INTEGER
    * arithmetic:
    *
    *   w = C·v   (exact BIGINT mat-vec, |w| ≤ d·|C|·|v|)
    *   v' = w ÷ (max|w| ÷ 10⁹)  [or (w·10⁹) ÷ max|w| when max < 10⁹]
    *
    * — truncating division agrees in Spark `div`, DuckDB `//`, and JVM
    * `/` (all toward zero), so every engine walks the identical orbit
    * and the fixed-step output is the stated estimator (convergence is
    * the usual power-method rate; the DEFINITION is T steps, exact).
    * The Rayleigh quotient λ comes from the 10⁻⁵-downscaled vector so
    * its integer numerator stays under 2⁶³ at any covariance of
    * [-0.5, 0.5]-ranged inputs; `lambda_q` is exact BIGINT in 10⁻⁸
    * covariance units, `lambda` one BIGINT→DOUBLE division.
    *
    * The d² covariance collect is the documented bounded driver-side
    * site this family already uses ([[covariance]] stats, the Jacobi
    * solve) — d is a model constant, never data-scaled. */
  def pcaPowerTop(df: DataFrame, vecCol: String, dim: Int = 8,
      iterations: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = Array.ofDim[Long](dim, dim)
    covariance(df, vecCol, dim).collect().foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val cu = (BigDecimal(r.getAs[Double]("cov"))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(100000000L)).toLongExact
      c(i)(j) = cu; c(j)(i) = cu
    }
    var v = Array.fill(dim)(1000000000L)
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(dim) { i =>
        (0 until dim).foldLeft(0L)((a, j) =>
          Math.addExact(a, Math.multiplyExact(c(i)(j), v(j))))
      }
      val m = math.max(w.map(math.abs).max, 1L)
      v =
        if (m >= 1000000000L) w.map(_ / (m / 1000000000L))
        else w.map(x => x * 1000000000L / m)
    }
    val vs = v.map(_ / 100000L)
    val num = (for { i <- 0 until dim; j <- 0 until dim } yield (i, j))
      .foldLeft(0L) { case (a, (i, j)) =>
        Math.addExact(a,
          Math.multiplyExact(Math.multiplyExact(c(i)(j), vs(i)), vs(j)))
      }
    val den = vs.foldLeft(0L)((a, x) => Math.addExact(a, x * x))
    val lambdaQ = if (den > 0L) num / den else 0L
    (0 until dim)
      .map(i => (i.toLong, v(i), lambdaQ, lambdaQ.toDouble / 1.0e8))
      .toDF("i", "v_ppb", "lambda_q", "lambda")
      .orderBy(col("i"))
  }

  /** PER-LABEL CENTROID COSINE MATRIX — the class-geometry audit for a
    * labeled embedding table: exact per-label centroids (the same
    * scale-6 HALF_UP integer means the IVF Lloyd step uses), then the
    * cosine between every label pair. High off-diagonal cosines mean
    * the classes are not separable in this embedding space — the check
    * a pipeline runs before trusting label-stratified sampling or a
    * label-routed classifier on these vectors.
    *
    * Exactness: centroid means are exact integers, the pairwise dot is
    * the scale-12 exact sum surfaced as a correctly-rounded double
    * (`dot_q12`), norms are IEEE `sqrt` of the same (correctly rounded
    * in every conforming engine, unlike exp/log), and the final ratio
    * follows one fixed op order the oracle mirrors. A zero-norm
    * centroid yields NULL, never NaN.
    *
    * Scale shape: one corpus pass to the (label, dim) partial sums
    * (map-side combined; the shuffle carries labels×d rows), centroids
    * gather per label, and the pair expansion runs inside ONE
    * class-cardinality-bounded bucket via [[Dedup.bucketPairs]] —
    * label counts are dozens-to-thousands, never corpus-sized, so the
    * K² pairs are trivially bounded and no corpus self-join exists. */
  def labelCentroidSimilarity(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val el = df.select(col(labelCol).as("label"),
      posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
    val cent = el.groupBy(col("label"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(2 * s + CASE WHEN s < 0 THEN -n ELSE n END) div (2 * n)"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("m"))))
        .getField("m").as("centq"))
    val pairs = Dedup.bucketPairs(cent, Nil, Seq("label", "centq"))
      .select(col("label_a"), col("label_b"),
        col("centq_a").as("ca"), col("centq_b").as("cb"))
    val denom = V.normQ12(col("ca")) * V.normQ12(col("cb"))
    pairs.select(col("label_a"), col("label_b"),
      when(denom === 0.0, lit(null).cast(DoubleType))
        .otherwise(V.dotQ12(col("ca"), col("cb")) / denom).as("cosine"))
  }

  /** Driver-side symmetric eigen decomposition by cyclic Jacobi —
    * deterministic, dependency-free, fine for the d×d matrices this
    * stage sees (d up to a few thousand). Returns (eigenvalues,
    * eigenvectors as rows), sorted by eigenvalue descending. */
  private[graft] def jacobiEigen(m: Array[Array[Double]],
      sweeps: Int = 32): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-14) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t =
            if (theta == 0.0) 1.0
            else math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until d).map(k => v(k)(i)).toArray).toArray)
  }

  /** PCA whitening: center on the mean, rotate onto the covariance
    * eigenbasis, scale each component to unit variance
    * (`y = Λ^{-1/2}·Eᵀ·(x − μ)`). Components with variance ≤ `floor`
    * are passed through unscaled rotation (no divide-by-~0 blowups).
    * Returns the input plus `whitened ARRAY<DOUBLE>`, components in
    * descending-variance order — the standard rotation PQ wants in
    * front of it.
    *
    * One covariance pass (see [[covariance]]'s shape), one tiny driver
    * solve, then a broadcast-literal linear map evaluated per row —
    * no shuffle in the transform at all. */
  def pcaWhiten(df: DataFrame, vecCol: String, dim: Int,
      floor: Double = 1e-9): DataFrame = {
    val stats = covariance(df, vecCol, dim).collect()
    val cov = Array.ofDim[Double](dim, dim)
    stats.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    // mean from the same exact sums: re-derive via a tiny second agg
    val meanRow = df.agg(count(lit(1)).as("n"),
      (0 until dim).map(i =>
        sum(d2(element_at(col(vecCol), i + 1)).cast(DecimalType(28, 8)))
          .as(s"s_$i")): _*).collect().head
    val n = meanRow.getLong(0).toDouble
    val mean = (0 until dim)
      .map(i => meanRow.getDecimal(i + 1).doubleValue() / n).toArray
    val (eig, basis) = jacobiEigen(cov)
    val scaled = basis.zip(eig).map { case (row, l) =>
      if (l > floor) row.map(_ / math.sqrt(l)) else row
    }
    // y_k = Σ_i scaled(k)(i) · (x_i − μ_i), as a codegen'd expression
    val comps = (0 until dim).map { k =>
      (0 until dim).map { i =>
        lit(scaled(k)(i)) * (d2(element_at(col(vecCol), i + 1)) - mean(i))
      }.reduce(_ + _)
    }
    df.withColumn("whitened", array(comps: _*))
  }

  /** LEAVE-ONE-OUT kNN LABEL ACCURACY — the standard representation-
    * quality probe: predict every query's label as the majority vote of
    * its k nearest neighbors (self excluded), and report per-class
    * accuracy. An embedding space where kNN accuracy is high separates
    * classes geometrically; a collapsed or noisy space shows up here
    * before any downstream model does. Composable: `topk` is ANY of the
    * ANN family's `(query_id, corpus_id, rank)` frames — brute force
    * for the exact number, IVF/binary for the at-scale estimate (and
    * the delta between the two is itself an index-quality signal,
    * cf. [[Similarity.recallAtK]]).
    *
    * Deterministic end to end: votes tie-break on the smaller label,
    * accuracy is one double division of exact longs.
    *
    * Scale shape: the vote join keys the bounded `Q × k` list against
    * the label table on the neighbor id (hash join; AQE broadcasts the
    * small side), the majority pick is a `row_number` top-1 window over
    * ≤ k rows per query, and the final per-class rollup touches Q rows.
    * Evaluation cost is the retrieval arm, never this harness. */
  def knnLabelAccuracy(topk: DataFrame, labeled: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = labeled.select(col(idCol).cast(LongType).as("__id"),
      col(labelCol).as("__lab"))
    val votes = topk
      .join(lab.withColumnRenamed("__id", "corpus_id"), Seq("corpus_id"))
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__lab"))
    val pred = votes
      .withColumn("__r", row_number().over(pick))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__lab").as("predicted"))
    pred
      .join(lab.withColumnRenamed("__id", "query_id")
        .withColumnRenamed("__lab", "true_label"), Seq("query_id"))
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast(DoubleType) / col("n"))
  }

  /** NORM PROFILE per label — the embedding-health dashboard row:
    * squared-norm extremes, the exact rank-selected median, and the
    * RMS norm per label. Norm collapse (all tiny), norm explosion, or
    * a label whose norm band separates from the rest all flag encoder
    * or preprocessing bugs before any similarity metric would.
    *
    * Exactness: squared norms are exact q12 BIGINTs (`dotExact(v,v)` —
    * micro-unit quantization squared); the median is rank-picked from
    * the per-label distinct-value frame; the only double is the final
    * RMS (`sqrt((Σn²/n)/10¹²)`, fixed order). Scale shape: one
    * quantized scan, a (label, norm²) map-combined rollup, one bounded
    * cumulative window, one fold. */
  def normProfile(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    // Σx² over the micro-unit elements directly: dotQ12 reports the
    // VALUE-scale double (sum/10¹²) — fine for scores, lossy for the
    // exact q12 integer this profile keys on
    val base = df.select(col(idCol).as("vid"),
        col(labelCol).as("label"),
        posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("label"), col("vid"))
      .agg(sum(col("x") * col("x")).as("n2"))
    val dv = base.groupBy(col("label"), col("n2"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("n2"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
    dv.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        min(col("n2")).as("min_norm2_q12"),
        max(col("n2")).as("max_norm2_q12"),
        sum(col("n2") * col("cnt")).as("sum_norm2_q12"),
        min(when(col("cum") * 2L >= col("n"), col("n2")))
          .as("p50_norm2_q12"))
      .withColumn("rms_norm",
        sqrt((col("sum_norm2_q12").cast(DoubleType) /
          col("n_vecs").cast(DoubleType)) / lit(1.0e12)))
  }

  /** CENTROID CONFUSION MATRIX — assign every point to its NEAREST
    * label centroid and cross-tabulate against the true label: the
    * nearest-centroid classifier's confusion matrix, read as a
    * label-quality instrument (an off-diagonal band between two labels
    * = systematically confusable classes; a label with low diagonal
    * share = incoherent or mislabeled cluster). Per (true, predicted)
    * cell: point count and floor-ppb share of the true label's row.
    *
    * Exactness: the [[mislabelCandidates]] ladder (quantize6 micro
    * units, round-half-away integer centroid means, exact BIGINT
    * squared distances); nearest-centroid ties break by centroid
    * label. Scale shape: the distance pass is el ⋈ centroids on the
    * dimension index — n·d·L rows for L labels (bound L upstream);
    * one per-point rank window (width = L), one matrix rollup. */
  def centroidConfusion(df: DataFrame, idCol: String,
      labelCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val el = df.select(col(idCol).as("vid"), col(labelCol).as("label"),
      posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
    val cm = el.groupBy(col("label").as("clabel"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(2 * s + CASE WHEN s < 0 THEN -n ELSE n END) div (2 * n)"))
      .select(col("clabel"), col("i"), col("m"))
    val d2 = el.join(broadcast(cm), Seq("i"))
      .withColumn("dd", (col("x") - col("m")) * (col("x") - col("m")))
      .groupBy(col("vid"), col("label"), col("clabel"))
      .agg(sum(col("dd")).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("d2"), col("clabel"))
    val assigned = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val cells = assigned
      .groupBy(col("label").as("true_label"),
        col("clabel").as("pred_label"))
      .agg(count(lit(1)).as("n_points"))
    cells
      .withColumn("row_total",
        sum(col("n_points")).over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("true_label"))))
      .select(col("true_label"), col("pred_label"), col("n_points"),
        expr("(n_points * 1000000000L) div row_total")
          .as("row_share_ppb"))
  }

  /** TWO-NN INTRINSIC DIMENSION — how many dimensions does the data
    * ACTUALLY occupy? The Facco et al. TwoNN estimator: for each
    * point take the 1st/2nd-nearest-neighbor distance ratio μ =
    * r₂/r₁; the MLE is `d = n / Σ ln μ`. An embedding column with 768
    * ambient dims but intrinsic dimension 11 tells you compression,
    * indexing, and cluster granularity budgets — the
    * dimensionality-audit companion to [[covariance]]'s PCA view.
    *
    * Exactness: pairwise squared distances are EXACT q12 BIGINTs
    * (`‖a‖² + ‖b‖² − 2⟨a,b⟩`, with the dot recovered to its exact
    * integer from the value-scale kernel double — the /10¹² rounding
    * error is ≪ 0.5 for any 2⁵³-bounded sum); `ln μ` is the integer
    * quarter-bit log of the d² ratio, after BOTH sides shift right to
    * a 15-bit window so the b⁴ trick stays in BIGINT (shift cancels
    * in the ratio up to quantization); the only doubles are the final
    * `8n/(ln2·Σqlb)` with ln2 frozen. Zero-distance points (exact
    * duplicates) drop and are reported.
    *
    * Scale shape: one n-row quantized frame broadcast against itself
    * (the brute-force all-pairs baseline — swap an ANN top-2 in at
    * 100 TB, the estimator only needs each point's two nearest), one
    * per-point rank window of width n. */
  def intrinsicDimension(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    import graft.functions.{FixedLogFunctions => FL}
    val n2 = df.select(col(idCol).as("vid"),
        posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("vid")).agg(sum(col("x") * col("x")).as("nn"))
    // norms ride WITH both sides of the cross join: d² assembles in
    // the join projection itself — no post-join shuffle of the n²
    // pair frame (probed: joining norms after the cross join cost
    // 95 s at sf0.1; this shape runs with the other all-pairs ops)
    val q = df.select(col(idCol).as("vid"),
        V.quantize6(col(vecCol)).as("qv"))
      .join(n2, Seq("vid"))
      // few-split corpora: spread the O(n²·d) kernel across cores
      // at a PINNED width (the [[Par]] rule) — without this the whole
      // pair loop lands on one partition (probed: 95 s → ~5 s)
      .transform(Par.byKey(_, col("vid")))
    val d2 = q.as("a")
      .crossJoin(broadcast(q.select(col("vid").as("ovid"),
        col("qv").as("ov"), col("nn").as("onn"))))
      .filter(col("vid") =!= col("ovid"))
      .select(col("vid"), col("ovid"),
        (col("nn") + col("onn") -
          lit(2L) * round(V.dotQ12(col("qv"), col("ov")) *
            lit(1.0e12)).cast(LongType)).as("d2q"))
    twoNNEstimate(d2)
  }

  /** [[intrinsicDimension]] under a FIXED ANCHOR BUDGET — the exact
    * arm whose plan survives 100×: the TwoNN MLE folds the 1st/2nd-
    * neighbor ratio of [[graft.operators.Similarity.anchorSample]]'s
    * `anchorBudget` deterministic anchors, each scored EXACTLY against
    * the FULL corpus (the anchors are the broadcast side — bounded —
    * and the corpus streams once; O(budget·n), never n²). Per-anchor
    * arithmetic (exact q12 squared distances, zero-distance drop,
    * shifted quarter-bit log ratio) is byte-identical to the brute
    * form; the estimator simply averages over a fixed-size exact
    * sample of points instead of all of them — the standard
    * sample-bounded ground-truth shape for kNN-graph audits. */
  def intrinsicDimensionAnchored(df: DataFrame, idCol: String,
      vecCol: String, anchorBudget: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val n2 = df.select(col(idCol).as("vid"),
        posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("vid")).agg(sum(col("x") * col("x")).as("nn"))
    val q = df.select(col(idCol).as("vid"),
        V.quantize6(col(vecCol)).as("qv"))
      .join(n2, Seq("vid"))
    // anchors (bounded) broadcast; the CORPUS side streams — the
    // reverse of the brute form's corpus broadcast, which is the point
    val anchors = graft.operators.Similarity
      .anchorSample(q, "vid", anchorBudget)
    val corpus = q.select(col("vid").as("ovid"), col("qv").as("ov"),
        col("nn").as("onn"))
      // few-split corpora: spread the O(budget·n·d) kernel across
      // cores at a pinned width (the [[Par]] rule)
      .transform(Par.byKey(_, col("ovid")))
    val d2 = corpus.crossJoin(broadcast(anchors))
      .filter(col("vid") =!= col("ovid"))
      .select(col("vid"), col("ovid"),
        (col("nn") + col("onn") -
          lit(2L) * round(V.dotQ12(col("qv"), col("ov")) *
            lit(1.0e12)).cast(LongType)).as("d2q"))
    twoNNEstimate(d2)
  }

  /** [[intrinsicDimension]] riding the IVF index instead of the
    * all-pairs cartesian — the 100 TB registered form. The TwoNN
    * estimator only needs each point's two nearest, so each vector's
    * candidate neighbors are the members of its `nprobe` nearest
    * refined IVF cells ([[Similarity]]'s q_sim_ivf chain, corpus-wide
    * probe side, shuffled on `cent_id` — never broadcast, never n²);
    * the d² arithmetic, zero-distance drop, and quarter-bit ratio fold
    * are byte-identical to the brute form. A point whose true 1st/2nd
    * neighbors fall outside its probed cells contributes a slightly
    * inflated ratio — the standard IVF recall trade, bounded by the
    * same nprobe/recall frontier the registry's recall audits pin. */
  def intrinsicDimensionIvf(df: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int = 16, refineRounds: Int = 1,
      nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val S = graft.operators.Similarity
    val idx = S.buildIvfIndex(df, idCol, vecCol, numCentroids,
      refineRounds)
    // both sides reuse the cell table's quantized vectors; norms ride
    // WITH each side (the intrinsicDimension cross-join rule), exact
    // q12 integers recovered from the value-scale kernel double
    def withNorm(idc: String, vc: String)(side: DataFrame): DataFrame =
      side.select(col("corpus_id").as(idc), col("cq").as(vc),
        round(V.dotQ12(col("cq"), col("cq")) * lit(1.0e12))
          .cast(LongType).as(s"${idc}_nn"), col("cent_id"))
    val probes = idx.cells
      .select(col("corpus_id"), col("cq"),
        V.dotQ12(col("cq"), col("cq")).as("q_s2"))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("d2c", col("q_s2") + col("cent_s2") -
        lit(2.0) * V.dotQ12(col("cq"), col("centq")))
      .withColumn("prank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("corpus_id"))
          .orderBy(col("d2c"), col("cent_id"))))
      .filter(col("prank") <= nprobe)
    val qSide = withNorm("vid", "qv")(probes)
    val cSide = withNorm("ovid", "ov")(idx.cells)
    val d2 = cSide.join(qSide, Seq("cent_id"))
      .filter(col("vid") =!= col("ovid"))
      .select(col("vid"), col("ovid"),
        (col("vid_nn") + col("ovid_nn") -
          lit(2L) * round(V.dotQ12(col("qv"), col("ov")) *
            lit(1.0e12)).cast(LongType)).as("d2q"))
    twoNNEstimate(d2)
  }

  /** The candidate-agnostic TwoNN fold: rank each point's candidate
    * distances, keep the two nearest, drop exact duplicates (d1 = 0)
    * and points with fewer than two candidates, and fold the shifted
    * quarter-bit log ratios into the MLE — exactly the arithmetic
    * documented on [[intrinsicDimension]]. */
  private def twoNNEstimate(d2: DataFrame): DataFrame = {
    import graft.functions.{FixedLogFunctions => FL}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("d2q"), col("ovid"))
    val nn2 = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vid"))
      .agg(min(when(col("rn") === 1, col("d2q"))).as("d1"),
        min(when(col("rn") === 2, col("d2q"))).as("d2"))
      .filter(col("d1") > 0L && col("d2").isNotNull)
      .withColumn("s",
        greatest(lit(0L),
          expr("cast(length(bin(d2)) as bigint) - 15L")))
      .withColumn("bq",
        expr("shiftright(d2, cast(s as int))"))
      .withColumn("aq",
        greatest(expr("shiftright(d1, cast(s as int))"), lit(1L)))
      .withColumn("qlb", FL.log2QuarterBits(col("aq"), col("bq")))
    nn2.agg(count(lit(1)).as("n_points"),
        sum(col("qlb")).as("sum_qlb"))
      .withColumn("id_estimate",
        when(col("sum_qlb") > 0L,
          lit(8.0) * col("n_points").cast(DoubleType) /
            (lit(0.6931471805599453) *
              col("sum_qlb").cast(DoubleType))))
  }

  /** MISLABEL CANDIDATES — the points farthest from their OWN label
    * centroid: the label-noise shortlist an annotation audit reviews
    * first (a correctly-labeled point sits near its class mean; a
    * mislabeled one is pulled toward another cluster). Top-k per
    * label by squared micro-unit distance, fully tie-broken.
    *
    * Exactness: vectors quantize once via the spec-locked `quantize6`
    * kernel (micro-units, the oracle's float→DOUBLE→DECIMAL(18,6)
    * ladder); centroids use the round-half-away integer mean
    * (`(2s ± n) div 2n`, the [[labelCentroidSimilarity]] formula), so
    * every squared deviation is an exact BIGINT (bounds: |x| ≤ 10⁶
    * micro-units and dim ≤ 10⁴ keep Σ(x−m)² under 2⁶³).
    *
    * Scale shape: one posexplode pass, a (label × dim)-row centroid
    * rollup broadcast back onto the element stream, one per-vector
    * fold, one per-label rank window (width = label population). */
  def mislabelCandidates(df: DataFrame, idCol: String,
      labelCol: String, vecCol: String, topK: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val el = df.select(col(idCol).as("vid"), col(labelCol).as("label"),
      posexplode(V.quantize6(col(vecCol))).as(Seq("i", "x")))
    val cm = el.groupBy(col("label"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(2 * s + CASE WHEN s < 0 THEN -n ELSE n END) div (2 * n)"))
      .select(col("label"), col("i"), col("m"))
    val d2 = el.join(broadcast(cm), Seq("label", "i"))
      .withColumn("dd", (col("x") - col("m")) * (col("x") - col("m")))
      .groupBy(col("label"), col("vid"))
      .agg(sum(col("dd")).as("d2_micro2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("d2_micro2").desc, col("vid"))
    d2.withColumn("mis_rank", row_number().over(w).cast(LongType))
      .filter(col("mis_rank") <= topK)
      .withColumn("dist",
        sqrt(col("d2_micro2").cast(DoubleType)) / lit(1.0e6))
      .select(col("label"), col("vid"), col("d2_micro2"),
        col("mis_rank"), col("dist"))
  }

  /** MEAN-SHIFT DRIFT (linear-kernel MMD²) between two embedding
    * cohorts — the distribution-shift tripwire for embedding spaces:
    * with a linear kernel, MMD²(A, B) collapses to ‖μ_A − μ_B‖², so
    * per-dimension centroid deltas are the WHOLE statistic. One row:
    * cohort sizes, the (quantized) MMD², the dimension carrying the
    * largest squared shift (ties → smallest dim), and that dimension's
    * share of the total in ppm — "the spaces drifted, and dim 17 is
    * where" as one exact, pinnable record per corpus snapshot pair.
    *
    * Exactness ladder: elements quantize once to q6 micro-units; the
    * per-dim mean delta is the integer `(s_A·n_B − s_B·n_A) div
    * (n_A·n_B)` (truncation toward zero, identical in Spark `div` and
    * DuckDB `//`), its square stays in value-scale q12 where a d-dim
    * sum is far under the 2⁵³ double bound; ONE final double division
    * by 10¹² produces the reported MMD². The ≤1-micro-unit truncation
    * per dim is part of the metric's definition, mirrored exactly by
    * the oracle.
    *
    * Scale shape: one posexplode pass, a (group × dim)-sized
    * map-combined aggregate, then a d-row fold — no pairwise work at
    * any corpus size (the linear kernel is WHY: the quadratic-kernel
    * MMD estimator costs O(n²) pair evaluations for a small power
    * gain). `groupCol` must take exactly the values 0 and 1 with at
    * least one vector each — validated up front (two-row collect). */
  def meanShiftDrift(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val V = graft.functions.VectorFunctions
    val base = df.select(col(groupCol).cast(LongType).as("grp"),
      col(idCol), col(vecCol))
    val counts = base.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(counts.keySet == Set(0L, 1L) && counts.values.forall(_ > 0),
      s"meanShiftDrift: groupCol '$groupCol' must cover exactly " +
        s"{0, 1} with >=1 vector each; got ${counts.keySet.toSeq.sorted}")
    val (nA, nB) = (counts(0L), counts(1L))
    val dims = base
      .select(col("grp"), posexplode(V.quantize6(col(vecCol)))
        .as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(when(col("grp") === 0L, col("x"))).as("s_a"),
        sum(when(col("grp") === 1L, col("x"))).as("s_b"))
      .select(col("i"), expr(
        s"(coalesce(s_a, 0L) * ${nB}L - coalesce(s_b, 0L) * ${nA}L)" +
          s" div (${nA}L * ${nB}L)").as("shift_q6"))
      .withColumn("sq", col("shift_q6") * col("shift_q6"))
    dims.agg(
        lit(nA).as("n_a"), lit(nB).as("n_b"),
        count(lit(1)).as("n_dims"),
        sum(col("sq")).as("mmd2_q12"),
        expr("min_by(i, struct(-sq, i))").cast(LongType).as("top_dim"),
        max(col("sq")).as("top_sq"))
      .select(col("n_a"), col("n_b"), col("n_dims"),
        (col("mmd2_q12").cast(DoubleType) / lit(1.0e12)).as("mmd2"),
        col("top_dim"),
        when(col("mmd2_q12") > 0,
          expr("(top_sq * 1000000L) div mmd2_q12")).as("top_share_ppm"))
  }
}
