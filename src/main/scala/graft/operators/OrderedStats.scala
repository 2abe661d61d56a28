package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact rank/CDF statistics over two tagged samples — the
  * order-statistic analytics that close the model-evaluation and
  * drift-testing gap: a two-sample Kolmogorov-Smirnov distance
  * ([[ksTest]]) and a tie-corrected ROC-AUC ([[aucExact]]). Both are
  * functions of the joint empirical CDF, so they share one primitive:
  * cumulative per-side counts over the DISTINCT values of the pooled
  * sample ([[cumCounts]]).
  *
  * EXACT INTEGER CONVENTION (the modularity/PageRank discipline):
  * every cumulative count is an exact integer, every cross-product
  * widens to DECIMAL(38,0) before the ONE IEEE division, and the
  * result quantizes to integer micro-units — an oracle replays the
  * statistic value-for-value. No double ever accumulates.
  *
  * SCALE SHAPE — the trap in any CDF statistic is the global
  * cumulative sum: a bare `Window.orderBy(value)` with no partition
  * funnels EVERY distinct value through one task. [[cumCounts]] runs
  * the textbook two-phase prefix sum instead: (1) one hash-agg
  * collapses the row stream to per-distinct-value counts (the only
  * row-scale pass); (2) counts range-partition by value and cumsum
  * WITHIN each partition in parallel; (3) per-partition totals — one
  * row per partition — prefix-sum on the driver-sized side and join
  * back as broadcast offsets. The single-task window touches
  * `nBuckets` rows, never the value stream.
  */
object OrderedStats {

  /** Per distinct value of the pooled sample: this value's per-side
    * counts (`ca`, `cb`) and the INCLUSIVE cumulative per-side counts
    * (`cum_a`, `cum_b`) in ascending value order. `tagExpr` selects
    * side a; NULL values and NULL tags are excluded (a sample
    * membership must be decided). */
  private[graft] def cumCounts(df: DataFrame, valueExpr: Column,
      tagExpr: Column, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    // NaN is excluded alongside NULL: it has no place on the value
    // axis, and NaN != NaN would silently drop rows at any
    // rank-join-back (spearman) while still perturbing the counts
    val counts = df.select(valueExpr.cast("double").as("v"),
        tagExpr.as("t"))
      .filter(col("v").isNotNull && !isnan(col("v")) && col("t").isNotNull)
      .groupBy(col("v"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("cb"))
    // phase 2: parallel within-partition cumsum. The partition id is
    // only a GROUPING DEVICE — offsets are computed from the actual
    // partition contents, so the result is identical for any range
    // boundary placement.
    val parted = counts.repartitionByRange(nBuckets, col("v"))
      .sortWithinPartitions(col("v"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint() // pin pid assignment: offsets and cumsums
                         // below must see the SAME partitioning
    val wIn = Window.partitionBy(col("__pid")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // phase 3: nBuckets-row offsets table; the single-task window is
    // over partition TOTALS, not values
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("__pid"))
      .agg(sum(col("ca")).as("__ta"), sum(col("cb")).as("__tb"))
      .select(col("__pid"),
        coalesce(sum(col("__ta")).over(wOff), lit(0L)).as("__oa"),
        coalesce(sum(col("__tb")).over(wOff), lit(0L)).as("__ob"))
    parted
      .withColumn("__cin_a", sum(col("ca")).over(wIn))
      .withColumn("__cin_b", sum(col("cb")).over(wIn))
      .join(broadcast(offsets), "__pid")
      .select(col("v"), col("ca"), col("cb"),
        (col("__cin_a") + col("__oa")).as("cum_a"),
        (col("__cin_b") + col("__ob")).as("cum_b"))
  }

  /** [[cumCounts]] crossed with its two sample sizes `n_a`, `n_b`, one
    * broadcast 1-row aggregate: the prelude of the two-sample tests. */
  private def sided(df: DataFrame, valueExpr: Column, tagExpr: Column,
      nBuckets: Int): DataFrame = {
    val cum = cumCounts(df, valueExpr, tagExpr, nBuckets)
    cum.crossJoin(broadcast(
      cum.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))))
  }

  /** `cum_a·n_b − cum_b·n_a`, the exact integer numerator of the CDF
    * gap `F_a − F_b` at a value ([[Quality.shareGap]]). */
  private def cdfGap: Column =
    Quality.shareGap(col("cum_a"), col("cum_b"), col("n_a"), col("n_b"))

  /** Two-sample Kolmogorov-Smirnov distance, EXACT:
    * `D = max_v |F_a(v) − F_b(v)|` computed as the integer maximum of
    * `|cum_a·n_b − cum_b·n_a|` over distinct pooled values (the sup
    * over all x is attained at a sample value, so scanning distinct
    * values is exhaustive, not an approximation). Returns one row
    * (n_a, n_b, d_micros) with `d_micros = round(D · 10⁶)`.
    *
    * Unlike the binned drift family ([[Quality.driftReport]] /
    * [[Quality.psiReport]]), KS needs no grid choice — it is the
    * scale-free test a drift monitor escalates to when bins are in
    * question. */
  def ksTest(df: DataFrame, valueExpr: Column, tagExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    sided(df, valueExpr, tagExpr, nBuckets)
      .select(abs(cdfGap).as("__d"), col("n_a"), col("n_b"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("__d")).as("__dnum"))
      // one empty side: no distance is defined — empty result, not 0/0
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .select(col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        round(Quality.perPair(col("__dnum"), col("n_a"), col("n_b")) * 1e6)
          .cast("long").as("d_micros"))
  }

  /** Per-metric two-sample KS battery with one-term asymptotic
    * p-values — the drift SWEEP that feeds [[Quality.bhFdr]]: one
    * call screens every metric of a monitoring panel (column ×
    * segment) against the same A/B split and emits the p-values the
    * FDR step-up needs. The production shape is
    * `bhFdr(ksBattery(...), "metric", col("p_micros"))` — drift
    * sweep → p-values → FDR-controlled verdict set.
    *
    * D is the same exact integer cross-multiplied sup as [[ksTest]]
    * (per metric); the p-value is the standard one-term Kolmogorov
    * tail `p = min(1, 2·exp(−2·m·D²))` with `m = n_a·n_b/(n_a+n_b)`
    * — that truncation IS the contract (neither engine has the full
    * series; the one-term bound is what monitoring systems deploy),
    * and the IEEE tree is mirrored token-for-token so an oracle
    * replays every p bit-for-bit from the exact integer inputs.
    *
    * Scale: one row-scale hash-agg to (metric, value) counts — the
    * only row-scale pass; the cumulative windows partition BY METRIC
    * (a panel of metrics parallelizes across them), so per-metric
    * distinct values must fit a partition — the loud
    * `maxDistinctPerMetric` pre-flight (one narrow count over the
    * already-aggregated counts) refuses a metric whose value stream
    * belongs in [[ksTest]]'s two-phase prefix sum instead. */
  def ksBattery(df: DataFrame, metricExpr: Column, valueExpr: Column,
      tagExpr: Column, maxDistinctPerMetric: Long = 2000000L): DataFrame = {
    val c = df.select(metricExpr.cast("string").as("metric"),
        valueExpr.as("v"), tagExpr.as("t"))
      .filter(col("metric").isNotNull && col("v").isNotNull &&
        col("t").isNotNull)
      .groupBy(col("metric"), col("v"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("cb"))
    ksBatteryFromCounts(c, maxDistinctPerMetric)
  }

  /** [[ksBattery]] from its own sufficient statistic — a
    * `(metric, v, ca, cb)` per-distinct-value count table (side A /
    * side B counts). This is the entry point the STREAMING twin
    * needs: per-value counts are additive where raw values are not,
    * so a micro-batch monitor folds counts into a versioned snapshot
    * ([[graft.streaming.DriftStreams]] posture) and computes the
    * identical battery at trigger time — value-identical to running
    * [[ksBattery]] over the union of every batch's rows, which is
    * the replay identity `evt_drift_fdr_replay` grades. Everything
    * downstream of the count table (cumulative windows, exact
    * cross-multiplied D, the one-term p tree) is shared code, so the
    * identity is structural, not re-derived. */
  def ksBatteryFromCounts(c0: DataFrame,
      maxDistinctPerMetric: Long = 2000000L): DataFrame = {
    // the count table feeds BOTH the pre-flight head() and the main
    // window plan — materialize it once (distinct-value scale) so the
    // row-scale upstream (e.g. a full events scan per ksBattery call)
    // is paid once, not twice; the op was already eager via the
    // pre-flight, so this changes cost, not semantics
    val c = c0.localCheckpoint(true)
    val worst = c.groupBy(col("metric"))
      .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
    val worstN = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstN <= maxDistinctPerMetric,
      s"a metric holds $worstN distinct values (cap " +
        s"$maxDistinctPerMetric) — the per-metric cumulative window " +
        "buffers them in one partition; run ksTest's two-phase " +
        "prefix sum for that column or bucket the values first")
    val wCum = Window.partitionBy(col("metric")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("metric"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val agg = c
      .withColumn("cum_a", sum(col("ca")).over(wCum))
      .withColumn("cum_b", sum(col("cb")).over(wCum))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .groupBy(col("metric"), col("n_a"), col("n_b"))
      .agg(max(abs(cdfGap)).as("__dnum"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val dD = Quality.perPair(col("__dnum"), col("n_a"), col("n_b"))
    val p = least(lit(1.0),
      lit(2.0) * exp(lit(-2.0) * (naD * nbD / (naD + nbD)) * dD * dD))
    agg.select(col("metric"),
      col("n_a").cast("bigint").as("n_a"),
      col("n_b").cast("bigint").as("n_b"),
      round(dD * 1e6).cast("long").as("d_micros"),
      round(p * 1e6).cast("long").as("p_micros"))
  }

  /** NDCG@k — graded-relevance ranking quality (Järvelin &
    * Kekäläinen 2002), the eval-harness metric where [[aucExact]]
    * (binary, threshold-free) and [[averagePrecision]] (binary,
    * rank-weighted) cannot see GRADES: highly-relevant items must
    * rank above mildly-relevant ones, discounted by `1/log₂(i+1)`.
    *
    * Determinism: the model cut is top-k by (score desc, id) — a
    * TOTAL order; each rank term `round(rel / (ln(i+1)/ln 2) · 10⁶)`
    * micro-quantizes per rank so the DCG sum is order-free (the
    * unigramNll convention; ln agrees between engines); the ideal
    * cut sorts by (rel desc, id) — equal grades contribute equal
    * terms, so the tie-break cannot change IDCG; `ndcg_ppm` is one
    * truncating division of exact integers. Zero IDCG (no relevant
    * item exists) returns empty — NDCG of nothing is a category
    * error, not 0. Returns one row (k, n_rows, dcg_micros,
    * idcg_micros, ndcg_ppm).
    *
    * Scale: BOTH cuts are TakeOrdered top-k (never a global sort);
    * the rank windows run over ≤ k rows in one partition — k is the
    * caller's contract (≤ 100k guard). SIDE-EFFECTING: the item
    * table localCheckpoints (two cut consumers + the total). */
  def ndcgAtK(df: DataFrame, idExpr: Column, scoreExpr: Column,
      relExpr: Column, k: Int = 100): DataFrame = {
    require(k >= 1 && k <= 100000, s"k must be in [1, 100000] (got $k)")
    val base = df.select(idExpr.cast("long").as("id"),
        scoreExpr.cast("double").as("s"),
        relExpr.cast("long").as("rel"))
      .filter(col("s").isNotNull && !isnan(col("s")) &&
        col("rel").isNotNull && col("rel") >= 0L)
      .localCheckpoint(true)
    def termSum(cut: DataFrame, name: String): DataFrame =
      cut.agg(coalesce(sum(round(col("rel").cast("double") /
          (log(col("__i").cast("double") + lit(1.0)) / log(lit(2.0))) *
          lit(1000000.0)).cast("long")), lit(0L)).as(name))
    val top = base.orderBy(col("s").desc, col("id")).limit(k)
      .withColumn("__i", row_number().over(
        Window.orderBy(col("s").desc, col("id"))).cast("long"))
    val ideal = base.orderBy(col("rel").desc, col("id")).limit(k)
      .withColumn("__i", row_number().over(
        Window.orderBy(col("rel").desc, col("id"))).cast("long"))
    val n = base.agg(count(lit(1)).as("n_rows"))
    termSum(top, "dcg_micros")
      .crossJoin(termSum(ideal, "idcg_micros")) // 1-row cuts
      .crossJoin(n)
      .filter(col("idcg_micros") > 0L)
      .select(lit(k.toLong).as("k"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("dcg_micros"), col("idcg_micros"),
        expr("dcg_micros * 1000000 div idcg_micros").as("ndcg_ppm"))
  }

  /** Kendall's W — concordance of k RANKINGS of the same items ("do
    * these k scoring functions agree on the ordering"), the
    * eval-harness question behind ensemble rankers and judge panels
    * (pairwise [[spearman]] gives k²/2 numbers; W is the ONE
    * coefficient, 0 = no agreement, 1 = unanimous), tie-corrected
    * (Kendall & Babington Smith 1939).
    *
    * Exactness via the ×2 rank trick: the average rank of a tie
    * group is `below + (t+1)/2` — a HALF-integer — so the engine
    * carries `2·avgRank = 2·below + t + 1`, an exact integer from
    * the per-rater distinct-value table; the rank-sum deviations
    * `D2_i = Σ_j r2_ij − k(n+1)` and `S4 = ΣD2²` are DECIMAL-exact,
    * the tie correction `T_j = Σ(t³−t)` likewise, and
    * `W = 3·S4 / (k²(n³−n) − k·ΣT)` is ONE truncating ppm division
    * ([[Quality.decimalDivTrunc]]). All-tied raters (denominator 0)
    * return empty. Returns one row (n_items, k, ties, w_ppm).
    *
    * SIDE-EFFECTING: the item table is checkpointed (k+2
    * consumers) by a job that also counts it, and a 1-row
    * distinct-count guard runs eagerly.
    * Scale: per rater one distinct-value hash-agg + one
    * DISTINCT-VALUE-scale cumulative window (the ksBattery posture —
    * per-rater distinct values must fit a partition, guarded loudly)
    * + one value-keyed join back; k ≤ 16 row-scale joins, nothing
    * quadratic in items. */
  def kendallW(df: DataFrame, scoreExprs: Seq[Column],
      maxDistinctPerRater: Long = 2000000L): DataFrame = {
    require(scoreExprs.size >= 2 && scoreExprs.size <= 16,
      s"rater count must be in [2, 16] (got ${scoreExprs.size})")
    val dec = "decimal(38,0)"
    val k = scoreExprs.size
    val sCols = (1 to k).map(j => s"__s$j")
    val spark = df.sparkSession
    import spark.implicits._
    val (base, n) = Eager.truncateCounted(
      df.select(scoreExprs.zip(sCols).map {
          case (e, nm) => e.cast("double").as(nm) }: _*)
        .filter(sCols.map(c => col(c).isNotNull && !isnan(col(c)))
          .reduce(_ && _)))
    if (n < 2L) {
      Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_items", "k", "ties", "w_ppm")
    } else {
      val guard = base.agg(sCols.map(c =>
        countDistinct(col(c)).as(c)).head,
        sCols.map(c => countDistinct(col(c)).as(c)).tail: _*).head()
      (0 until k).foreach { j =>
        require(guard.getLong(j) <= maxDistinctPerRater,
          s"rater ${j + 1} holds ${guard.getLong(j)} distinct scores " +
            s"(cap $maxDistinctPerRater) — the per-rater cumulative " +
            "window buffers them in one partition; bucket the scores")
      }
      var joined = base
      var tie: DataFrame = null
      for ((c, j) <- sCols.zipWithIndex) {
        val vc = base.groupBy(col(c)).agg(count(lit(1)).as("__t"))
        val wBelow = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = vc.withColumn("__below",
            coalesce(sum(col("__t")).over(wBelow), lit(0L)))
          .select(col(c),
            (lit(2L) * col("__below") + col("__t") + 1L)
              .as(s"__r2$j"))
        joined = joined.join(ranked, Seq(c))
        val tj = vc.agg(sum((col("__t").cast(dec) * col("__t") *
          col("__t") - col("__t"))).as("__tt"))
        tie = if (tie == null) tj else tie.unionByName(tj)
      }
      val r2Sum = (0 until k).map(j => col(s"__r2$j")).reduce(_ + _)
      val dev = r2Sum.cast(dec) - lit(k.toLong) * (lit(n) + 1L)
      val s4 = joined.agg(sum(dev * dev).as("__s4"))
      val tiesTot = tie.agg(sum(col("__tt")).as("__ties"))
      val denom = lit(k.toLong).cast(dec) * lit(k.toLong) *
        (lit(n).cast(dec) * lit(n) * lit(n) - lit(n)) -
        lit(k.toLong).cast(dec) * col("__ties")
      s4.crossJoin(tiesTot) // two 1-row moment tables
        .filter(denom > 0)
        .select(lit(n).as("n_items"), lit(k.toLong).as("k"),
          col("__ties").cast("bigint").as("ties"),
          Quality.decimalDivTrunc(
            (lit(3L).cast(dec) * col("__s4")) * lit(1000000L),
            denom).cast("long").as("w_ppm"))
    }
  }

  /** ROC-AUC, EXACT with tie correction — the Mann-Whitney rank-sum
    * identity: over distinct scores s (ascending), with `pos_s`
    * positives and `neg_s` negatives at s and `negBelow_s` negatives
    * strictly below,
    * `2U = Σ_s pos_s · (2·negBelow_s + neg_s)` and
    * `AUC = 2U / (2·n_pos·n_neg)` — ties contribute the standard ½.
    * Every term is an exact integer (ties handled by GROUPING on the
    * score, not by averaging fractional ranks), so the statistic
    * replays on any engine. Returns one row
    * (n_pos, n_neg, auc_micros).
    *
    * This is THE threshold-free binary-classifier metric; computing
    * it exactly at corpus scale usually dies on the global sort —
    * here it rides [[cumCounts]]'s two-phase prefix sum. Degenerate
    * inputs (no positives or no negatives) return an empty result
    * rather than a division by zero. */
  def aucExact(df: DataFrame, scoreExpr: Column, labelExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val cum = cumCounts(df, scoreExpr, labelExpr, nBuckets)
    val tot = cum.agg(sum(col("ca")).as("n_pos"), sum(col("cb")).as("n_neg"))
    cum.crossJoin(broadcast(tot)) // 1-row class sizes
      .select(col("n_pos"), col("n_neg"),
        (col("ca").cast("decimal(38,0)") *
          (lit(2).cast("decimal(38,0)") * (col("cum_b") - col("cb")) +
            col("cb"))).as("__u2"))
      .groupBy(col("n_pos"), col("n_neg"))
      .agg(sum(col("__u2")).as("__twoU"))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L)
      .select(col("n_pos").cast("bigint").as("n_pos"),
        col("n_neg").cast("bigint").as("n_neg"),
        round(col("__twoU").cast("double") /
          (lit(2).cast("decimal(38,0)") * col("n_pos") * col("n_neg"))
            .cast("double") * 1e6).cast("long").as("auc_micros"))
  }

  /** Order-statistic confidence interval for a per-group MEDIAN — the
    * nonparametric CI the mean-based SE cannot give (a median's
    * sampling error comes from rank uncertainty, not variance): the
    * binomial/normal rank bracket `k_lo = ⌊(n − z·√n)/2⌋`,
    * `k_hi = n + 1 − k_lo` selects two ACTUAL data values whose span
    * covers the true median with ≥ 95 % probability —
    * distribution-free, outlier-immune, exactly replayable (the
    * bracket is a pure function of n; the values are order
    * statistics).
    *
    * Exactness: ranks come from one per-group row_number window
    * (value at a rank is a multiset property); the only doubles are
    * the mirrored `⌊(n − 1.959964·√n)/2⌋` bracket computation —
    * floor/sqrt agree between engines on identical inputs — and the
    * result re-enters integer land as a rank. Groups with k_lo < 1
    * (n too small for a 95 % bracket, n ≲ 4) emit nothing — a
    * degenerate bracket would claim certainty the sample can't give.
    *
    * Scale: one row-scale rank window partitioned by GROUP
    * (high-cardinality groups parallelize; the percentile-family
    * contract), then group-scale joins of three rank lookups. */
  def medianCI(df: DataFrame, keyCols: Seq[String],
      valueExpr: Column): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val base = df.select(keyCols.map(col) :+
        valueExpr.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
    val ranked = base
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(keyCols.map(col): _*)))
    val nD = col("__n").cast("double")
    val kLo = floor((nD - lit(1.959964) * sqrt(nD)) / lit(2.0))
      .cast("long")
    // percentile_disc(0.5) convention: smallest rank with cume >= 0.5
    val kMed = expr("(__n + 1) div 2")
    val marked = ranked
      .withColumn("__klo", kLo)
      .withColumn("__khi", col("__n") + 1L - kLo)
      .filter(col("__klo") >= 1L)
    def at(rankCol: String, out: String) = marked
      .filter(col("__r") === col(rankCol))
      .select(keyCols.map(col) :+ col("__v").as(out): _*)
    marked.withColumn("__kmed", kMed)
      .filter(col("__r") === col("__kmed"))
      .select(keyCols.map(col) ++ Seq(
        col("__n").cast("bigint").as("n"),
        col("__v").as("median"), col("__klo").as("k_lo"),
        col("__khi").as("k_hi")): _*)
      .join(at("__klo", "ci_lo"), keyCols)
      .join(at("__khi", "ci_hi"), keyCols)
      .select(keyCols.map(col) ++ Seq(col("n"), col("median"),
        col("ci_lo"), col("ci_hi"), col("k_lo"), col("k_hi")): _*)
  }

  /** Mann-Whitney U rank-sum test, EXACT with tie correction — the
    * nonparametric two-sample test the t-test family can't replace
    * when the metric is ordinal or heavy-tailed (session counts,
    * latencies, ratings: one whale breaks a mean comparison; ranks
    * don't care). Shares [[aucExact]]'s identity — `2U` is the same
    * doubled Mann-Whitney statistic (AUC = U/(n₁n₂) IS the
    * probability-of-superiority reading) — and adds the inferential
    * tail: the normal approximation
    * `z = (2U − n₁n₂) / (2·√Var U)` with the TIE-CORRECTED variance
    * `Var U = (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1)))`, and the
    * two-sided p through the shared [[Quality.pValueTwoSidedZ]]
    * polynomial.
    *
    * Exactness: 2U and the tie sum `Σ(t³−t)` are exact integers off
    * the distinct-value counts; the variance cross-multiplies to the
    * DECIMAL-exact `n₁n₂·((n+1)n(n−1) − T) / (12n(n−1))` form — one
    * mirrored double tree from exact integers to z and p, both
    * micro-quantized. Degenerate inputs (an empty side, or all
    * values tied — zero variance) return empty, not NaN.
    *
    * Scale: identical to [[aucExact]] — one row-scale hash-agg to
    * distinct values, the two-phase prefix sum, everything after is
    * distinct-value-scale. Returns one row
    * (n_a, n_b, u2, z_micros, p_micros). */
  def mannWhitney(df: DataFrame, valueExpr: Column, tagExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = sided(df, valueExpr, tagExpr, nBuckets)
      .select(col("n_a"), col("n_b"),
        (col("ca").cast(dec) *
          (lit(2).cast(dec) * (col("cum_b") - col("cb")) + col("cb")))
          .as("__u2"),
        ((col("ca") + col("cb")).cast(dec) * (col("ca") + col("cb")) *
          (col("ca") + col("cb")) - (col("ca") + col("cb")).cast(dec))
          .as("__t3"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("__u2")).as("__twoU"), sum(col("__t3")).as("__ties"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("__n", col("n_a") + col("n_b"))
    val varNum = (col("n_a").cast(dec) * col("n_b") *
      ((col("__n") + 1L).cast(dec) * col("__n") * (col("__n") - 1L) -
        col("__ties")))
    val varDen = (lit(12).cast(dec) * col("__n") * (col("__n") - 1L))
    val z = (col("__twoU") - col("n_a").cast(dec) * col("n_b"))
      .cast("double") /
      (lit(2.0) * sqrt(varNum.cast("double") / varDen.cast("double")))
    agg.filter(col("__n") > 1L && varNum > 0)
      .withColumn("__z", z)
      .select(col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        col("__twoU").cast("bigint").as("u2"),
        round(col("__z") * 1e6).cast("long").as("z_micros"),
        round(Quality.pValueTwoSidedZ(col("__z")) * 1e6).cast("long")
          .as("p_micros"))
  }

  /** Spearman rank correlation, EXACT with average-rank ties — the
    * robust dependence measure (Pearson on RANKS: monotone but
    * non-linear relationships score |ρ| → 1, one fat outlier cannot
    * own it). The whole difficulty at scale is ranking two columns of
    * a petabyte table; both rankings ride [[cumCounts]]'s two-phase
    * prefix sum, and ties take the textbook AVERAGE rank kept exact
    * by DOUBLING: `2·rank_avg(v) = 2·cumBelow(v) + cnt(v) + 1` is an
    * integer, so the Pearson moments over doubled ranks are exact
    * DECIMAL integers and ρ (scale-invariant — doubling cancels) is
    * one mirrored IEEE tree: `num / (√a · √b) · 10⁶`. Rows with a
    * NULL on either side are excluded pairwise. Returns one row
    * (n, rho_micros); degenerate inputs (constant column → zero
    * variance) return empty rather than 0/0. */
  def spearman(df: DataFrame, xExpr: Column, yExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val rows = df.select(xExpr.cast("double").as("__x"),
        yExpr.cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    def rank2(valueCol: String, out: String): DataFrame =
      cumCounts(rows, col(valueCol), lit(true), nBuckets)
        .select(col("v").as(valueCol),
          (lit(2L) * (col("cum_a") - col("ca")) + col("ca") + lit(1L))
            .as(out))
    val ranked = rows
      .join(rank2("__x", "__rx"), "__x")
      .join(rank2("__y", "__ry"), "__y")
    val (rx, ry) = (col("__rx"), col("__ry"))
    val aggs = Moments.sums("__n", Seq("__sx" -> rx, "__sy" -> ry),
      Seq(("__sxy", rx, ry), ("__sxx", rx, rx), ("__syy", ry, ry)))
    val (n, sx, sy) = (col("__n"), col("__sx"), col("__sy"))
    val (sxx, syy) = (col("__sxx"), col("__syy"))
    ranked.agg(aggs.head, aggs.tail: _*)
      .filter(Moments.centered(n, sxx, sx, sx) > 0 &&
        Moments.centered(n, syy, sy, sy) > 0)
      .select(n.cast("bigint").as("n"),
        Moments.pearsonMicros(n, col("__sxy"), sx, sy, sxx, syy)
          .as("rho_micros"))
  }

  /** Cumulative gains / lift table — the model-eval companion to
    * [[aucExact]] a campaign targeter actually reads: bucket the
    * population into score DECILES (decile 0 = highest scores) and
    * report, per decile, the positives captured so far (`gain_ppm` =
    * cumulative positives as ppm of all positives) and the lift over
    * random targeting (`lift_micros` = cumulative precision ÷ base
    * rate, micro-quantized). Rides [[cumCounts]] on the NEGATED score
    * (descending order without a descending code path); a tie group
    * of one distinct score lands wholly in the decile of its last
    * cumulative position — deterministic, never split, so heavy-tie
    * score columns yield fewer, fatter rows rather than arbitrary
    * splits. Deciles with no distinct score of their own are absent
    * (same determinism both engines). Empty-class inputs return
    * empty. All counts exact integers; `gain_ppm` is an integer
    * `div`, `lift` one IEEE division of DECIMAL-widened products. */
  def gainsTable(df: DataFrame, scoreExpr: Column, labelExpr: Column,
      deciles: Int = 10, nBuckets: Int = 32): DataFrame = {
    require(deciles >= 2, s"deciles must be >= 2 (got $deciles)")
    val cum = cumCounts(df, -scoreExpr.cast("double"), labelExpr, nBuckets)
    val tot = cum.agg(sum(col("ca") + col("cb")).as("__n"),
      sum(col("ca")).as("__npos"))
    val perDecile = cum.crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("decile",
        expr(s"CAST((cum_a + cum_b - 1) AS DECIMAL(38,0)) * $deciles div __n")
          .cast("int"))
      .groupBy(col("decile"))
      .agg(sum(col("ca") + col("cb")).cast("bigint").as("n_rows"),
        sum(col("ca")).cast("bigint").as("n_pos"))
    // the cumulative pass runs over <= `deciles` rows — single-task
    // window on a grid-sized table, same posture as cumCounts' offsets
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .withColumn("cum_rows", sum(col("n_rows")).over(wc))
      .crossJoin(broadcast(tot))
      .filter(col("__npos") > 0L)
      .select(col("decile"), col("n_rows"), col("n_pos"),
        col("cum_pos").cast("bigint").as("cum_pos"),
        expr("CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div __npos")
          .cast("long").as("gain_ppm"),
        round((col("cum_pos").cast("decimal(38,0)") * col("__n"))
            .cast("double") /
          (col("cum_rows").cast("decimal(38,0)") * col("__npos"))
            .cast("double") * 1e6).cast("long").as("lift_micros"))
      .orderBy(col("decile"))
  }

  /** Kruskal-Wallis H test, EXACT with tie correction — the k-group
    * extension of [[mannWhitney]] (one-way ANOVA on RANKS): does at
    * least one of k groups stochastically dominate? The parametric
    * F-test needs equal-variance normal groups; ranks need nothing.
    *
    * Exactness: doubled average ranks `2r(v) = 2·cumBelow + cnt + 1`
    * are exact integers (the [[spearman]] device), so each group's
    * doubled rank sum `2R_g` is a DECIMAL-exact integer. The rank-sum
    * square term is the per-group truncating division
    * `S₃ = Σ_g ((2R_g)²·10³) div (4n_g)` — milli-scaled exact
    * integers, order-free sum — and the tie-corrected statistic is
    * ONE cross-multiplied integer division:
    * `H_micros = (12·S₃·10³ − 3n(n+1)²·10⁶)·(n³−n) div
    * (n(n+1)·(n³−n−T))`, `T = Σ(t³−t)`. The upper-tail p is
    * [[Quality.upperTailZ]] of the [[Quality.wilsonHilfertyZ]]
    * cube-root normalization of H/d, d = k−1 — a mirrored double
    * tree both engines replay bit-for-bit. Degenerate inputs (k < 2,
    * or all values tied) return empty; an H truncated to ≤ 0 reports
    * p = 1.
    *
    * Scale: one row-scale (group, value) hash-agg + [[cumCounts]]'s
    * two-phase prefix sum; everything after is distinct-value- and
    * group-scale. DECIMAL(38) bounds the exact path at
    * `n_g·n² ≲ 9·10¹⁵` per group (the [[mannWhitney]] n⁵ posture) —
    * a significance test's sample, not a corpus. Returns one row
    * (n, n_groups, h_micros, p_micros). */
  def kruskalWallis(df: DataFrame, groupExpr: Column, valueExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(groupExpr.cast("string").as("g"),
        valueExpr.cast("double").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull &&
        !isnan(col("v")))
    val gv = base.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c"))
    val pooled = cumCounts(base, col("v"), lit(true), nBuckets)
      .select(col("v"), col("ca").as("cnt"), col("cum_a").as("cum"))
    // doubled average rank of value v (integer): 2·cumBelow + cnt + 1
    val r2 = pooled.withColumn("__r2",
      lit(2L) * col("cum") - col("cnt") + 1L)
    val perGroup = gv.join(r2.select(col("v"), col("__r2")), Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("c").cast(dec) * col("__r2")).as("__tr"),
        sum(col("c")).as("__ng"))
    // Quality.decimalDivTrunc, NOT SQL `div`: (2R_g)²·10³ quotients
    // outgrow a long around n ~ 10⁶·√n_g and IntegralDivide wraps
    // silently there
    val sAgg = perGroup
      .select(Quality.decimalDivTrunc(
        col("__tr") * col("__tr") * lit(1000),
        lit(4).cast(dec) * col("__ng")).as("__sg"))
      .agg(sum(col("__sg")).as("__s"), count(lit(1)).as("__k"))
    val nTies = r2.agg(sum(col("cnt")).as("__n"),
      sum(col("cnt").cast(dec) * col("cnt") * col("cnt") -
        col("cnt").cast(dec)).as("__t"))
    val hc = sAgg.crossJoin(broadcast(nTies)) // 1-row totals
      .filter(col("__k") >= 2L && col("__n").isNotNull)
      .withColumn("__n3",
        col("__n").cast(dec) * col("__n") * col("__n") - col("__n"))
      .filter(col("__n3") > col("__t"))
      .withColumn("__hc", expr(
        "((12 * __s * 1000 - CAST(3 AS DECIMAL(38,0)) * __n * (__n + 1)" +
          " * (__n + 1) * 1000000) * __n3)" +
          " div nullif(CAST(__n AS DECIMAL(38,0)) * (__n + 1)" +
          " * (__n3 - __t), 0)"))
    val d = (col("__k") - 1L).cast("double")
    val u = when(col("__hc") > 0L, col("__hc").cast("double") / 1e6 / d)
    hc.withColumn("__p",
        when(col("__hc") <= 0L, lit(1.0))
          .otherwise(Quality.upperTailZ(Quality.wilsonHilfertyZ(u, d))))
      .select(col("__n").cast("bigint").as("n"),
        col("__k").cast("bigint").as("n_groups"),
        col("__hc").cast("bigint").as("h_micros"),
        round(col("__p") * 1e6).cast("long").as("p_micros"))
  }

  /** Average precision (area under the precision-recall STEP curve),
    * EXACT over distinct score thresholds — the ranking metric that
    * matters when positives are rare ([[aucExact]] saturates under
    * class imbalance; AP weighs every retrieved positive by the
    * precision AT ITS THRESHOLD): `AP = Σ_v ΔTP(v)·P(v) / n_pos`
    * over distinct scores v descending, `P(v) = TP(v)/(TP(v)+FP(v))`
    * the precision of the "score ≥ v" cut. Ties in scores land whole
    * at one threshold — no arbitrary within-tie order exists, so the
    * metric is deterministic where a sorted-list AP is not.
    *
    * Exactness: TP/FP at each threshold are exact integers off
    * [[cumCounts]] read from the top (`TP(v) = n_pos − cum_a + ca`);
    * each term is the pico-scaled truncating division
    * `(ΔTP·TP·10¹²) div (TP+FP)` — exact integers, order-free sum —
    * and AP is one final division by `n_pos·10⁶`, leaving micros.
    * Returns one row (n_pos, n_neg, ap_micros, prevalence_micros);
    * prevalence is the random-ranking baseline AP. Empty if either
    * side is absent.
    *
    * Scale: identical to [[aucExact]] — one row-scale hash-agg, the
    * two-phase prefix sum, distinct-value-scale everything after. */
  def averagePrecision(df: DataFrame, scoreExpr: Column,
      labelExpr: Column, nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    val cum = cumCounts(df, scoreExpr, labelExpr, nBuckets)
    val tot = cum.agg(sum(col("ca")).as("__na"), sum(col("cb")).as("__nb"))
    cum.crossJoin(broadcast(tot)) // 1-row sample sizes
      .filter(col("__na") > 0L && col("__nb") > 0L)
      .withColumn("__tp", col("__na") - col("cum_a") + col("ca"))
      .withColumn("__fp", col("__nb") - col("cum_b") + col("cb"))
      .select(col("__na"), col("__nb"), expr(
        "(CAST(ca AS DECIMAL(38,0)) * __tp * 1000000000000)" +
          " div (__tp + __fp)").as("__term"))
      .groupBy(col("__na"), col("__nb"))
      .agg(sum(col("__term").cast(dec)).as("__ap"))
      .select(col("__na").cast("bigint").as("n_pos"),
        col("__nb").cast("bigint").as("n_neg"),
        expr("__ap div (__na * CAST(1000000 AS DECIMAL(38,0)))")
          .cast("long").as("ap_micros"),
        expr("(CAST(__na AS DECIMAL(38,0)) * 1000000)" +
          " div (__na + __nb)").cast("long").as("prevalence_micros"))
  }

  /** Standardized two-sample effect sizes — the magnitude reading a
    * p-value refuses to give (at n = 10⁷ everything is significant;
    * WHETHER IT MATTERS is d): Cohen's d on the pooled SD, the
    * small-sample-debiased Hedges' g `g = d·(1 − 3/(4n−9))`, and the
    * nonparametric Cliff's δ `= 2U/(n₁n₂) − 1 ∈ [−1,1]` (the
    * probability-of-superiority gap — immune to the heavy tails that
    * make d lie).
    *
    * Exactness: one pass accumulates exact integer moments
    * (n, Σx, Σx²) per side; d is ONE mirrored IEEE tree
    * `(S₁/n₁ − S₂/n₂) / √(((Q₁−S₁²/n₁)+(Q₂−S₂²/n₂))/(n₁+n₂−2))`
    * from DECIMAL-exact integers, micro-quantized; g multiplies the
    * UNROUNDED d; δ is the cross-multiplied integer division
    * `(2U − n₁n₂)·10⁶ div (n₁n₂)` off [[cumCounts]], no doubles at
    * all. Degenerate inputs (an empty side, zero pooled variance, or
    * n ≤ 2) return empty.
    *
    * Scale: the moments are one map-side-combined hash-agg; δ rides
    * the two-phase prefix sum. Returns one row
    * (n_a, n_b, d_micros, g_micros, cliff_micros). */
  def effectSizes(df: DataFrame, valueExpr: Column, tagExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(valueExpr.cast("long").as("x"),
        tagExpr.as("t"))
      .filter(col("x").isNotNull && col("t").isNotNull)
    val x = col("x")
    def side(n: String, i: Int, in: Column) = Moments.sums(n,
      Seq(s"__s$i" -> x), Seq((s"__q$i", x, x)), Some(in))
    val aggs = side("n_a", 1, col("t")) ++ side("n_b", 2, !col("t"))
    val mom = base.agg(aggs.head, aggs.tail: _*)
    // 2U off the prefix sum (the mannWhitney/aucExact identity)
    val cum = cumCounts(base, col("x"), col("t"), nBuckets)
    val u2 = cum.agg(sum(col("ca").cast(dec) *
      (lit(2).cast(dec) * (col("cum_b") - col("cb")) + col("cb")))
      .as("__u2"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val ssq = (col("__q1").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double") / n1) +
      (col("__q2").cast("double") -
        col("__s2").cast("double") * col("__s2").cast("double") / n2)
    val dCol = (col("__s1").cast("double") / n1 -
      col("__s2").cast("double") / n2) /
      sqrt(ssq / (n1 + n2 - lit(2.0)))
    val gCol = dCol * (lit(1.0) -
      lit(3.0) / (lit(4.0) * (n1 + n2) - lit(9.0)))
    mom.crossJoin(broadcast(u2)) // two 1-row aggregates
      .filter(col("n_a") > 0L && col("n_b") > 0L &&
        col("n_a") + col("n_b") > 2L)
      .withColumn("__ssq", ssq)
      .filter(col("__ssq") > 0.0)
      .select(col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        round(dCol * 1e6).cast("long").as("d_micros"),
        round(gCol * 1e6).cast("long").as("g_micros"),
        expr("((__u2 - CAST(n_a AS DECIMAL(38,0)) * n_b) * 1000000)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
          .cast("long").as("cliff_micros"))
  }

  /** Two-sample Cramér–von Mises statistic, EXACT — the
    * whole-distribution companion to [[ksTest]]: KS reads only the
    * single worst CDF gap (sensitive in the middle, blind to tails
    * and to many small gaps); CvM INTEGRATES the squared gap over the
    * pooled sample, `T = (n_a·n_b/N²)·Σ_x (F_a(x) − F_b(x))²` with
    * the sum over all N pooled observations (ties contribute their
    * multiplicity), so a drift spread thinly across the whole range —
    * invisible to KS — accumulates here.
    *
    * Exactness: per distinct value, `Δ = cum_a·n_b − cum_b·n_a` is
    * the exact integer numerator of `F_a − F_b` (the [[ksTest]]
    * device) and the multiplicity is `c = ca + cb`, so
    * `Σ c·Δ²` is one exact DECIMAL(38,0) integer and
    * `T = Σc·Δ² / (N²·n_a·n_b)` is ONE final IEEE division,
    * micro-quantized. `drifted` compares the statistic against the
    * asymptotic 5% critical value of the limiting ω² distribution
    * (0.461) — an integer compare on micros. Degenerate inputs (an
    * empty side) return empty.
    *
    * Scale: identical to [[ksTest]] — one row-scale hash-agg, the
    * two-phase prefix sum, distinct-value-scale everything after.
    * DECIMAL(38) bounds the exact sum at `N·(n_a·n_b)² < 10³⁸`
    * (N ≲ 7·10⁷ — the [[mannWhitney]] n⁵ posture: a significance
    * test's sample, not a corpus). Returns one row
    * (n_a, n_b, t_micros, drifted). */
  def cramerVonMises(df: DataFrame, valueExpr: Column, tagExpr: Column,
      nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    sided(df, valueExpr, tagExpr, nBuckets)
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("__d", cdfGap)
      .select(col("n_a"), col("n_b"),
        ((col("ca") + col("cb")).cast(dec) * col("__d") * col("__d"))
          .as("__term"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("__term")).as("__num"))
      .withColumn("__t_micros", round(col("__num").cast("double") /
        (((col("n_a") + col("n_b")).cast(dec) *
          (col("n_a") + col("n_b")) * col("n_a") * col("n_b"))
          .cast("double")) * 1e6).cast("long"))
      .select(col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        col("__t_micros").as("t_micros"),
        (col("__t_micros") > 461000L).as("drifted"))
  }

  /** Yuen's trimmed-mean t-test — the ROBUST two-sample mean
    * comparison next to [[graft.operators.Features.welchTTest]]
    * (one whale in an arm owns a raw mean; Yuen compares 20 %-trimmed
    * means with winsorized variances, keeping near-full efficiency
    * under normality and sanity under heavy tails — the
    * recommended default for revenue metrics): per arm, trim
    * `g = ⌊n·trim⌋` values from EACH end, compare trimmed means with
    * `d_i = s²_{w,i}(n_i−1)/(h_i(h_i−1))`, `h = n−2g`, and the
    * Welch-style combination `t = Δm_t/√(d₁+d₂)`.
    *
    * Exactness: the trim boundaries are ORDER STATISTICS (the
    * (g+1)-th and (n−g)-th smallest — multiset properties, tie-safe
    * by the boundary-excess arithmetic: `sum-of-g-smallest =
    * Σ_{v<bl} c·v + (g − cntBelow)·bl`), read off [[cumCounts]];
    * every trimmed/winsorized sum and sum of squares is an exact
    * DECIMAL integer; `d_i` is the one-division form
    * `(n·Q_w − S_w²) / (n·h·(h−1))` and t/df/p are ONE mirrored IEEE
    * tree each through the shared [[Quality.pValueTwoSidedZ]]
    * polynomial (the large-sample normal stance of the rank tests).
    * `trimPpm = 0` degenerates to plain Welch by construction.
    * Degenerate inputs (an arm with h < 2, or zero combined
    * variance) return empty. Returns one row (n_1, n_2, h_1, h_2,
    * mean_t1_micros, mean_t2_micros, t_micros, df_micros, p_micros).
    *
    * Scale: one row-scale hash-agg into the prefix sum; the
    * boundary lookups and moment corrections are three passes over
    * the distinct-value table (localCheckpointed once). */
  def yuenTTest(df: DataFrame, valueExpr: Column, tagExpr: Column,
      trimPpm: Long = 200000L, nBuckets: Int = 32): DataFrame = {
    require(trimPpm >= 0L && trimPpm < 500000L,
      s"trimPpm must be in [0, 5e5) (got $trimPpm)")
    val dec = "decimal(38,0)"
    val cum = cumCounts(df, valueExpr, tagExpr, nBuckets)
      .localCheckpoint(true) // three distinct-value-scale consumers
    def cnt(side: String) = sum(col(s"c$side"))
    val tot = cum.agg(cnt("a").as("__na"), cnt("b").as("__nb"),
      sum(col("ca").cast(dec) * col("v")).as("__sa"),
      sum(col("cb").cast(dec) * col("v")).as("__sb"),
      sum(col("ca").cast(dec) * col("v") * col("v")).as("__qa"),
      sum(col("cb").cast(dec) * col("v") * col("v")).as("__qb"))
      .withColumn("__ga", expr(s"__na * $trimPpm div 1000000"))
      .withColumn("__gb", expr(s"__nb * $trimPpm div 1000000"))
    // pass 2: the four order-statistic boundaries
    val c1 = cum.crossJoin(broadcast(tot))
      .groupBy(col("__na"), col("__nb"), col("__ga"), col("__gb"),
        col("__sa"), col("__sb"), col("__qa"), col("__qb"))
      .agg(
        min(when(col("cum_a") >= col("__ga") + 1L, col("v"))).as("__bla"),
        min(when(col("cum_a") >= col("__na") - col("__ga"), col("v")))
          .as("__bha"),
        min(when(col("cum_b") >= col("__gb") + 1L, col("v"))).as("__blb"),
        min(when(col("cum_b") >= col("__nb") - col("__gb"), col("v")))
          .as("__bhb"))
    // pass 3: boundary-corrected trimmed/winsorized moments
    def corr(side: String, bl: String, bh: String, g: String,
        n: String) = Seq(
      sum(when(col("v") < col(bl), col(s"c$side").cast(dec) * col("v"))
        .otherwise(lit(0).cast(dec))).as(s"__slo$side"),
      sum(when(col("v") < col(bl),
          col(s"c$side").cast(dec) * col("v") * col("v"))
        .otherwise(lit(0).cast(dec))).as(s"__qlo$side"),
      sum(when(col("v") < col(bl), col(s"c$side")).otherwise(0L))
        .as(s"__clo$side"),
      sum(when(col("v") > col(bh), col(s"c$side").cast(dec) * col("v"))
        .otherwise(lit(0).cast(dec))).as(s"__shi$side"),
      sum(when(col("v") > col(bh),
          col(s"c$side").cast(dec) * col("v") * col("v"))
        .otherwise(lit(0).cast(dec))).as(s"__qhi$side"),
      sum(when(col("v") > col(bh), col(s"c$side")).otherwise(0L))
        .as(s"__chi$side"))
    val keys = Seq("__na", "__nb", "__ga", "__gb", "__sa", "__sb",
      "__qa", "__qb", "__bla", "__bha", "__blb", "__bhb")
    val c2 = cum.crossJoin(broadcast(c1))
      .groupBy(keys.map(col): _*)
      .agg(corr("a", "__bla", "__bha", "__ga", "__na").head,
        (corr("a", "__bla", "__bha", "__ga", "__na").tail ++
          corr("b", "__blb", "__bhb", "__gb", "__nb")): _*)
    // exact per-arm trimmed sum / winsorized moments
    def arm(side: String, s: String, q: String, n: String, g: String,
        bl: String, bh: String) = {
      val exLo = (col(g) - col(s"__clo$side")).cast(dec) // ties at bl
      val exHi = (col(g) - col(s"__chi$side")).cast(dec) // ties at bh
      val st = col(s) - col(s"__slo$side") - exLo * col(bl) -
        col(s"__shi$side") - exHi * col(bh)
      val sw = st + col(g).cast(dec) * col(bl) +
        col(g).cast(dec) * col(bh)
      val qw = col(q) - col(s"__qlo$side") - exLo * col(bl) * col(bl) -
        col(s"__qhi$side") - exHi * col(bh) * col(bh) +
        col(g).cast(dec) * col(bl) * col(bl) +
        col(g).cast(dec) * col(bh) * col(bh)
      (st, sw, qw)
    }
    val (sta, swa, qwa) = arm("a", "__sa", "__qa", "__na", "__ga",
      "__bla", "__bha")
    val (stb, swb, qwb) = arm("b", "__sb", "__qb", "__nb", "__gb",
      "__blb", "__bhb")
    val ha = col("__na") - lit(2L) * col("__ga")
    val hb = col("__nb") - lit(2L) * col("__gb")
    val base = c2
      .withColumn("__ha", ha).withColumn("__hb", hb)
      .filter(col("__ha") >= 2L && col("__hb") >= 2L)
      .withColumn("__sta", sta).withColumn("__stb", stb)
      .withColumn("__da",
        (col("__na").cast(dec) * qwa - swa * swa).cast("double") /
          (col("__na").cast(dec) * col("__ha") * (col("__ha") - 1L))
            .cast("double"))
      .withColumn("__db",
        (col("__nb").cast(dec) * qwb - swb * swb).cast("double") /
          (col("__nb").cast(dec) * col("__hb") * (col("__hb") - 1L))
            .cast("double"))
      .filter(col("__da") + col("__db") > 0.0)
    val mta = col("__sta").cast("double") / col("__ha").cast("double")
    val mtb = col("__stb").cast("double") / col("__hb").cast("double")
    val t = (mta - mtb) / sqrt(col("__da") + col("__db"))
    val dfY = (col("__da") + col("__db")) * (col("__da") + col("__db")) /
      (col("__da") * col("__da") / (col("__ha").cast("double") - 1.0) +
        col("__db") * col("__db") / (col("__hb").cast("double") - 1.0))
    base.withColumn("__t", t)
      .select(col("__na").cast("bigint").as("n_1"),
        col("__nb").cast("bigint").as("n_2"),
        col("__ha").cast("bigint").as("h_1"),
        col("__hb").cast("bigint").as("h_2"),
        round(mta * 1e6).cast("long").as("mean_t1_micros"),
        round(mtb * 1e6).cast("long").as("mean_t2_micros"),
        round(col("__t") * 1e6).cast("long").as("t_micros"),
        round(dfY * 1e6).cast("long").as("df_micros"),
        round(Quality.pValueTwoSidedZ(col("__t")) * 1e6).cast("long")
          .as("p_micros"))
  }

  /** Two-sample Anderson–Darling statistic (Scholz–Stephens k=2,
    * right-continuous ECDF) — the TAIL-weighted member of the drift
    * trio: [[ksTest]] reads the single worst gap, [[cramerVonMises]]
    * integrates it uniformly, AD divides each squared gap by
    * `B(N−B)` so the same absolute gap counts ~N/4× more in the
    * tails — the right screen when what drifts is the p99, not the
    * median. For two samples the per-side terms coincide
    * (`N·M₂ − n_b·B = −(N·M₁ − n_a·B)`), so
    * `A² = Σ_j ℓ_j·D_j² / (B_j(N−B_j)) / (n_a·n_b)` over distinct
    * pooled values with `B_j < N`, `D_j = N·M₁ − n_a·B` — exactly
    * scipy's `anderson_ksamp(midrank=False)` at k=2. With
    * `N = n_a + n_b` and `B = cum_a + cum_b`, D is the KS/CvM gap
    * `cum_a·n_b − cum_b·n_a`, and it is computed as that.
    *
    * Exactness: D and the term numerators are exact DECIMAL
    * integers off [[cumCounts]]; each term is the pico-scaled
    * truncating division `(ℓ·D²·10¹²) div (B·(N−B))` — exact
    * integers, order-free sum, kept in DECIMAL by
    * [[Quality.decimalDivTrunc]] (a tail term's quotient alone can
    * pass a long) — and A² is one final truncating division by
    * `n_a·n_b·10⁶`, leaving micros. Inference uses the
    * Scholz–Stephens tables downstream — the raw statistic is the
    * deliverable, same stance as the drift battery. Degenerate
    * inputs (an empty side, or a single distinct pooled value — no
    * interior point exists) return empty. Returns one row
    * (n_a, n_b, a2_micros).
    *
    * Scale: identical to [[ksTest]] — one row-scale hash-agg, the
    * two-phase prefix sum, distinct-value-scale everything after;
    * DECIMAL(38) bounds `ℓ·D²·10¹² < 10³⁸` (the n⁵·10¹² posture —
    * a significance test's sample, not a corpus). */
  def andersonDarling(df: DataFrame, valueExpr: Column,
      tagExpr: Column, nBuckets: Int = 32): DataFrame = {
    val dec = "decimal(38,0)"
    sided(df, valueExpr, tagExpr, nBuckets)
      .filter(col("n_a") > 0L && col("n_b") > 0L)
      .withColumn("__nn", col("n_a") + col("n_b"))
      .withColumn("__b", col("cum_a") + col("cum_b"))
      .filter(col("__b") < col("__nn")) // the B = N term is excluded
      .withColumn("__d", cdfGap) // = cum_a·N − n_a·B
      .select(col("n_a"), col("n_b"),
        Quality.decimalDivTrunc(
          (col("ca") + col("cb")).cast(dec) * col("__d") * col("__d") *
            lit(1000000000000L),
          col("__b").cast(dec) * (col("__nn") - col("__b"))).as("__t"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("__t")).as("__s"))
      .select(col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        expr("CAST(__s div (CAST(n_a AS DECIMAL(38,0)) * n_b * 1000000)" +
          " AS BIGINT)").as("a2_micros"))
  }
}
