package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.regexp_extract_or_null

/** Data-quality operators (reference theme P2, README.md:18-147).
  *
  * The reference's flagship pipeline validates `hcpcs_code` against a
  * regex with Pig's NULL-on-miss semantics, keeps the failures, and
  * reports a count per invalid code (README.md:126-132). These
  * operators generalize that to any (column, pattern).
  *
  * Scale notes: validation is a pure row-local predicate — no shuffle;
  * the report is a hash aggregate on the (small) invalid subset with
  * map-side partial aggregation. Both survive 100 TB unchanged.
  */
object Quality {

  /** Adds `<col>_valid` = the extracted match or NULL (Pig semantics). */
  def validate(df: DataFrame, column: String, pattern: String): DataFrame =
    df.withColumn(s"${column}_valid",
      regexp_extract_or_null(col(column), pattern))

  /** Rows failing the pattern — the reference's `filter BY x is null`
    * (README.md:128). */
  def invalidRows(df: DataFrame, column: String, pattern: String): DataFrame =
    df.filter(regexp_extract_or_null(col(column), pattern).isNull)

  /** A declarative expectation: `name` labels the rule, `violation`
    * is a Column predicate that is TRUE on each row BREAKING the rule
    * (null-safe: author it so NULL evaluates true/false explicitly —
    * a raw `col < 5` is NULL on null input and would undercount).
    * `uniqueOn` marks a whole-column uniqueness rule; `refTable`
    * marks a referential-integrity rule against another table. */
  final case class Expectation(name: String, violation: Column,
      uniqueOn: Option[String] = None,
      refTable: Option[(String, DataFrame, String)] = None)

  object Expectation {
    def notNull(c: String): Expectation =
      Expectation(s"$c is not null", col(c).isNull)
    def between(c: String, lo: Any, hi: Any): Expectation =
      Expectation(s"$c between $lo and $hi",
        col(c).isNull || col(c) < lit(lo) || col(c) > lit(hi))
    def inSet(c: String, values: Seq[Any]): Expectation =
      Expectation(s"$c in {${values.mkString(",")}}",
        col(c).isNull || !col(c).isin(values: _*))
    def matches(c: String, pattern: String): Expectation =
      Expectation(s"$c matches $pattern",
        regexp_extract_or_null(col(c), pattern).isNull)
    def unique(c: String): Expectation =
      Expectation(s"$c is unique", lit(false), uniqueOn = Some(c))
    /** Referential integrity: every non-null `c` must exist in
      * `dim(dimKey)` — orphans are violations (NULL `c` is NOT a
      * violation here; pair with [[notNull]] when the FK is
      * mandatory). */
    def foreignKey(c: String, dimName: String, dim: DataFrame,
        dimKey: String): Expectation =
      Expectation(s"$c references $dimName.$dimKey", lit(false),
        refTable = Some((c, dim, dimKey)))
  }

  /** Great-Expectations-style suite run: every row-local rule is a
    * conditional-count aggregate, so the WHOLE suite costs one scan
    * of the table (one hash-agg with map-side partials; the per-rule
    * report rows come from a single explode of that 1-row aggregate,
    * not per-rule re-scans). [[Expectation.unique]] rules can't be
    * row-local; each adds a count-vs-distinct aggregate over its
    * column — one shuffle of that column only.
    * [[Expectation.foreignKey]] rules each add one LEFT-ANTI join
    * against their dim (broadcast while the dim's key column fits —
    * the usual case — so the fact side still never shuffles).
    * Nothing collects. Output: (rule, n_violations, passed) per
    * rule. */
  def expect(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "expect needs at least one rule")
    val (fkRules, rest) = rules.partition(_.refTable.isDefined)
    val (uniqueRules, rowRules) = rest.partition(_.uniqueOn.isDefined)
    val rowReport: Option[DataFrame] =
      if (rowRules.isEmpty) None
      else {
        // coalesce: sum() over an EMPTY table is NULL, not 0 — an empty
        // input must report 0 violations / passed=true, not NULL/NULL.
        val aggs = rowRules.zipWithIndex.map { case (r, i) =>
          coalesce(sum(when(r.violation, 1L).otherwise(0L)), lit(0L))
            .as(s"__v_$i")
        }
        val pairs = rowRules.zipWithIndex.map { case (r, i) =>
          struct(lit(r.name).as("rule"), col(s"__v_$i").as("n_violations"))
        }
        Some(df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(pairs: _*)).as("__kv"))
          .select(col("__kv.rule"), col("__kv.n_violations")))
      }
    val uniqueReports = uniqueRules.map { r =>
      val c = r.uniqueOn.get
      df.agg((count(col(c)) - count_distinct(col(c))).as("n_violations"))
        .select(lit(r.name).as("rule"), col("n_violations"))
    }
    val fkReports = fkRules.map { r =>
      val (c, dim, dimKey) = r.refTable.get
      df.filter(col(c).isNotNull)
        .join(dim.select(col(dimKey).as(c)), Seq(c), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(r.name).as("rule"), col("n_violations"))
    }
    (rowReport.toSeq ++ uniqueReports ++ fkReports)
      .reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** Count of invalid rows per distinct offending value — the
    * reference's invalid-code report (README.md:129-132). */
  def invalidCodeReport(df: DataFrame, column: String, pattern: String): DataFrame =
    invalidRows(df, column, pattern)
      .groupBy(col(column))
      .agg(count(lit(1)).as("n_invalid"))
      .orderBy(col(column))

  /** Two-sample distribution-drift report — the monitoring check that
    * catches a silently changed upstream (schema intact, values
    * shifted) before it poisons a model: bucket both samples with the
    * SAME fixed integer bucketing (bounds come from the reference
    * snapshot, never re-fit), then flag any bucket whose share moved
    * by more than `thresholdPpm` parts-per-million.
    *
    * The comparison is EXACT integer arithmetic end to end: bucket b
    * drifts iff |n_a·B − n_b·A| · 1,000,000 > thresholdPpm · A · B,
    * the [[shareGap]] of the two samples — no floating-point shares,
    * so an oracle replays every row AND every verdict value-for-value.
    * Cost: one narrow scan + one tiny hash-agg per sample, a
    * bucket-count-sized join, one broadcast of the two totals.
    * Returns (bucket, n_a, n_b, drifted) with empty buckets present
    * as zeros (a vanished bucket IS drift evidence, not a missing
    * row). NULL values land in a dedicated bucket -1 that feeds the
    * same verdict AND the totals — a sample whose column goes largely
    * NULL shifts every bucket's share and is flagged, instead of the
    * NULLs silently vanishing from the denominator. Bucketing is
    * [[bucketOf]]. */
  def driftReport(a: DataFrame, b: DataFrame, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int,
      thresholdPpm: Long = 50000L): DataFrame = {
    require(width > 0 && nBuckets > 0 && thresholdPpm > 0,
      "width, nBuckets, thresholdPpm must be positive")
    driftVerdict(bucketCounts(a, valueExpr, lo, width, nBuckets, "n_a"),
      bucketCounts(b, valueExpr, lo, width, nBuckets, "n_b"),
      nBuckets, thresholdPpm)
  }

  /** The fixed integer bucketing of [[driftReport]] as counts:
    * (bucket, `out`) with NULL values in bucket -1. Exposed so a
    * streaming monitor can ACCUMULATE counts per micro-batch and
    * reuse [[driftVerdict]] against a frozen reference — counts are
    * additive, raw values are not. */
  private[graft] def bucketCounts(df: DataFrame, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int, out: String): DataFrame =
    df.select(valueExpr.cast("long").as("__v"))
      .select(bucketOf("__v", lo, width, nBuckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(out))

  /** The fixed integer bucket of the LONG column `v`: `(v − lo) div
    * width` clamped to 0..nBuckets−1 (values below `lo` land in bucket
    * 0, values past the last bucket in the last), and a NULL value is
    * bucket -1. Long `div`, no double division, so values beyond 2⁵³
    * bucket exactly. */
  private[graft] def bucketOf(v: String, lo: Long, width: Long,
      nBuckets: Int): Column =
    expr(s"""CASE WHEN $v IS NULL THEN -1L
            |ELSE least(greatest(($v - ${lo}L) div ${width}L, 0L),
            |           ${nBuckets - 1}L) END""".stripMargin)

  /** The bucket grid `from..nBuckets-1` left-joined to two count
    * tables `ca` (bucket, n_a) and `cb` (bucket, n_b), zero-filled:
    * a bucket empty on one side is a row of evidence, not a missing
    * row. */
  private def pairedCounts(ca: DataFrame, cb: DataFrame, from: Long,
      nBuckets: Int): DataFrame =
    ca.sparkSession.range(from, nBuckets.toLong)
      .select(col("id").as("bucket"))
      .join(ca, Seq("bucket"), "left")
      .join(cb, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))

  /** `df` (with per-row counts `n_a`, `n_b`) crossed with its two
    * sample totals `__ta`, `__tb`, one broadcast 1-row aggregate. */
  private def withTotals(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(
      df.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))))

  /** The share gap of two samples, `n_a·T_b − n_b·T_a`: the exact
    * integer numerator of `n_a/T_a − n_b/T_b` (times `T_a·T_b`). Every
    * two-sample screen compares shares this way, cross-multiplied
    * instead of divided, so no floating-point share ever exists and an
    * oracle replays each comparison value for value. The products are
    * DECIMAL(38,0), so 10⁸-row samples cannot overflow where a long
    * product would. */
  private[graft] def shareGap(na: Column, nb: Column, ta: Column,
      tb: Column): Column =
    na.cast(Moments.Dec) * tb - nb.cast(Moments.Dec) * ta

  /** `x / (n_a·n_b)` as ONE IEEE division of exact integers, the step
    * that turns a summed or maximal [[shareGap]] into a distance. */
  private[graft] def perPair(x: Column, na: Column, nb: Column): Column =
    x.cast("double") / (na.cast(Moments.Dec) * nb).cast("double")

  /** [[driftReport]]'s verdict: |n_a·T_b − n_b·T_a| · 10⁶ >
    * thresholdPpm · T_a·T_b over the rows of [[withTotals]]. */
  private def drifted(thresholdPpm: Long): Column =
    (abs(shareGap(col("n_a"), col("n_b"), col("__ta"), col("__tb"))) *
      1000000L >
      lit(thresholdPpm).cast(Moments.Dec) * col("__ta") * col("__tb"))
      .as("drifted")

  /** Add-one smoothed comparison of two counts `na`, `nb` out of
    * totals `ta`, `tb` over `cells` cells (the smoothing mass, one per
    * cell): `(p_a − p_b, ln(p_a/p_b))` with `p = (n+1)/(T+cells)`.
    * Smoothing keeps an empty cell's log finite. The log's operand is
    * a ratio of exact DECIMAL products,
    * `(n_a+1)(T_b+cells) / ((n_b+1)(T_a+cells))`, so it is one IEEE
    * division an oracle mirrors. */
  private[graft] def smoothed(na: Column, nb: Column, ta: Column,
      tb: Column, cells: Int): (Column, Column) = {
    val (sa, sb) = ((na + 1L).cast("double") / (ta + cells).cast("double"),
      (nb + 1L).cast("double") / (tb + cells).cast("double"))
    (sa - sb, log(((na + 1L).cast(Moments.Dec) * (tb + cells))
      .cast("double") /
      ((nb + 1L).cast(Moments.Dec) * (ta + cells)).cast("double")))
  }

  /** A [[smoothed]] term `x` rounded to integer micro-units, except
    * that a cell empty in BOTH samples carries no evidence and gives
    * exactly 0: the smoothed formula would invent a phantom term from
    * unequal sample totals alone. */
  private[graft] def smoothedMicros(na: Column, nb: Column,
      x: Column): Column =
    when(na === 0L && nb === 0L, 0L)
      .otherwise(round(x * 1e6).cast("long"))

  /** [[driftReport]]'s verdict over PRE-BUCKETED counts: `ca` carries
    * (bucket, n_a), `cb` (bucket, n_b); the -1..nBuckets-1 grid,
    * zero-fill, and exact cross-multiplied comparison are identical
    * to the raw-value form. */
  private[graft] def driftVerdict(ca: DataFrame, cb: DataFrame,
      nBuckets: Int, thresholdPpm: Long): DataFrame =
    withTotals(pairedCounts(ca, cb, -1L, nBuckets))
      .select(col("bucket"), col("n_a"), col("n_b"), drifted(thresholdPpm))
      .orderBy(col("bucket"))

  /** Categorical twin of [[driftReport]]: per-VALUE share comparison
    * for a discrete column (language mix, source mix, label mix —
    * the composition checks an LLM-corpus pipeline watches between
    * snapshots). Keys are the union of values observed in either
    * sample, so a vanished or brand-new category materializes as a
    * (n, 0)/(0, n) row instead of silently disappearing; NULL is a
    * category like any other. Same exact integer verdict as the
    * numeric form. Returns (key, n_a, n_b, drifted) ordered by key. */
  def driftReportCategorical(a: DataFrame, b: DataFrame, keyExpr: Column,
      thresholdPpm: Long = 50000L): DataFrame = {
    require(thresholdPpm > 0, "thresholdPpm must be positive")
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(keyExpr.cast("string").as("key"))
        .groupBy("key").agg(count(lit(1)).as(out))
    // null-SAFE join: a USING("key") full join never matches NULL keys,
    // so a NULL category present in both samples would split into two
    // rows, each falsely flagged as vanished/appeared drift.
    val ca = counts(a, "n_a").alias("__ca")
    val cb = counts(b, "n_b").alias("__cb")
    withTotals(ca.join(cb, col("__ca.key") <=> col("__cb.key"), "full")
        .select(coalesce(col("__ca.key"), col("__cb.key")).as("key"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b")))
      .select(col("key"), col("n_a"), col("n_b"), drifted(thresholdPpm))
      .orderBy(col("key"))
  }

  /** Tukey-fence outlier tagging: per group (or globally with a
    * constant group column), flag values outside
    * [q1 - k*IQR, q3 + k*IQR]. The robust alternative to z-scores —
    * quartiles don't move when the outliers themselves get bigger.
    *
    * Scale: one aggregate per group (exact interpolated percentile;
    * swap `exact=false` for the sketch at extreme group sizes) and an
    * unhinted join back — broadcast while the group dimension is
    * small, sort-merge past the threshold, same posture as
    * [[Percentiles.bucketByJoin]]. The fact side never re-shuffles
    * on anything but the group key.
    *
    * Row-preserving: the join-back is LEFT, so rows whose group key
    * is NULL survive with `is_outlier` NULL (an inner join would
    * silently drop them — a tagging operator must not change the
    * row count). */
  def tagOutliers(df: DataFrame, groupCol: String, valueExpr: Column,
      k: Double = 1.5, exact: Boolean = true,
      accuracy: Int = 10000,
      maxExactGroupRows: Long = 10000000L): DataFrame = {
    val q = if (exact) "percentile(__v, array(0.25, 0.75))"
      else s"percentile_approx(__v, array(0.25, 0.75), $accuracy)"
    if (exact) Percentiles.guardExactGroups(df, groupCol,
      maxExactGroupRows, "tagOutliers quartiles")
    val withV = df.withColumn("__v", valueExpr)
    val fences = withV.groupBy(col(groupCol))
      .agg(expr(q).as("__q"))
      .select(col(groupCol),
        (col("__q").getItem(0) - (col("__q").getItem(1) - col("__q").getItem(0)) * k).as("__lo"),
        (col("__q").getItem(1) + (col("__q").getItem(1) - col("__q").getItem(0)) * k).as("__hi"))
    withV.join(fences, Seq(groupCol), "left")
      .withColumn("is_outlier", col("__v") < col("__lo") || col("__v") > col("__hi"))
      .drop("__lo", "__hi", "__v")
  }

  /** Median-impute NULLs per group: each NULL in `valueCol` becomes
    * its group's exact interpolated median (computed over the
    * non-null values). Median, not mean, deliberately: it is robust
    * to the outliers dirty data carries, and being an order statistic
    * it is engine-exact (a distributed mean of doubles depends on
    * summation order). Adds `<valueCol>_imputed` = the filled column
    * and `<valueCol>_was_null`.
    *
    * Scale: one per-group aggregate + an unhinted join-back, the
    * [[Percentiles.bucketByJoin]] posture. The exact median is a
    * TypedImperativeAggregate that BUFFERS every group value, so it
    * sits behind the same [[Percentiles.guardExactGroups]] pre-flight
    * as the percentile family (fail loudly past `maxExactGroupRows`
    * values per group); `exact = false` swaps in the bounded-memory
    * `percentile_approx` sketch — the 100 TB path, same operator
    * surface. */
  def imputeWithGroupMedian(df: DataFrame, groupCol: String,
      valueCol: String, exact: Boolean = true, accuracy: Int = 10000,
      maxExactGroupRows: Long = 10000000L): DataFrame = {
    if (exact) Percentiles.guardExactGroups(df, groupCol,
      maxExactGroupRows, "imputeWithGroupMedian median")
    val call = if (exact) s"percentile($valueCol, 0.5)"
      else s"percentile_approx($valueCol, 0.5, $accuracy)"
    // LEFT join-back: rows with a NULL group key keep their value
    // un-imputed instead of vanishing (row-count preservation is the
    // operator's contract).
    val med = df.groupBy(col(groupCol))
      .agg(expr(call).cast("double").as("__med"))
    df.join(med, Seq(groupCol), "left")
      .withColumn(s"${valueCol}_was_null", col(valueCol).isNull)
      .withColumn(s"${valueCol}_imputed",
        coalesce(col(valueCol).cast("double"), col("__med")))
      .drop("__med")
  }

  /** Equi-width histogram with a complete bin grid (empty bins
    * present with zero counts — a histogram with silent holes reads
    * as a different distribution). The bucket formula is explicit
    * IEEE arithmetic (`floor((v - lo) * bins / (hi - lo))`, top edge
    * closed) rather than an engine built-in, so any engine replays it
    * bit-exactly. Scale: one min/max pass (1-row broadcast), one
    * row-local bucket projection, one `bins`-row aggregate. */
  def equiWidthHistogram(df: DataFrame, valueExpr: Column,
      bins: Int): DataFrame = {
    require(bins > 0, s"bins must be > 0 (got $bins)")
    val mm = df.agg(min(valueExpr).cast("double").as("__lo"),
      max(valueExpr).cast("double").as("__hi"))
    val counts = df.crossJoin(broadcast(mm)) // 1-row min/max
      .withColumn("bin", when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((valueExpr.cast("double") - col("__lo")) * bins /
            (col("__hi") - col("__lo"))).cast("long"),
          lit(bins - 1L))))
      .filter(col("bin").isNotNull) // null values carry no bin
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    mm.select(col("__lo"), col("__hi"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        (col("__lo") + (col("__hi") - col("__lo")) * col("bin") / bins)
          .as("bin_lo"),
        (col("__lo") + (col("__hi") - col("__lo")) * (col("bin") + 1) / bins)
          .as("bin_hi"),
        coalesce(col("n"), lit(0L)).cast("bigint").as("n"))
  }

  /** Per-column profile: null count + empty-string count + distinct
    * count for the given columns. Generalizes the reference's ad-hoc
    * "there are some empty fields" checks (README.md:117,141). One
    * aggregate pass to a 1-row result. Distinct counts are exact
    * (`exactDistinct = true`, an Expand per column) — at 100 TB flip
    * to `approx_count_distinct` (HLL++, single pass, ~2% rse) via the
    * knob, same operator surface as the percentile family's
    * exact/approx twin. */
  def profile(df: DataFrame, columns: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    val aggs: Seq[Column] = columns.flatMap { c =>
      val isStr = df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType
      Seq(
        count(lit(1)).as(s"${c}_rows"),
        count(when(col(c).isNull, 1)).as(s"${c}_nulls")) ++
        (if (isStr) Seq(count(when(col(c) === "", 1)).as(s"${c}_empty"))
         else Seq.empty) :+
        (if (exactDistinct) count_distinct(col(c)).as(s"${c}_distinct")
         else approx_count_distinct(col(c)).as(s"${c}_distinct"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Population Stability Index — THE industry drift score (credit
    * scoring heritage; the scalar companion to [[driftReport]]'s
    * per-bucket verdicts): `PSI = Σ_b (p_b - q_b) · ln(p_b / q_b)`,
    * rule of thumb < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted.
    * Uses [[bucketCounts]]'s exact integer bucketing (NULLs in
    * bucket -1, same grid), with ADD-ONE smoothing on every bucket —
    * the standard fix for empty buckets, which otherwise send the log
    * to ±∞, and it makes the score a total function of the two
    * samples. Each bucket's contribution is quantized to integer
    * micro-units the way [[graft.llm.TextAnalysis.unigramNll]]
    * quantizes NLL: the log's operand is a ratio of exact integer
    * products, so an oracle replays contributions AND the sum
    * value-for-value. Returns (bucket, n_a, n_b, psi_micros) over
    * the full -1..nBuckets-1 grid; `SUM(psi_micros)` is the score.
    *
    * Scale: two narrow scans collapse to (nBuckets+1)-row count
    * tables; everything after is grid-sized. */
  def psiReport(a: DataFrame, b: DataFrame, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    val (na, nb) = (col("n_a"), col("n_b"))
    val (gap, lnRatio) = smoothed(na, nb, col("__ta"), col("__tb"),
      nBuckets + 1) // one smoothing count per grid cell
    withTotals(pairedCounts(
        bucketCounts(a, valueExpr, lo, width, nBuckets, "n_a"),
        bucketCounts(b, valueExpr, lo, width, nBuckets, "n_b"),
        -1L, nBuckets))
      .select(col("bucket"), na, nb,
        smoothedMicros(na, nb, gap * lnRatio).as("psi_micros"))
      .orderBy(col("bucket"))
  }

  /** Benford first-digit report — the classic forensic screen for
    * fabricated numeric data (Benford 1938; amounts spanning several
    * orders of magnitude follow P(d) = log10(1 + 1/d), and invented
    * figures famously don't): per leading digit 1-9 of the POSITIVE
    * values, observed count, exact ppm share, the Benford expectation
    * in ppm, and the absolute deviation. `SUM(dev_ppm)` is the
    * screen's statistic (twice the total-variation distance, in ppm).
    *
    * Exactness: the digit is string-extracted (no float log10 on the
    * data path), shares are integer `div` cross-multiplications, and
    * the expectation quantizes ln(1+1/d)/ln(10) to ppm — a constant
    * both engines compute identically. One narrow scan + a 9-row
    * aggregate. */
  def benfordReport(df: DataFrame, valueExpr: Column): DataFrame = {
    val v = valueExpr.cast("long")
    val digits = df.select(v.as("__v"))
      .filter(col("__v") > 0L)
      .select(substring(col("__v").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(1L, 10L)
      .select(col("id").cast("int").as("digit"))
    val total = digits.agg(sum(col("n")).as("__t"))
    grid.join(digits, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm",
        expr("CAST(n AS DECIMAL(38,0)) * 1000000 div __t").cast("long"))
      .withColumn("expected_ppm",
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * 1e6).cast("long"))
      .withColumn("dev_ppm", abs(col("share_ppm") - col("expected_ppm")))
      .select(col("digit"), col("n"), col("share_ppm"),
        col("expected_ppm"), col("dev_ppm"))
      .orderBy(col("digit"))
  }

  /** Binned Wasserstein-1 (earth-mover) distance between two samples
    * — the drift METRIC the PSI/KS pair lacks: PSI scores
    * log-likelihood surprise and KS the worst single gap, but neither
    * says "the distribution moved ~$12 to the right"; W1 does, in the
    * VALUE's own units. Over [[bucketCounts]]'s exact integer grid,
    * `W1 = width · Σ_b |CumA_b/n_a − CumB_b/n_b|` — the cumulative
    * difference is the exact integer `|CumA_b·n_b − CumB_b·n_a|`
    * summed in DECIMAL, then ONE IEEE division by n_a·n_b and the
    * width/micro scaling: no per-term rounding at all, the whole
    * statistic replays from integers. NULLs are excluded (no position
    * on the value axis ⇒ no transport cost; [[psiReport]] is the
    * screen that charges for NULL drift). Returns one row
    * (n_a, n_b, w1_micros) — micro-units OF THE VALUE COLUMN.
    * Grid-sized compute after two narrow scans. */
  def wassersteinBinned(a: DataFrame, b: DataFrame, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val ca = bucketCounts(a, valueExpr, lo, width, nBuckets, "n_a")
      .filter(col("bucket") >= 0L)
    val cb = bucketCounts(b, valueExpr, lo, width, nBuckets, "n_b")
      .filter(col("bucket") >= 0L)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTotals(pairedCounts(ca, cb, 0L, nBuckets)
        .withColumn("__cuma", sum(col("n_a")).over(w)) // nBuckets rows
        .withColumn("__cumb", sum(col("n_b")).over(w)))
      .select(abs(shareGap(col("__cuma"), col("__cumb"), col("__ta"),
        col("__tb"))).as("__d"), col("__ta"), col("__tb"))
      .groupBy(col("__ta"), col("__tb"))
      .agg(sum(col("__d")).as("__sd"))
      .filter(col("__ta") > 0L && col("__tb") > 0L)
      .select(col("__ta").cast("bigint").as("n_a"),
        col("__tb").cast("bigint").as("n_b"),
        round(perPair(col("__sd"), col("__ta"), col("__tb")) * width * 1e6)
          .cast("long").as("w1_micros"))
  }

  /** t-closeness audit — the privacy screen [[kAnonymity]] and
    * l-diversity stop short of: a QI group can be k-anonymous and
    * l-diverse while its SENSITIVE-value distribution still leaks
    * ("every 40-something in this zip earns top-bracket"); t-closeness
    * (Li, Li & Venkatasubramanian, ICDE'07) demands each group's
    * sensitive distribution sit within distance t of the GLOBAL one.
    * Distance is [[wassersteinBinned]]'s binned W1 in the value's own
    * units, computed for ALL groups in one pass: per-(group, bucket)
    * integer counts, per-group cumulative sums against the global
    * cumulative, `|cum_g·N − cum_global·n_g|` summed DECIMAL-exact,
    * ONE IEEE division per group. NULL sensitive values are excluded
    * (no position on the value axis ⇒ no transport cost — the
    * [[wassersteinBinned]] stance). Returns one row per group:
    * (group, n, w1_micros, breached = w1_micros > tMicros, tMicros in
    * value micro-units).
    *
    * Scale: one (group, bucket) hash-agg over the row scan, then
    * groups×buckets grid work (group-scale, never row-scale) with a
    * group-partitioned cumulative window; the global side is one
    * broadcast grid. */
  def tCloseness(df: DataFrame, groupCol: String, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int,
      tMicros: Long): DataFrame = {
    require(width > 0 && nBuckets > 0 && tMicros > 0,
      "width, nBuckets, tMicros must be positive")
    import org.apache.spark.sql.expressions.Window
    val b = df.select(col(groupCol).cast("string").as("__g"),
        valueExpr.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("__g"), bucketOf("__v", lo, width, nBuckets).as("bucket"))
      .groupBy(col("__g"), col("bucket")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(0L, nBuckets.toLong)
      .select(col("id").as("bucket"))
    val full = b.select("__g").distinct()
      .crossJoin(broadcast(grid)) // group-scale × grid
      .join(b, Seq("__g", "bucket"), "left")
      .select(col("__g"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wg = Window.partitionBy(col("__g")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = full.withColumn("__cum", sum(col("n")).over(wg))
    val glob = full.groupBy(col("bucket")).agg(sum(col("n")).as("gn"))
      .withColumn("__gcum", sum(col("gn")).over(
        Window.orderBy(col("bucket")).rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("__gcum"))
    val tot = full.agg(sum(col("n")).as("__N"))
    val ng = sum(col("n")).over(Window.partitionBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    cum.join(broadcast(glob), Seq("bucket"))
      .crossJoin(broadcast(tot))
      .select(col("__g"), col("__N"),
        abs(shareGap(col("__cum"), col("__gcum"), ng, col("__N"))).as("__d"),
        ng.as("__ng"))
      .groupBy(col("__g"), col("__ng"), col("__N"))
      .agg(sum(col("__d")).as("__sd"))
      .filter(col("__ng") > 0L && col("__N") > 0L)
      .select(col("__g").as(groupCol),
        col("__ng").cast("bigint").as("n"),
        round(perPair(col("__sd"), col("__ng"), col("__N")) * width * 1e6)
          .cast("long").as("w1_micros"))
      .withColumn("breached", col("w1_micros") > tMicros)
  }

  /** Exact per-group mode (most frequent value) with a deterministic
    * smallest-value tie-break — the categorical "typical value" the
    * profile/imputation family lacked (median covers numerics;
    * imputing a categorical needs the mode). Returns
    * (group, mode_value, n_mode).
    *
    * Scale: one (group, value) hash-agg then one group-keyed argmax
    * via a single `min(struct(-count, value))` aggregate — map-side
    * combinable, no per-group window sort, the [[Graph]] argmax
    * discipline. Struct ordering is field-by-field, so (-count asc,
    * value asc) = (count desc, value asc) exactly. NULL values are
    * excluded (a mode of NULL helps no imputation). */
  def modePerGroup(df: DataFrame, groupCol: String,
      valueExpr: Column): DataFrame = {
    val counts = df.select(col(groupCol), valueExpr.cast("string").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col(groupCol))
      .agg(min(struct((-col("__c")).as("nc"), col("__v").as("v"))).as("__m"))
      .select(col(groupCol), col("__m.v").as("mode_value"),
        (-col("__m.nc")).cast("bigint").as("n_mode"))
  }

  /** Winsorized mean per group — the robust location estimate that
    * keeps every row's vote but bounds each vote's leverage (clip to
    * the group's [pLo, pHi] rank bounds, then average): unlike a
    * trimmed mean it never discards rows, unlike a raw mean one fat
    * outlier cannot own it. INTEGRAL CONTRACT (the [[Features]]
    * discipline): `valueExpr` must be integral (cast to cents first)
    * — bounds are actual data values ([[winsorize]]'s rank-based
    * cut), the clipped sum is an exact integer, and the mean is ONE
    * IEEE division quantized to micros, so every row replays. Same
    * `maxExactGroupRows` guard + `exact` knob as the rest of the
    * order-statistic family. Returns
    * (group, n, lo, hi, mean_micros). */
  def winsorizedMean(df: DataFrame, groupCol: String, valueExpr: Column,
      pLo: Double = 0.05, pHi: Double = 0.95, exact: Boolean = true,
      accuracy: Int = 10000,
      maxExactGroupRows: Long = 10000000L): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    val withV = df.select(col(groupCol), valueExpr.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    if (exact) Percentiles.guardExactGroups(withV, groupCol,
      maxExactGroupRows, "winsorizedMean percentile_disc bounds")
    def q(p: Double) = if (exact)
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY __v)")
    else expr(s"percentile_approx(__v, $p, $accuracy)")
    val bounds = withV.groupBy(col(groupCol)).agg(
      q(pLo).cast("long").as("__lo"), q(pHi).cast("long").as("__hi"))
    withV.join(bounds, Seq(groupCol))
      .withColumn("__w", least(greatest(col("__v"), col("__lo")), col("__hi")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("bigint").as("n"),
        min(col("__lo")).cast("bigint").as("lo"),
        min(col("__hi")).cast("bigint").as("hi"),
        round(sum(col("__w")).cast("decimal(38,0)").cast("double") /
          count(lit(1)).cast("double") * 1e6).cast("long").as("mean_micros"))
  }

  /** k-anonymity profile of a quasi-identifier combination — the
    * privacy screen a training-data pipeline runs BEFORE release
    * (Sweeney 2002: a row is re-identifiable when its quasi-identifier
    * combination is rare; k-anonymity demands every combination cover
    * ≥ k rows). Returns the equivalence-CLASS-SIZE histogram — one row
    * per distinct class size with (class_size, n_classes, n_rows,
    * risky = size < k) — rather than the risky rows themselves
    * (publishing the rare combinations would BE the leak; the
    * histogram quantifies exposure without reproducing it).
    * `SUM(n_rows) WHERE risky` over the result is the re-identifiable
    * row count.
    *
    * Scale: one hash-agg to equivalence classes (the only row-scale
    * pass), one class-scale agg to the size histogram — output is
    * bounded by the number of DISTINCT sizes. NULL quasi-identifier
    * values form their own classes (a NULL combination is still a
    * fingerprint). */
  def kAnonymity(df: DataFrame, qiCols: Seq[String],
      k: Long = 10L): DataFrame = {
    require(qiCols.nonEmpty, "qiCols must be non-empty")
    require(k >= 2L, s"k must be >= 2 (got $k)")
    val classes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    classes.groupBy(col("__n").as("class_size"))
      .agg(count(lit(1)).cast("bigint").as("n_classes"),
        sum(col("__n")).cast("bigint").as("n_rows"))
      .withColumn("risky", col("class_size") < k)
      .select(col("class_size").cast("bigint").as("class_size"),
        col("n_classes"), col("n_rows"), col("risky"))
      .orderBy(col("class_size"))
  }

  /** Distinct l-diversity screen — [[kAnonymity]]'s necessary
    * companion (Machanavajjhala 2006): a 10 000-row equivalence class
    * is k-anonymous at any k, yet if every row shares ONE sensitive
    * value the attribute is fully disclosed anyway. Per
    * quasi-identifier class, count DISTINCT sensitive values; report
    * the diversity histogram — (diversity, n_classes, n_rows,
    * risky = diversity < l) — not the risky classes themselves (same
    * rationale as kAnonymity: publishing the rare combinations would
    * BE the leak).
    *
    * Scale: one row-scale hash-agg to (class, sensitive) pairs, one
    * class-scale agg, one diversity-scale histogram agg. NULL is a
    * disclosure-relevant sensitive value too: `countDistinct` skips
    * NULLs, so diversity adds an explicit has-null flag — an all-NULL
    * class reads diversity 1, not 0, with no sentinel string a real
    * value could collide with. */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveExpr: Column, l: Long = 3L): DataFrame = {
    require(qiCols.nonEmpty, "qiCols must be non-empty")
    require(l >= 2L, s"l must be >= 2 (got $l)")
    val classes = df
      .withColumn("__s", sensitiveExpr)
      .groupBy(qiCols.map(col): _*)
      .agg((countDistinct(col("__s")) +
        max(when(col("__s").isNull, 1L).otherwise(0L))).as("__div"),
        count(lit(1)).as("__n"))
    classes.groupBy(col("__div").as("diversity"))
      .agg(count(lit(1)).cast("bigint").as("n_classes"),
        sum(col("__n")).cast("bigint").as("n_rows"))
      .withColumn("risky", col("diversity") < l)
      .select(col("diversity").cast("bigint").as("diversity"),
        col("n_classes"), col("n_rows"), col("risky"))
      .orderBy(col("diversity"))
  }

  /** Two-sided normal p-value for a z statistic, as a Column tree —
    * `p = erfc(|z|/√2)` via the Abramowitz–Stegun 7.1.26 polynomial
    * (|error| < 1.5·10⁻⁷, far below the micro-quantization edge):
    * the missing tail of the z/t battery (the tests report
    * `z_micros`; multiple-testing control needs p). The tree is pure
    * arithmetic + one `exp` — an oracle mirrors it token-for-token
    * and reproduces every double bit-for-bit on identical inputs
    * (the feat_target_encode convention); no special-function
    * library exists in either engine, so the SHARED polynomial IS
    * the contract. */
  def pValueTwoSidedZ(z: Column): Column = {
    val x = abs(z) / lit(1.4142135623730951)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    poly * exp(-(x * x))
  }

  /** Upper-tail normal probability `P(Z ≥ z)`, read off the
    * [[pValueTwoSidedZ]] polynomial: half the two-sided p for z ≥ 0,
    * its complement below. */
  def upperTailZ(z: Column): Column = {
    val p2 = pValueTwoSidedZ(z)
    when(z >= 0.0, p2 / 2.0).otherwise(lit(1.0) - p2 / 2.0)
  }

  /** Wilson–Hilferty (1931) normal approximation of a χ² statistic on
    * `d` degrees of freedom, given `u = χ²/d`:
    * `z = (∛u − (1 − 2/(9d))) / √(2/(9d))`, the cube root as
    * `exp(ln u / 3)` — the mirrored tree an oracle replays bit for
    * bit. Pair it with [[upperTailZ]] for the χ² upper-tail p. */
  def wilsonHilfertyZ(u: Column, d: Column): Column =
    (exp(log(u) / lit(3.0)) - (lit(1.0) - lit(2.0) / (lit(9.0) * d))) /
      sqrt(lit(2.0) / (lit(9.0) * d))

  /** Truncating integer division that STAYS in DECIMAL(38,0) — the
    * safe form of SQL `div` for big integer statistics. Spark's
    * `div` (IntegralDivide) returns LONG and silently WRAPS when the
    * true quotient exceeds 2⁶³−1, even on DECIMAL operands and even
    * under ANSI (verified on 4.1.2: `(2·10²¹·1000) div 2` returns a
    * negative long) — a statistic built on it is silently wrong the
    * day the data grows. Here the quotient is computed exactly:
    * `(a − pmod(a, b)) / b` has a zero remainder by construction, so
    * the decimal divide is exact. CAPACITY: the divide lands in
    * DECIMAL(38,6), so the quotient must fit 32 integral digits —
    * 10¹³ times a long's range; quotients beyond that fail LOUDLY
    * under ANSI (verified: 10³⁵/3 raises NUMERIC_VALUE_OUT_OF_RANGE)
    * where `div` would have wrapped silently.
    *
    * Contract: `a` must be NON-NEGATIVE (pmod makes this FLOOR
    * division; floor == truncate — the DuckDB `//` semantics — only
    * for a ≥ 0, which every caller's numerator is by construction).
    * NULL-safe: a NULL divisor yields NULL, as `div` would. */
  private[graft] def decimalDivTrunc(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  /** Benjamini–Hochberg FDR control over a battery of test results —
    * the multiple-testing step every metric sweep needs (20 metrics
    * at α=0.05 expect one false positive; BH caps the EXPECTED SHARE
    * of false discoveries at α while keeping far more power than
    * Bonferroni): sort the m p-values, find the LARGEST rank i with
    * `p₍ᵢ₎ ≤ (i/m)·α`, reject every hypothesis at or below it —
    * including earlier ranks that individually failed (the step-up
    * property). Returns one row per metric: (metric, p_micros, rank,
    * bh_cut_micros = i·α div m, rejected).
    *
    * Exactness: every rejection decision is the cross-multiplied
    * INTEGER comparison `p_micros·m ≤ i·α_micros` — no division, no
    * doubles, so the verdict set is a pure function of the integer
    * p-values; (p, metric) ordering makes ranks total.
    *
    * Scale: a p-value battery is METRIC-scale (tens to thousands of
    * rows — the row-scale work happened in the tests that produced
    * it), so the single-partition rank window is the right plan, not
    * a compromise; the guard fails loudly past `maxMetrics`. */
  def bhFdr(df: DataFrame, metricCol: String, pMicrosExpr: Column,
      alphaMicros: Long = 50000L, maxMetrics: Long = 1000000L): DataFrame = {
    require(alphaMicros > 0L && alphaMicros <= 1000000L,
      s"alphaMicros must be in (0, 1e6] (got $alphaMicros)")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(metricCol).cast("string").as("metric"),
        pMicrosExpr.cast("long").as("p_micros"))
      .filter(col("metric").isNotNull && col("p_micros").isNotNull)
    val tot = base.agg(count(lit(1)).as("__m"))
    val nm = tot.head().getLong(0)
    require(nm <= maxMetrics,
      s"battery holds $nm metrics (cap $maxMetrics) — a table this " +
        "large is row-scale data, not a test battery; aggregate first")
    val w = Window.orderBy(col("p_micros"), col("metric"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base.crossJoin(broadcast(tot)) // 1-row battery size
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__q",
        when(col("p_micros") * col("__m") <= col("rank") * alphaMicros,
          col("rank")).otherwise(0L))
      .withColumn("__mq", max(col("__q")).over(all))
      .select(col("metric"), col("p_micros"), col("rank"),
        expr(s"rank * $alphaMicros div __m").as("bh_cut_micros"),
        (col("rank") <= col("__mq")).as("rejected"))
  }

  /** Functional-dependency violation profiler — the data-profiling
    * primitive behind key discovery and constraint validation: for a
    * CANDIDATE dependency `determinant → dependent`, return every
    * determinant group whose dependent takes MORE than one value
    * (the witnesses that the FD does not hold), with the group's row
    * count and its distinct-dependent count. An empty result IS the
    * proof the dependency holds on this corpus — the natural
    * pre-flight before declaring a primary key, building a dimension
    * table, or trusting a join to be 1:1.
    *
    * NULL dependents are disclosure-relevant values like any other:
    * `countDistinct` skips NULLs, so the count adds an explicit
    * has-null flag (the [[lDiversity]] convention) — a group with one
    * real value plus NULLs reads 2 distinct, a violation.
    *
    * Scale: ONE row-scale hash-agg per candidate (map-side partial
    * dedup of (determinant, dependent) pairs, then the group agg);
    * output is violating-group-scale. Nothing collects; profiling k
    * candidate FDs is k independent aggs a caller can union. */
  def fdViolations(df: DataFrame, determinant: Seq[String],
      dependentExpr: Column): DataFrame = {
    require(determinant.nonEmpty, "determinant must be non-empty")
    df.withColumn("__y", dependentExpr)
      .groupBy(determinant.map(col): _*)
      .agg((countDistinct(col("__y")) +
        max(when(col("__y").isNull, 1L).otherwise(0L)))
        .as("n_distinct_dep"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_distinct_dep") > 1L)
      .select(determinant.map(col) ++ Seq(
        col("n_rows").cast("bigint").as("n_rows"),
        col("n_distinct_dep").cast("bigint").as("n_distinct_dep")): _*)
  }

  /** Referential-integrity orphan census for one FK relation — the
    * companion to [[fdViolations]] on the OTHER side of a join: how
    * many child rows (and distinct keys) reference a parent that
    * does not exist. An inner join silently DROPS those rows and a
    * left join NULL-fills them — either way a metric moves with no
    * error anywhere, so the orphan count is the pre-flight any
    * pipeline join deserves. NULL child keys follow SQL FK
    * semantics: a NULL reference is not an orphan (it references
    * nothing) and is reported separately as `n_null_rows`.
    *
    * Scale: parent keys reduce by one hash-agg (distinct) before the
    * join, so the probe side is key-scale — broadcast when it fits,
    * SMJ otherwise (unhinted; AQE decides); the child is read ONCE
    * (null / matched / orphan all counted from the single left
    * join). Exact integer counts; ppm over non-null child rows by
    * one truncating division. Returns one row per call — profile k
    * relations by unioning k calls. */
  def referentialOrphans(child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column,
      relation: String): DataFrame = {
    val c = child.select(childKey.cast("long").as("__k"))
    val p = parent.select(parentKey.cast("long").as("__pk"))
      .filter(col("__pk").isNotNull).distinct()
    c.join(p, col("__k") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_rows"),
        sum(when(col("__k").isNotNull && col("__pk").isNull, 1L)
          .otherwise(0L)).as("n_orphan_rows"),
        countDistinct(when(col("__k").isNotNull && col("__pk").isNull,
          col("__k"))).as("n_orphan_keys"))
      .select(lit(relation).as("relation"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("n_null_rows").cast("bigint").as("n_null_rows"),
        col("n_orphan_rows").cast("bigint").as("n_orphan_rows"),
        col("n_orphan_keys").cast("bigint").as("n_orphan_keys"),
        expr("CAST(n_orphan_rows AS DECIMAL(38,0)) * 1000000 " +
          "div nullif(n_rows - n_null_rows, 0)").cast("bigint")
          .as("orphan_ppm"))
  }

  /** Pearson chi-square association screen for two CATEGORICAL
    * columns — the categorical✕categorical member of the screening
    * family (WOE/IV covers numeric✕binary, PSI covers
    * sample✕sample): per cell of the complete x✕y grid (zero cells
    * included — their deficit IS evidence), the observed count and
    * the chi-square contribution
    * `(n·N − r·c)² / (N·r·c)` in integer micro-units;
    * `SUM(chi2_micros)` is the statistic (compare to the χ²
    * distribution with (|x|−1)(|y|−1) dof downstream).
    *
    * Exactness: `d = n·N − r·c` is DECIMAL(38,0)-exact; the cell
    * contribution is the IEEE tree `(d/N) · (d/(r·c)) · 10⁶` — two
    * divisions of exact integers, deliberately NOT `d²/(N·r·c)`
    * (d² overflows any fixed decimal at petabyte row counts; the
    * split form never squares an integer) — mirrored token-for-token
    * by the oracle. NULL categories are excluded (screen what's
    * present; [[profile]] counts the NULLs).
    *
    * Scale: SIDE-EFFECTING (not a pure plan builder) — the row-scale
    * hash-agg to cells runs ONCE, persisted; the guard counts, N, the
    * two category-scale margins and the GUARDED category✕category
    * cross (fails loudly past `maxCategories` per side — a 10⁶✕10⁶
    * grid is a different problem) all read the cached cells, and the
    * grid-scale report is localCheckpointed — materialized ON THE
    * EXECUTORS, lineage truncated so the cells cache releases safely —
    * never collected to the driver (a 10⁶-cell grid belongs on the
    * cluster; [[cramersV]] aggregates it distributed). Nothing stays
    * pinned in storage memory after the screen beyond the
    * checkpointed grid itself. */
  def chiSquare(df: DataFrame, xExpr: Column, yExpr: Column,
      maxCategories: Int = 1000): DataFrame = {
    val (cells, xs, ys) = contingency(df, xExpr, yExpr)(_.persist())
    try {
      // one action over the cached cells yields both guard counts AND N
      val head = cells.agg(countDistinct(col("x")).as("__nx"),
        countDistinct(col("y")).as("__ny"),
        coalesce(sum(col("n")), lit(0L)).as("__nn")).head()
      val (nx, ny, nn) = (head.getLong(0), head.getLong(1), head.getLong(2))
      require(nx <= maxCategories && ny <= maxCategories,
        s"chi-square grid would be $nx x $ny cells (cap $maxCategories " +
          "per side) — bucket the high-cardinality column first or raise " +
          "maxCategories if the cost is understood")
      val d = Moments.centered(lit(nn), col("n"),
        col("__r").cast(Moments.Dec), col("__c"))
      val report = xs.crossJoin(broadcast(ys)) // guarded category grid
        .join(cells, Seq("x", "y"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)).cast("bigint"))
        .withColumn("chi2_micros",
          round((d.cast("double") / lit(nn).cast("double")) *
            (d.cast("double") /
              (col("__r").cast("decimal(38,0)") * col("__c")).cast("double"))
            * 1e6).cast("long"))
        .select(col("x"), col("y"), col("n"), col("chi2_micros"))
      // materialize distributed + truncate lineage, so the finally
      // block's unpersist can't trigger a cells recompute downstream
      report.localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** Mutual information between two categorical columns in exact
    * integer micro-nats — the information-theoretic member of the
    * screening family (χ²/V test association; MI MEASURES it in nats,
    * additive across independent features, the quantity feature
    * selection actually ranks by): MI = Σ (n/N)·ln(n·N/(r·c)) over
    * OBSERVED cells — zero cells contribute exactly 0, so no complete
    * grid and no category cap is needed; the cell table IS the cost
    * bound.
    *
    * Exactness: per-cell pmi quantizes to micro-nats (round, the
    * collocations convention), the weighted sum Σ n·pmi is
    * DECIMAL-exact, and ONE final floor-div by N yields `mi_micros`
    * (clamped at 0 first: MI ≥ 0 mathematically, but per-cell
    * rounding can leave the integer sum a few micros negative — a
    * clamp both engines apply identically, not a silent fixup).
    * Returns one row: (n_cells, n_rows, mi_micros).
    *
    * Scale: one row-scale hash-agg to cells (materialized once —
    * margins, total and the weighted sum all read it), two
    * category-scale margin joins, a 1-row broadcast total. */
  def mutualInformation(df: DataFrame, xExpr: Column,
      yExpr: Column): DataFrame = {
    val (cells, xs, ys) =
      contingency(df, xExpr, yExpr)(_.localCheckpoint(true))
    val total = cells.agg(sum(col("n")).as("__nn"))
    cells.join(xs, "x").join(ys, "y")
      .crossJoin(broadcast(total)) // 1-row N
      .withColumn("__pmi",
        pmiMicros(col("n"), col("__nn"), col("__r"), col("__c")))
      .agg(count(lit(1)).cast("bigint").as("n_cells"),
        sum(col("n")).cast("bigint").as("n_rows"),
        expr("""CAST(greatest(sum(CAST(n AS DECIMAL(38,0)) * __pmi),
            CAST(0 AS DECIMAL(38,0))) div first(__nn) AS BIGINT)""")
          .as("mi_micros"))
  }

  /** The contingency table of two categoricals: the (x, y) cell
    * counts `n` over rows where both are non-NULL, as strings, with
    * `pin` applied once (the caller's cache or checkpoint lifecycle),
    * and the row and column margins `__r` (per x) and `__c` (per y)
    * read off the pinned cells. */
  private def contingency(df: DataFrame, xExpr: Column, yExpr: Column)(
      pin: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cells = pin(df.select(xExpr.cast("string").as("x"),
        yExpr.cast("string").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n")))
    (cells, cells.groupBy(col("x")).agg(sum(col("n")).as("__r")),
      cells.groupBy(col("y")).agg(sum(col("n")).as("__c")))
  }

  /** Pointwise mutual information of a cell in integer micro-nats,
    * `round(ln(n·N / (r·c)) · 10⁶)` for cell count n, total N and
    * margins r, c. Both products are DECIMAL(38,0) before the one
    * division: a long `n·N` wraps at corpus scale. */
  private[graft] def pmiMicros(n: Column, nn: Column, r: Column,
      c: Column): Column =
    round(log((n.cast(Moments.Dec) * nn).cast("double") /
      (r.cast(Moments.Dec) * c).cast("double")) * 1e6).cast("long")

  /** Schema inference report over STRING columns — the first thing an
    * ingest of schemaless CSV/JSON needs: per column, how many
    * non-null values parse as integer / decimal / currency, and the
    * inferred type when a candidate covers EVERY value (anything
    * mixed stays `string` — a 99%-int column is a data-quality
    * finding, not an int). One scan total: every per-column
    * conditional count lives in a single aggregate row (the
    * [[expect]] one-pass discipline), exploded to (column, n_values,
    * n_int, n_decimal, n_money, inferred) rows afterwards. The
    * regexes are anchored RE2-safe classes that Java and DuckDB
    * evaluate identically. */
  def inferTypes(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "inferTypes needs at least one column")
    val intRe = "^[+-]?[0-9]+$"
    val decRe = "^[+-]?[0-9]*\\.[0-9]+$"
    val moneyRe = "^\\$[0-9]+(\\.[0-9]+)?$"
    def cnt(c: String, re: String) =
      coalesce(sum(when(col(c).rlike(re), 1L).otherwise(0L)), lit(0L))
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      coalesce(sum(when(col(c).isNotNull, 1L).otherwise(0L)), lit(0L))
        .as(s"__n_$i"),
      cnt(c, intRe).as(s"__i_$i"),
      cnt(c, decRe).as(s"__d_$i"),
      cnt(c, moneyRe).as(s"__m_$i"))
    }
    val pairs = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col(s"__n_$i").as("n_values"),
        col(s"__i_$i").as("n_int"), col(s"__d_$i").as("n_decimal"),
        col(s"__m_$i").as("n_money"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs: _*)).as("__kv"))
      .select(col("__kv.column"), col("__kv.n_values"), col("__kv.n_int"),
        col("__kv.n_decimal"), col("__kv.n_money"))
      .withColumn("inferred",
        when(col("n_values") === 0L, "empty")
          .when(col("n_int") === col("n_values"), "int")
          .when(col("n_int") + col("n_decimal") === col("n_values"),
            "decimal")
          .when(col("n_money") === col("n_values"), "money")
          .otherwise("string"))
  }

  /** Pairwise Pearson correlation matrix of k integer-valued columns
    * in ONE scan — the multicollinearity screen before feature
    * selection (k separate `corr` calls re-read the table k²/2
    * times): a single aggregate computes every sum, square-sum and
    * cross-sum as DECIMAL(38,0)-exact integers ([[Moments.sums]]);
    * the one-row result unpivots to the k(k−1)/2 pairs, each the
    * [[Moments.pearsonMicros]] tree of exact integers the
    * assortativity/regression family already replays. No job runs
    * while the DataFrame is built. Returns (col_a, col_b,
    * corr_micros), input order, zero-variance pairs NULL. `cols` are
    * (name, integer-castable expr) pairs — quantize doubles to
    * cents/bp upstream, the house rule. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      s"corrMatrix takes 2..8 columns (got ${cols.size}) — a wide " +
        "matrix is a different scan-cost problem; batch it")
    val k = cols.size
    val x = (0 until k).map(i => col(s"__x$i"))
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
    val aggs = Moments.sums("__n", (0 until k).map(i => s"__s$i" -> x(i)),
      (0 until k).map(i => (s"__q$i", x(i), x(i))) ++
        pairs.map { case (i, j) => (s"__p${i}_$j", x(i), x(j)) })
    val n = col("__n")
    def s(i: Int) = col(s"__s$i")
    def q(i: Int) = col(s"__q$i")
    def cxx(i: Int) = Moments.centered(n, q(i), s(i), s(i))
    df.select(cols.zipWithIndex.map { case ((_, c), i) =>
        c.cast("long").as(s"__x$i") }: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (i, j) =>
        struct(lit(cols(i)._1).as("col_a"), lit(cols(j)._1).as("col_b"),
          when(cxx(i) > 0 && cxx(j) > 0,
            Moments.pearsonMicros(n, col(s"__p${i}_$j"), s(i), s(j),
              q(i), q(j))).as("corr_micros"))
      }: _*)).as("__pair"))
      .select(col("__pair.*"))
  }

  /** Jensen-Shannon divergence between two samples over the fixed
    * integer bucketing of [[driftReport]] — the drift score that is
    * SYMMETRIC and BOUNDED (∈ [0, ln 2]) where PSI is neither, and
    * finite even when a bucket empties on one side only (the mixture
    * denominator never vanishes — no add-one smoothing needed, unlike
    * [[psiReport]]). One summary row: (n_a_total, n_b_total,
    * js_micros); NULLs ride the same -1 bucket as the rest of the
    * drift family.
    *
    * Exactness: per bucket the ratio p/m = 2·n_a·B / (n_a·B + n_b·A)
    * is a ratio of DECIMAL-exact integers; its log micro-rounds per
    * term, weights are integer counts, and each KL component is one
    * clamped truncating division (KL ≥ 0 mathematically; the clamp
    * absorbs rounding, applied identically by the oracle). Empty
    * samples yield NULL, not a division phantom. */
  def jsDivergence(a: DataFrame, b: DataFrame, valueExpr: Column,
      lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    // the tOther > 0 guard also keeps ANSI mode from raising on the
    // 0.0/0.0 an empty opposite sample would produce (js is NULL then)
    def term(n: String, other: String, tSelf: String, tOther: String) =
      when(col(n) > 0 && col(tOther) > 0,
        col(n).cast("decimal(38,0)") *
          round(log((lit(2).cast("decimal(38,0)") * col(n) * col(tOther))
              .cast("double") /
            (col(n).cast("decimal(38,0)") * col(tOther) +
              col(other).cast("decimal(38,0)") * col(tSelf)).cast("double"))
            * 1e6).cast("long"))
        .otherwise(lit(0).cast("decimal(38,0)"))
    withTotals(pairedCounts(
        bucketCounts(a, valueExpr, lo, width, nBuckets, "n_a"),
        bucketCounts(b, valueExpr, lo, width, nBuckets, "n_b"),
        -1L, nBuckets))
      .withColumn("__termA", term("n_a", "n_b", "__ta", "__tb"))
      .withColumn("__termB", term("n_b", "n_a", "__tb", "__ta"))
      .agg(first(col("__ta")).cast("bigint").as("n_a_total"),
        first(col("__tb")).cast("bigint").as("n_b_total"),
        // nullif, not only the CASE guard: ANSI `div` raises on a
        // zero divisor even inside an untaken branch
        expr("""CASE WHEN first(__ta) = 0 OR first(__tb) = 0 THEN NULL
          |ELSE CAST(
          |  greatest(sum(__termA), CAST(0 AS DECIMAL(38,0)))
          |    div (2 * nullif(first(__ta), 0))
          |  + greatest(sum(__termB), CAST(0 AS DECIMAL(38,0)))
          |    div (2 * nullif(first(__tb), 0)) AS BIGINT) END""".stripMargin)
          .as("js_micros"))
  }

  /** Cramér's V effect size on top of [[chiSquare]] — the number the
    * χ² statistic itself refuses to be: χ² grows linearly with N (at
    * petabyte row counts EVERYTHING is "significant"), while
    * V = √(χ² / (N·min(r−1, c−1))) ∈ [0, 1] measures how STRONGLY the
    * two categoricals associate, comparable across tables and sample
    * sizes. One summary row: (n_x, n_y, n_rows, chi2_micros,
    * v_micros); a single-category side has no association to measure —
    * v_micros is NULL, never a division phantom.
    *
    * Same cost and lifecycle as the chi-square screen it aggregates
    * (the grid report is local, guard-bounded); `sqrt` on the one
    * final double agrees between engines on identical inputs, and
    * everything under it is the already-replayable integer grid. */
  def cramersV(df: DataFrame, xExpr: Column, yExpr: Column,
      maxCategories: Int = 1000): DataFrame = {
    chiSquare(df, xExpr, yExpr, maxCategories)
      .agg(countDistinct(col("x")).cast("bigint").as("n_x"),
        countDistinct(col("y")).cast("bigint").as("n_y"),
        sum(col("n")).cast("bigint").as("n_rows"),
        sum(col("chi2_micros")).cast("bigint").as("chi2_micros"))
      .withColumn("v_micros",
        when(least(col("n_x"), col("n_y")) <= 1L || col("n_rows") === 0L,
          lit(null).cast("long"))
          .otherwise(round(sqrt((col("chi2_micros").cast("double") / 1e6) /
            (col("n_rows").cast("double") *
              (least(col("n_x"), col("n_y")) - 1L).cast("double")))
            * 1e6).cast("long")))
  }

  /** Weight-of-Evidence / Information-Value report — the
    * credit-scoring feature screen (WOE bins a numeric feature
    * against a binary outcome; IV = Σ (good% - bad%)·WOE ranks the
    * feature's separating power, rule of thumb IV > 0.3 strong,
    * < 0.02 useless). Same machinery as [[psiReport]] — WOE is PSI's
    * log term with (good, bad) as the two samples — so the same
    * exactness argument holds: [[bucketCounts]] integer bucketing
    * (NULLs in bucket -1), add-one smoothing keeps empty bins finite,
    * and both WOE and the IV contribution quantize to integer
    * micro-nats an oracle replays value-for-value. Returns
    * (bucket, n_good, n_bad, woe_micros, iv_micros); `SUM(iv_micros)`
    * is the feature's IV. */
  def woeReport(df: DataFrame, valueExpr: Column, badExpr: Column,
      lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    val (ng, nb) = (col("n_a"), col("n_b")) // good, bad
    val (gap, lnRatio) = smoothed(ng, nb, col("__ta"), col("__tb"),
      nBuckets + 1)
    withTotals(pairedCounts(
        bucketCounts(df.filter(!badExpr), valueExpr, lo, width, nBuckets,
          "n_a"),
        bucketCounts(df.filter(badExpr), valueExpr, lo, width, nBuckets,
          "n_b"),
        -1L, nBuckets))
      .withColumn("__lnr", lnRatio)
      .select(col("bucket"), ng.as("n_good"), nb.as("n_bad"),
        smoothedMicros(ng, nb, col("__lnr")).as("woe_micros"),
        smoothedMicros(ng, nb, gap * col("__lnr")).as("iv_micros"))
      .orderBy(col("bucket"))
  }

  /** Winsorization: clip each value into its group's
    * [pLo, pHi]-quantile range — the standard long-tail tamer for
    * features and metrics (an aggregate over raw heavy-tailed data is
    * one fat outlier's hostage; clipping at the 5th/95th keeps the row
    * and bounds its influence). RANK-BASED bounds (`percentile_disc` —
    * the smallest value whose cumulative distribution reaches p):
    * bounds are ACTUAL data values, no interpolation arithmetic, so
    * clipped output is bit-exact on any engine. Adds
    * `<valueCol>_wins` (clipped value) and `<valueCol>_clipped`
    * (flag, false for NULL values which pass through untouched).
    * Row-preserving, NULL group keys keep their rows.
    *
    * Scale: one per-group order-statistic aggregate + the unhinted
    * broadcast join-back ([[tagOutliers]] posture). Exact
    * `percentile_disc` buffers every group value, so it sits behind
    * the [[Percentiles.guardExactGroups]] pre-flight; `exact = false`
    * swaps in `percentile_approx` — which also returns ACTUAL data
    * values (within ±1/accuracy rank error), preserving the
    * no-interpolation contract on the bounded path. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95, exact: Boolean = true,
      accuracy: Int = 10000,
      maxExactGroupRows: Long = 10000000L): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    if (exact) Percentiles.guardExactGroups(df, groupCol,
      maxExactGroupRows, "winsorize percentile_disc bounds")
    def q(p: Double) = if (exact)
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $valueCol)")
    else expr(s"percentile_approx($valueCol, $p, $accuracy)")
    val bounds = df.groupBy(col(groupCol)).agg(
      q(pLo).as("__lo"), q(pHi).as("__hi"))
    df.join(bounds, Seq(groupCol), "left")
      // explicit NULL pass-through: least/greatest SKIP null operands
      // (a NULL value would silently clip to the lower bound)
      .withColumn(s"${valueCol}_wins",
        when(col(valueCol).isNull, lit(null))
          .otherwise(least(greatest(col(valueCol), col("__lo")),
            col("__hi"))))
      .withColumn(s"${valueCol}_clipped",
        coalesce(col(valueCol) < col("__lo") ||
          col(valueCol) > col("__hi"), lit(false)))
      .drop("__lo", "__hi")
  }

  /** Robust outlier tagging by median/MAD — the heavy-tail-safe twin
    * of [[tagOutliers]]'s Tukey fences (a fat tail inflates the IQR
    * and hides its own outliers; the median absolute deviation
    * doesn't): flag rows where `|v - median| > k · 1.4826 · MAD`
    * (1.4826 ≈ 1/Φ⁻¹(3/4) scales MAD to σ under normality — the
    * standard consistency constant). Zero-MAD groups (over half the
    * values identical) abstain rather than flagging everything not
    * equal to the median. Row-preserving; adds group median, mad,
    * is_outlier.
    *
    * Same scale shape as [[tagOutliers]]: two chained per-group exact
    * percentile aggregates (median, then median of residuals) + an
    * unhinted broadcast join-back. Both medians are order statistics
    * — engine-exact, so the flags replay. Both exact medians buffer
    * every group value, so one [[Percentiles.guardExactGroups]]
    * pre-flight covers them (same groups both passes); `exact = false`
    * swaps both for the bounded `percentile_approx` sketch. */
  def tagOutliersMad(df: DataFrame, groupCol: String, valueExpr: Column,
      k: Double = 3.5, exact: Boolean = true, accuracy: Int = 10000,
      maxExactGroupRows: Long = 10000000L): DataFrame = {
    require(k > 0, s"k must be > 0 (got $k)")
    if (exact) Percentiles.guardExactGroups(df, groupCol,
      maxExactGroupRows, "tagOutliersMad median/MAD")
    def q(c: String) = if (exact) s"percentile($c, 0.5)"
      else s"percentile_approx($c, 0.5, $accuracy)"
    val withV = df.withColumn("__v", valueExpr.cast("double"))
    val med = withV.groupBy(col(groupCol))
      .agg(expr(q("__v")).cast("double").as("median"))
    val mad = withV.join(med, Seq(groupCol))
      .withColumn("__r", abs(col("__v") - col("median")))
      .groupBy(col(groupCol))
      .agg(expr(q("__r")).cast("double").as("mad"))
    withV.join(med, Seq(groupCol), "left")
      .join(mad, Seq(groupCol), "left")
      .withColumn("is_outlier",
        when(col("mad") > 0.0,
          abs(col("__v") - col("median")) > lit(k) * lit(1.4826) * col("mad"))
          .otherwise(lit(false)))
      .drop("__v")
  }

  /** Theil T inequality index with the between/within-group
    * decomposition — the reading [[graft.operators.Graph]]-style
    * concentration numbers (gini, Lorenz) can't give: Theil is the
    * ONE standard inequality measure that decomposes ADDITIVELY, so
    * "how much of the revenue inequality is BETWEEN nations vs
    * WITHIN them" is a single subtraction, not a modeling exercise.
    * `T = Σᵢ (xᵢ/S)·ln(xᵢN/S)`;
    * `T_between = Σ_g (S_g/S)·ln((S_g/S)/(N_g/N))`;
    * `T_within = T − T_between`.
    *
    * Exactness: the micro-quantization discipline — each row's term
    * `round(xᵢ·ln(xᵢ·N/S)·10⁶/S)` is an integer (one mirrored
    * ln/multiply tree from exact integer inputs; `ln` agrees between
    * engines), summed order-free; the between terms quantize per
    * GROUP the same way; within is the integer subtraction (the
    * additive identity holds exactly on the quantized values by
    * construction). Rows with x ≤ 0 are excluded (ln demands it —
    * Theil is defined on positive quantities). Returns one row
    * (n, n_groups, theil_micros, between_micros, within_micros);
    * empty input returns empty.
    *
    * Scale: one row-scale pass for totals (1-row broadcast), one
    * row-scale term map + sum, one group-scale aggregate. */
  def theilIndex(df: DataFrame, groupExpr: Column, valueExpr: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(groupExpr.cast("string").as("g"),
        valueExpr.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull && col("x") > 0L)
      .localCheckpoint(true) // three consumers (totals, terms, groups)
                             // must not re-run the caller's upstream
    val tot = base.agg(count(lit(1)).as("__n"),
      sum(col("x").cast(dec)).as("__s"))
    val nD = col("__n").cast("double")
    val sD = col("__s").cast("double")
    val rowTerm = round(col("x").cast("double") *
      log(col("x").cast("double") * nD / sD) * lit(1e6) / sD)
      .cast("long")
    val t = base.crossJoin(broadcast(tot)) // 1-row totals
      .agg(sum(rowTerm).as("__t"))
    val perGroup = base.groupBy(col("g"))
      .agg(count(lit(1)).as("__ng"), sum(col("x").cast(dec)).as("__sg"))
    val grpTerm = round(col("__sg").cast("double") / sD *
      log((col("__sg").cast("double") / sD) /
        (col("__ng").cast("double") / nD)) * lit(1e6)).cast("long")
    val between = perGroup.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("__k"), sum(grpTerm).as("__b"))
    tot.crossJoin(broadcast(t)).crossJoin(broadcast(between))
      .filter(col("__n") > 0L)
      .select(col("__n").cast("bigint").as("n"),
        col("__k").cast("bigint").as("n_groups"),
        col("__t").cast("bigint").as("theil_micros"),
        col("__b").cast("bigint").as("between_micros"),
        (col("__t") - col("__b")).cast("bigint").as("within_micros"))
  }

  /** Poisson overdispersion screen per group — the sanity check
    * BEFORE any count model or Poisson-rate alert: real event counts
    * are almost never Poisson (bursts, heavy users), and a monitor
    * calibrated on `var = mean` pages constantly when
    * `var ≫ mean`. The dispersion statistic
    * `D = Σ(x−x̄)²/x̄ = (nΣx² − S²)/(n·x̄·n) · n` reduces to the
    * cross-multiplied exact form `D = (nΣx² − S²)/S`, distributed
    * χ²_{n−1} under the Poisson null.
    *
    * Exactness: per-group (n, S = Σx, Q = Σx²) are exact DECIMAL
    * integers; `dispersion_micros = ((nQ − S²)·10⁶) div S` stays in
    * DECIMAL via [[decimalDivTrunc]]; the upper-tail p is
    * [[upperTailZ]] of the [[wilsonHilfertyZ]] transform (the
    * kruskalWallis convention).
    * Groups with n < 2 or S ≤ 0 emit nothing. Returns one row per
    * group: (group, n, mean_micros, dispersion_micros, z_micros,
    * p_micros).
    *
    * Scale: one map-side-combined hash-agg to group moments;
    * everything after is group-scale. */
  def overdispersion(df: DataFrame, groupExpr: Column,
      countExpr: Column): DataFrame = {
    val x = col("__x")
    val aggs = Moments.sums("n", Seq("__s" -> x), Seq(("__q", x, x)))
    val g = df.select(groupExpr.cast("string").as("grp"),
        countExpr.cast("long").as("__x"))
      .filter(col("grp").isNotNull && col("__x").isNotNull &&
        col("__x") >= 0L)
      .groupBy(col("grp"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n") > 1L && col("__s") > 0)
      .withColumn("__dm", decimalDivTrunc(
        Moments.centered(col("n"), col("__q"), col("__s"), col("__s")) *
          lit(1000000L), col("__s")))
    val d = (col("n") - 1L).cast("double")
    val u = when(col("__dm") > 0, col("__dm").cast("double") / 1e6 / d)
    val zw = wilsonHilfertyZ(u, d)
    g.withColumn("__p",
        when(col("__dm") <= 0L, lit(1.0)).otherwise(upperTailZ(zw)))
      .select(col("grp"), col("n").cast("bigint").as("n"),
        expr("CAST(__s * 1000000 div n AS BIGINT)").as("mean_micros"),
        col("__dm").cast("bigint").as("dispersion_micros"),
        round(zw * 1e6).cast("long").as("z_micros"),
        round(col("__p") * 1e6).cast("long").as("p_micros"))
      .orderBy(col("grp"))
  }

  /** Functional-dependency DISCOVERY over a declared column panel —
    * the search pass [[fdViolations]] (which checks a GIVEN FD)
    * pairs with: for every ordered column pair a→b, the exact g3
    * error (the minimum number of rows to delete for a→b to hold:
    * `n − Σ_a max_b count(a,b)` — Kivinen & Mannila's standard FD
    * approximation measure) and the holds verdict at zero. NULLs
    * count as ordinary values on both sides (one NULL determinant
    * group, one NULL dependent value — the grouping semantics both
    * engines share).
    *
    * Returns one row per ordered pair:
    * (lhs, rhs, n_rows, n_violations, holds).
    *
    * Scale: k·(k−1) independent two-level hash-aggs over the SAME
    * scan (Spark schedules them as one pass per pair; columns are
    * pruned to the pair) — declare a small candidate panel, not the
    * whole schema: discovery over w columns is quadratic by nature,
    * and at 100 TB you pre-filter candidates by distinct-count
    * profile (dq_profile) first. */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns (got ${cols.size})")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in panel: ${cols.mkString(", ")}")
    require(cols.size <= 8,
      s"panel capped at 8 columns (${cols.size} requested) — " +
        "discovery is quadratic; pre-filter candidates")
    // NOTE (r21): materializing the panel projection once
    // (localCheckpoint) for the k·(k−1) candidate aggs was measured
    // and REJECTED — with the r20 scan spread removed each candidate
    // is a cheap pruned column scan, and the checkpoint job + cached
    // single-partition reads cost MORE (same-box A/B: 1.84 s lazy vs
    // 3.29 s checkpointed at sf0.1). The repeated-subtree collapse of
    // VERDICT r20 #7 was the spread exchange, not the scan.
    val tot = df.agg(count(lit(1)).as("n_rows"))
    val pairs = for (a <- cols; b <- cols if a != b) yield {
      df.groupBy(col(a).as("__a"), col(b).as("__b"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__a")).agg(max(col("__c")).as("__m"))
        .agg(coalesce(sum(col("__m")), lit(0L)).as("__keep"))
        .crossJoin(tot) // 1-row total
        .select(lit(a).as("lhs"), lit(b).as("rhs"),
          col("n_rows").cast("bigint").as("n_rows"),
          (col("n_rows") - col("__keep")).cast("bigint")
            .as("n_violations"),
          (col("n_rows") === col("__keep")).as("holds"))
    }
    pairs.reduce(_.unionByName(_)).orderBy(col("lhs"), col("rhs"))
  }

  /** Candidate-KEY discovery over a declared panel — the uniqueness
    * face of [[fdDiscovery]] (an FD says a column DETERMINES another;
    * a key says it determines the whole row): for every single column
    * and every unordered pair, the exact distinct-combination count,
    * the duplicate-row mass `n − n_distinct` (how many rows a dedup
    * on that key would drop), the truncating uniqueness ppm, and the
    * is_key verdict at zero duplicates — plus `is_minimal` for pairs
    * (a pair key is only interesting if NEITHER column is a key
    * alone). NULLs count as ordinary values (one NULL group — the
    * grouping semantics both engines share), so a nullable "key"
    * with two NULL rows is correctly NOT a key.
    *
    * Returns one row per candidate:
    * (key_cols — comma-joined in panel order, width, n_rows,
    * n_distinct, dup_rows, uniqueness_ppm, is_key, is_minimal).
    *
    * Scale: k + k·(k−1)/2 independent hash-aggs over the same scan,
    * columns pruned per candidate — the [[fdDiscovery]] posture and
    * the same 8-column loud cap (pre-filter candidates with
    * dq_profile's distinct counts at 100 TB). */
  def keyDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least 1 column")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in panel: ${cols.mkString(", ")}")
    require(cols.size <= 8,
      s"panel capped at 8 columns (${cols.size} requested) — " +
        "discovery is quadratic; pre-filter candidates")
    // no panel materialization — measured and rejected, see fdDiscovery
    val tot = df.agg(count(lit(1)).as("n_rows"))
    def candidate(cs: Seq[String]): DataFrame =
      df.groupBy(cs.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(count(lit(1)).as("__nd"))
        .crossJoin(tot) // 1-row total
        .select(lit(cs.mkString(",")).as("key_cols"),
          lit(cs.size).cast("bigint").as("width"),
          col("n_rows").cast("bigint").as("n_rows"),
          col("__nd").cast("bigint").as("n_distinct"),
          (col("n_rows") - col("__nd")).cast("bigint").as("dup_rows"),
          expr("CAST(__nd * 1000000L div n_rows AS BIGINT)")
            .as("uniqueness_ppm"),
          (col("n_rows") === col("__nd")).as("is_key"))
    val singles = cols.map(c => candidate(Seq(c)))
    // a single is a minimal key iff it is a key; a pair is MINIMAL
    // only if NEITHER member is a key alone. The single-column
    // verdicts are a panel-scale lookup — SIDE-EFFECTING collect, the
    // fitted-lookup posture the fd/ar family shares.
    val keySingles = singles.reduce(_.unionByName(_))
      .filter(col("is_key")).select(col("key_cols")).collect()
      .map(_.getString(0)).toSet
    val rows =
      singles.map(_.withColumn("is_minimal", col("is_key"))) ++ (for {
        i <- cols.indices; j <- cols.indices if i < j
        pair = Seq(cols(i), cols(j))
      } yield candidate(pair).withColumn("is_minimal",
        col("is_key") && lit(!pair.exists(keySingles.contains))))
    rows.reduce(_.unionByName(_))
      .orderBy(col("width"), col("key_cols"))
  }

  /** Missingness CO-OCCURRENCE over a declared panel — the third face
    * of the discovery trio ([[fdDiscovery]]: what determines what;
    * [[keyDiscovery]]: what identifies rows; this: what goes missing
    * TOGETHER): per unordered column pair, the exact null counts, the
    * both-null overlap, its LIFT against independence
    * (`both·n·10⁶ div (nₐ·n_b)` — above 10⁶ the columns fail
    * together: one upstream extract, one broken joiner), and the
    * null-set Jaccard. A pipeline that sees lift ≫ 10⁶ on
    * (ship_date, carrier) learns the real shape of its dirt — rows
    * aren't missing fields independently, whole SEGMENTS are.
    *
    * Exactness: all counts from ONE row-scale aggregate pass
    * (k + k·(k−1)/2 conditional sums over the same scan); ratios are
    * truncating divisions of DECIMAL-exact products, NULL (never an
    * error) when a column has no nulls at all. Same 8-column loud cap
    * as the sibling discoveries.
    *
    * Returns one row per unordered pair (panel order):
    * (col_a, col_b, n_rows, n_a_null, n_b_null, n_both_null,
    * lift_ppm, jaccard_ppm). */
  def nullCorrelation(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns (got ${cols.size})")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in panel: ${cols.mkString(", ")}")
    require(cols.size <= 8,
      s"panel capped at 8 columns (${cols.size} requested) — " +
        "discovery is quadratic; pre-filter candidates")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      (count(lit(1)).as("__n") +:
        cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
          .as(s"__null_$c"))) ++
        pairs.map { case (a, b) =>
          sum(when(col(a).isNull && col(b).isNull, 1L).otherwise(0L))
            .as(s"__both_${a}__$b")
        }
    val m = df.agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true) // 1-row census, one consumer per pair
    pairs.map { case (a, b) =>
      m.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").cast("bigint").as("n_rows"),
        col(s"__null_$a").cast("bigint").as("n_a_null"),
        col(s"__null_$b").cast("bigint").as("n_b_null"),
        col(s"__both_${a}__$b").cast("bigint").as("n_both_null"),
        expr(s"CAST(CAST(__both_${a}__$b AS DECIMAL(38,0)) * __n" +
          s" * 1000000 div nullif(CAST(__null_$a AS DECIMAL(38,0))" +
          s" * __null_$b, 0) AS BIGINT)").as("lift_ppm"),
        expr(s"CAST(CAST(__both_${a}__$b AS DECIMAL(38,0)) * 1000000" +
          s" div nullif(__null_$a + __null_$b - __both_${a}__$b, 0)" +
          " AS BIGINT)").as("jaccard_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("col_a"), col("col_b"))
  }
}
