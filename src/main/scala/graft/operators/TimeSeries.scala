package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Recurrences.requirePpm

/** Time-series regularization: resample irregular event times onto a
  * fixed grid (gap rows included) and carry observations forward —
  * the missing half of the temporal toolkit next to as-of joins
  * ([[AsOf]]) and interval joins ([[IntervalJoin]]). Irregular →
  * regular is what turns an event log into model-ready series
  * (features at fixed cadence, dashboards with explicit gaps).
  *
  * Scale: per-key min/max is one partial-aggregated pass; the grid
  * explodes one row per (key, step) — the OUTPUT size, nothing
  * quadratic; the value join is an equi-join on (key, bucket); the
  * forward fill is one window shuffle on the key. No driver-side
  * state, no global sort. Grid cardinality is the caller's contract:
  * a key spanning years at 1-second steps is a deliberate 10⁷-row
  * series, so [[resample]] guards with `maxStepsPerKey` (fail loudly,
  * like IntervalJoin's fan-out cap).
  */
object TimeSeries {

  /** Forward fill: replace NULLs in `valueCols` with the key's most
    * recent non-null value in `orderCol` order. One window, one
    * shuffle on `keyCol`. */
  def fillForward(df: DataFrame, keyCol: String, orderCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Linear interpolation: replace NULLs in `valueCol` with the
    * straight-line value between the key's PREVIOUS and NEXT non-null
    * observations in `orderCol` order (the gap-filling a sensor /
    * metrics series wants when carry-forward would bias downstream
    * aggregates). Boundary semantics: a NULL before the first or
    * after the last observation has only one neighbor — it takes that
    * neighbor's value (flat extrapolation; stays NULL only if the key
    * has no observations at all).
    *
    * Scale: two window passes over one `keyCol` shuffle (previous
    * non-null value+position, next non-null value+position), then a
    * row-local lerp — deterministic IEEE arithmetic, so the DuckDB
    * oracle replays it bit-exactly (`ts_interpolate`). `orderCol`
    * must be numeric or timestamp (cast to long internally for the
    * position axis). */
  def interpolateLinear(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val pos = col(orderCol).cast("timestamp").cast("long")
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(pos)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(keyCol)).orderBy(pos)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val vPrev = last(col(valueCol), ignoreNulls = true).over(wPrev)
    val pPrev = last(when(col(valueCol).isNotNull, pos),
      ignoreNulls = true).over(wPrev)
    val vNext = first(col(valueCol), ignoreNulls = true).over(wNext)
    val pNext = first(when(col(valueCol).isNotNull, pos),
      ignoreNulls = true).over(wNext)
    val lerp = vPrev + (vNext - vPrev) *
      ((pos - pPrev).cast("double") / (pNext - pPrev).cast("double"))
    df.withColumn(s"${valueCol}_interp",
      when(col(valueCol).isNotNull, col(valueCol).cast("double"))
        .when(vPrev.isNotNull && vNext.isNotNull && pNext =!= pPrev, lerp)
        .when(vPrev.isNotNull, vPrev.cast("double"))
        .otherwise(vNext.cast("double")))
  }

  /** Resample each key's series onto a fixed `stepSeconds` grid from
    * its first to its last observation: one row per (key, bucket),
    * `aggs` evaluated over the observations inside each bucket, gap
    * buckets present with NULL aggregates (forward-fill afterwards
    * with [[fillForward]] if carry-forward semantics are wanted).
    * `bucket_ts` is the grid instant (bucket start, UTC epoch
    * arithmetic — same convention as IntervalJoin's buckets).
    *
    * `aggs` are standard aggregate Columns evaluated per (key,
    * bucket), e.g. `avg($"value").as("v")` — alias every agg. */
  def resample(df: DataFrame, keyCol: String, tsCol: String,
      stepSeconds: Long, aggs: Seq[Column],
      maxStepsPerKey: Long = 1000000L): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be > 0 (got $stepSeconds)")
    require(aggs.nonEmpty, "resample needs at least one aggregate")
    val sec = col(tsCol).cast("timestamp").cast("long")
    val b = floor(sec / stepSeconds).cast("long")
    // observations aggregated into their bucket
    val perBucket = df.withColumn("__b", b)
      .groupBy(col(keyCol), col("__b"))
      .agg(aggs.head, aggs.tail: _*)
    // per-key grid, gap buckets included; loud failure on absurd grids
    val spans = df.withColumn("__b", b)
      .groupBy(col(keyCol))
      .agg(min(col("__b")).as("__b0"), max(col("__b")).as("__b1"))
    val guarded = when(col("__b1") - col("__b0") >= lit(maxStepsPerKey),
        raise_error(concat(
          lit(s"TimeSeries.resample: a key spans >= $maxStepsPerKey steps of " +
            s"${stepSeconds}s — raise stepSeconds or split the series (key="),
          col(keyCol).cast("string"), lit(")"))))
      .otherwise(col("__b1"))
    val grid = spans
      .withColumn("__b", explode(sequence(col("__b0"), guarded)))
      .select(col(keyCol), col("__b"))
    grid.join(perBucket, Seq(keyCol, "__b"), "left")
      .withColumn("bucket_ts",
        (col("__b") * stepSeconds).cast("timestamp"))
      .drop("__b")
  }

  /** Rolling z-score anomaly tagging: for each row, mean/stddev over
    * the TRAILING `windowSize`-row frame per key (current row
    * excluded — an anomaly must not dilute its own baseline), flag
    * |x - μ| > `threshold`·σ. Rows whose trailing window has fewer
    * than `minPoints` observations or zero variance report
    * `is_anomaly = false` (no baseline, no verdict — a cold start
    * never pages anyone).
    *
    * One keyed shuffle + sort (the window); everything else is
    * row-local. ROWS framing (not RANGE) keeps the frame O(1) per row
    * regardless of event clustering, so a hot key costs
    * windowSize adds per row, not a quadratic re-scan. */
  def zscoreAnomalies(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowSize: Int = 20, threshold: Double = 3.0,
      minPoints: Int = 5): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2 (got $windowSize)")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(valueCol))
      .rowsBetween(-windowSize, -1)
    val mu = avg(col(valueCol)).over(w)
    val sd = stddev_samp(col(valueCol)).over(w)
    val np = count(col(valueCol)).over(w)
    df.withColumn("baseline_mean", mu)
      .withColumn("baseline_std", sd)
      .withColumn("n_baseline", np)
      .withColumn("is_anomaly",
        when(col("n_baseline") < minPoints, lit(false))
          .when(col("baseline_std").isNull || col("baseline_std") <= 0,
            lit(false))
          .otherwise(
            abs(col(valueCol) - col("baseline_mean")) >
              col("baseline_std") * threshold))
  }

  /** Seasonality profile — per calendar-bucket load factors (the
    * capacity-planning / alerting-baseline table: "is 3am traffic
    * really 0.2× average?"): bucket every event by hour-of-day,
    * day-of-week or month, report exact counts and `load_ppm` =
    * `n · nBuckets · 10⁶ div total` (10⁶ = exactly average load; the
    * complete grid includes silent buckets — a missing 4am row reads
    * as no-data, a 0-count row reads as dead air). Integer-exact
    * throughout. DOW uses SPARK's convention (1 = Sunday) — an oracle
    * must adapt its own (DuckDB counts 0 = Sunday). One row-scale
    * hash-agg to the grid. */
  def seasonalityProfile(df: DataFrame, tsExpr: Column,
      unit: String = "hour"): DataFrame = {
    val (bucketExpr, lo, n) = unit match {
      case "hour" => (hour(tsExpr), 0L, 24L)
      case "dow" => (dayofweek(tsExpr), 1L, 7L)
      case "month" => (month(tsExpr), 1L, 12L)
      case other => throw new IllegalArgumentException(
        s"unit must be hour|dow|month (got $other)")
    }
    val counts = df.select(bucketExpr.cast("long").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(lo, lo + n)
      .select(col("id").as("bucket"))
    val total = counts.agg(sum(col("n")).as("__t"))
    grid.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(broadcast(total)) // 1-row total
      .select(col("bucket"), col("n").cast("bigint").as("n"),
        expr(s"CAST(n AS DECIMAL(38,0)) * $n * 1000000 div __t")
          .cast("long").as("load_ppm"))
      .orderBy(col("bucket"))
  }

  /** Two-sided CUSUM changepoint detection — the sequential
    * mean-shift monitor (Page 1954): per key in (`tsCol`, `valueCol`)
    * order, s⁺ accumulates excess above `target + slack`, s⁻ excess
    * below `target − slack`, each clamped at 0; an alarm fires when
    * either exceeds `threshold`. CUSUM catches the small persistent
    * drift that [[zscoreAnomalies]]' point z-score misses (a 0.5σ
    * shift never trips a 3σ point test but accumulates linearly here).
    *
    * The textbook recurrence `s_t = max(0, s_{t−1} + y_t)` looks
    * sequential, but it has a closed PREFIX form: with `S_t = Σ y_i`,
    * `s_t = S_t − min(0, min_{j≤t} S_j)` — so the whole monitor is
    * two cumulative-window passes (sum + running min) over ONE keyed
    * shuffle, no flatMapGroups fold, and an oracle replays it with
    * the same two window functions. Values quantize to micro-units
    * first (`round(x·10⁶)`), so every sum/min/comparison is
    * integer-exact; `target`/`slack`/`threshold` arrive in micro-units
    * (a config is engine-portable text, the [[EventStreams]]
    * convention). Returns the input keys + ts + value_micros + both
    * accumulators + `alarm`. */
  def cusum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, targetMicros: Long, slackMicros: Long,
      thresholdMicros: Long): DataFrame = {
    require(slackMicros >= 0, s"slackMicros must be >= 0 (got $slackMicros)")
    require(thresholdMicros > 0,
      s"thresholdMicros must be > 0 (got $thresholdMicros)")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = round(col(valueCol).cast("double") * 1e6).cast("long")
    val yp = v - targetMicros - slackMicros
    val ym = lit(targetMicros) - v - slackMicros
    df.withColumn("value_micros", v)
      .withColumn("__sp", sum(yp).over(w))
      .withColumn("__sm", sum(ym).over(w))
      .withColumn("cusum_pos_micros",
        col("__sp") - least(lit(0L), min(sum(yp).over(w)).over(w)))
      .withColumn("cusum_neg_micros",
        col("__sm") - least(lit(0L), min(sum(ym).over(w)).over(w)))
      .withColumn("alarm", col("cusum_pos_micros") > thresholdMicros ||
        col("cusum_neg_micros") > thresholdMicros)
      .drop("__sp", "__sm")
  }

  /** Changepoint LOCATION for a single mean shift per key — the
    * question a [[cusum]] alarm triggers but cannot answer: WHEN did
    * the level change. The estimator is the CUSUM argmax: with
    * prefix sums `S_t` over the (order, value)-sorted series, the
    * split point maximizes `|S_t − (t/n)·S_n|` over `t ∈ [1, n−1]` —
    * the classic single-changepoint least-squares location (the
    * binary-segmentation base step; run it on each half for multiple
    * changes).
    *
    * Exactness: the statistic multiplies through by n —
    * `C_t = |n·S_t − t·S_n|` in DECIMAL(38,0)-exact integers (no
    * per-step division), the argmax tie-breaks (stat desc, t asc) so
    * the location is total, and the reported `stat_micros = C_max
    * div n`, `mean_pre = S_t div t`, `mean_post = (S_n−S_t) div
    * (n−t)` are truncating divisions both engines compute
    * identically (C non-negative; the means may be negative — Java
    * `/` == DuckDB `//`, verified). An oracle replays every row.
    *
    * Scale: ONE keyed shuffle — the prefix window, the per-key
    * totals window, and the argmax rank all partition by the same
    * key (Catalyst reuses the exchange; sorts differ only within
    * partitions). Input is a SERIES per key (the output of a
    * row-scale pre-aggregation), so n is series-scale; keys with a
    * single observation emit nothing (no interior split exists). */
  def changepoint(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String): DataFrame = {
    val wKey = Window.partitionBy(col(keyCol))
    val ord = wKey.orderBy(col("__o"), col("__x"))
    val wPrefix = ord.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val wAll = wKey.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val dec = "decimal(38,0)"
    df.select(col(keyCol), col(orderCol).as("__o"),
        col(valueMicrosCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull && col("__o").isNotNull)
      .withColumn("__t", row_number().over(ord).cast("long"))
      .withColumn("__st", sum(col("__x")).over(wPrefix))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(col("__x")).over(wAll))
      .filter(col("__t") < col("__n"))
      .withColumn("__c", abs(col("__n").cast(dec) * col("__st") -
        col("__t").cast(dec) * col("__sn")))
      .withColumn("__r", row_number().over(
        wKey.orderBy(col("__c").desc, col("__t"))))
      .filter(col("__r") === 1)
      .select(col(keyCol), col("__n").cast("bigint").as("n_obs"),
        col("__t").as("split_index"), col("__o").as("changepoint_at"),
        expr("CAST(__c div __n AS BIGINT)").as("stat_micros"),
        expr("__st div __t").as("mean_pre_micros"),
        expr("(__sn - __st) div (__n - __t)").as("mean_post_micros"))
  }

  /** Multiple-changepoint BINARY SEGMENTATION per key — the
    * multi-shift answer to [[changepoint]]'s single-argmax (real
    * series shift more than once; the single location is the r = 1
    * special case): greedily split the segment with the largest
    * CUSUM-argmax statistic, re-segment, repeat up to
    * `maxChangepoints` rounds (Scott–Knott / binseg, the classic
    * recursion run breadth-greedy — each round takes the key's
    * single best remaining split across ALL current segments, which
    * is deterministic where per-branch recursion order is not).
    *
    * Exactness is [[changepoint]]'s, applied per segment: with the
    * segment-local index `t`, prefix `S_t`, length `n` and total
    * `S_n`, the statistic is `C_t = |n·S_t − t·S_n|` in
    * DECIMAL(38,0)-exact integers; admissible splits leave both
    * halves ≥ `minSegment`; the per-key argmax tie-breaks
    * (stat desc, global index asc) so every round's pick is total
    * and an oracle unrolls the rounds verbatim (round r's
    * segmentation is a pure function of rounds 1..r−1's picks).
    * Emitted `stat_micros`/`mean_*` are truncating divisions both
    * engines compute identically. Returns one row per found
    * changepoint: (key, rank, split_index [global], changepoint_at,
    * seg_len, stat_micros, mean_pre_micros, mean_post_micros);
    * keys with no admissible split emit nothing.
    *
    * SIDE-EFFECTING: each round runs eagerly (the pick feeds the
    * next round's segmentation). Scale, per round: ONE keyed window
    * pass over the series-scale table + a per-key argmax; the
    * boundary list rides back in as a broadcast ≤maxChangepoints
    * array per key — never a non-equi join. The indexed series
    * localCheckpoints once; rounds never re-run the caller's
    * row-scale pre-aggregation. */
  def changepoints(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String, maxChangepoints: Int = 3,
      minSegment: Int = 2): DataFrame = {
    require(maxChangepoints >= 1 && maxChangepoints <= 16,
      s"maxChangepoints must be in [1, 16] (got $maxChangepoints)")
    require(minSegment >= 1, s"minSegment must be >= 1 (got $minSegment)")
    val dec = "decimal(38,0)"
    val ordKey = Window.partitionBy(col("__k"))
      .orderBy(col("__o"), col("__x"))
    val base = df.select(col(keyCol).as("__k"), col(orderCol).as("__o"),
        col(valueMicrosCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull && col("__o").isNotNull)
      .withColumn("__i", row_number().over(ordKey).cast("long"))
      .localCheckpoint(true) // maxChangepoints consumers
    // schema-correct empty accumulator (changepoint_at inherits the
    // caller's order-column type)
    var found: DataFrame = base.limit(0)
      .select(col("__k"), lit(0L).as("rank"), col("__i").as("__pos"),
        col("__o").as("changepoint_at"), lit(0L).as("seg_len"),
        lit(0L).as("stat_micros"), lit(0L).as("mean_pre_micros"),
        lit(0L).as("mean_post_micros"))
    var nFound = 0L
    var r = 0
    var live = true
    while (live && r < maxChangepoints) {
      r += 1
      val seg =
        if (nFound == 0L) base.withColumn("__seg", lit(0))
        else {
          val bl = found.groupBy(col("__k"))
            .agg(collect_list(col("__pos")).as("__bl"))
          base.join(broadcast(bl), Seq("__k"), "left")
            .withColumn("__seg", size(filter(
              coalesce(col("__bl"), array().cast("array<bigint>")),
              p => p < col("__i"))))
            .drop("__bl")
        }
      val wSeg = Window.partitionBy(col("__k"), col("__seg"))
      val ordSeg = wSeg.orderBy(col("__i"))
      val cand = seg
        .withColumn("__tl", row_number().over(ordSeg).cast("long"))
        .withColumn("__stl", sum(col("__x")).over(
          ordSeg.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .withColumn("__nl", count(lit(1)).over(
          wSeg.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long"))
        .withColumn("__snl", sum(col("__x")).over(
          wSeg.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("__tl") >= minSegment.toLong &&
          col("__nl") - col("__tl") >= minSegment.toLong)
        .withColumn("__c", abs(col("__nl").cast(dec) * col("__stl") -
          col("__tl").cast(dec) * col("__snl")))
        // C = 0 is NO shift evidence (prefix means exactly equal) —
        // emitting it would pad ranks with noise splits
        .filter(col("__c") > lit(0))
      val pick = cand
        .withColumn("__rn", row_number().over(Window.partitionBy(
          col("__k")).orderBy(col("__c").desc, col("__i"))))
        .filter(col("__rn") === 1)
        .select(col("__k"), lit(r.toLong).as("rank"),
          col("__i").as("__pos"), col("__o").as("changepoint_at"),
          col("__nl").as("seg_len"),
          expr("CAST(__c div __nl AS BIGINT)").as("stat_micros"),
          expr("__stl div __tl").as("mean_pre_micros"),
          expr("(__snl - __stl) div (__nl - __tl)")
            .as("mean_post_micros"))
        .localCheckpoint(true)
      val nPicked = pick.count()
      live = nPicked > 0L
      if (live) {
        found = found.unionByName(pick)
        nFound += nPicked
      }
    }
    found.select(col("__k").as(keyCol), col("rank"),
      col("__pos").as("split_index"), col("changepoint_at"),
      col("seg_len").cast("bigint").as("seg_len"),
      col("stat_micros"), col("mean_pre_micros"),
      col("mean_post_micros"))
  }

  /** Exact autocorrelation function of ONE series at lags 1..`maxLag`
    * — the seasonality/memory diagnostic (a daily cycle shows as a
    * spike at lag 24 on hourly data; white noise hugs 0). Input is a
    * SERIES — (`orderExpr`, integer `valueExpr`) rows, i.e. the
    * output of a row-scale pre-aggregation like hourly counts — not a
    * raw event log; n is series-scale by construction.
    *
    * Exactness: with integer values, mean-centering multiplies
    * through by n² — `r_ℓ · n²·den = Σ (n·x_t − S)(n·x_{t+ℓ} − S)`
    * with `den·n² = Σ (n·x_t − S)²` — so numerator and denominator
    * are DECIMAL(38,0)-exact integers and `acf_micros` is one final
    * division (the modularity/W1 convention; no per-term rounding).
    * Denominator 0 (constant series) yields NULL, not a phantom.
    *
    * Scale: one stats agg, one index window, one equi-join of the
    * series against itself per the exploded lag range (≤ maxLag·n
    * rows, fixed-width), one lag-keyed hash-agg. The indexed series
    * materializes ONCE (lineage truncation, construction runs jobs
    * eagerly): the plan consumes it from five positions, and without
    * truncation each would re-run the caller's row-scale
    * pre-aggregation — five 100 TB scans for a kilobyte series. */
  def autocorrelation(df: DataFrame, orderExpr: Column,
      valueExpr: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    val spark = df.sparkSession
    val base = df.select(orderExpr.as("__o"),
        valueExpr.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .withColumn("__i", row_number().over(
        Window.orderBy(col("__o"))).cast("long"))
      .select(col("__i"), col("__x"))
      .localCheckpoint(true)
    val stats = base.agg(count(lit(1)).as("__n"),
      sum(col("__x")).cast("decimal(38,0)").as("__s"))
    val lags = spark.range(1L, maxLag + 1L).select(col("id").as("lag"))
    val centeredL = (lit(1).cast("decimal(38,0)") * col("__n") *
      col("__xl") - col("__s"))
    val centeredR = (lit(1).cast("decimal(38,0)") * col("__n") *
      col("__xr") - col("__s"))
    val den = base.crossJoin(broadcast(stats))
      .agg(sum((lit(1).cast("decimal(38,0)") * col("__n") * col("__x") -
        col("__s")) * (lit(1).cast("decimal(38,0)") * col("__n") *
        col("__x") - col("__s"))).as("__den"))
    base.select(col("__i"), col("__x").as("__xl"))
      .crossJoin(broadcast(lags)) // series-scale × maxLag, the documented explode
      .withColumn("__j", col("__i") + col("lag"))
      .join(base.select(col("__i").as("__j"), col("__x").as("__xr")),
        Seq("__j"))
      .crossJoin(broadcast(stats))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(centeredL * centeredR).as("__num"))
      .crossJoin(broadcast(den)) // 1-row denominator
      .withColumn("acf_micros",
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(round(col("__num").cast("double") /
            col("__den").cast("double") * 1e6).cast("long")))
      .select(col("lag").cast("bigint").as("lag"), col("n_pairs"),
        col("acf_micros"))
      .orderBy(col("lag"))
  }

  /** Partial autocorrelation (Durbin–Levinson) at lags 1..`maxLag` —
    * the AR-order diagnostic [[autocorrelation]] can't give: ACF of
    * an AR(1) decays forever (every lag looks "correlated"); PACF
    * removes the shorter-lag pathways, so an AR(p) cuts off sharply
    * after lag p — THE plot that picks p. Same series contract as
    * [[autocorrelation]].
    *
    * Exactness: the recursion consumes the QUANTIZED acf
    * (`acf_micros/10⁶` — both engines start from bit-identical
    * doubles) and runs Durbin–Levinson in fixed ascending-j
    * summation order:
    * `φ_kk = (r_k − Σφ_{k−1,j}r_{k−j}) / (1 − Σφ_{k−1,j}r_j)`,
    * `φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}` — a lag-scale (≤ maxLag)
    * driver fold, mirrored by a recursive CTE with a LIST state (the
    * holtWintersForecast device). A zero denominator NULLs that lag
    * and every later one (the recursion is dead, not zero).
    * Returns (lag, pacf_micros); constant series (all-NULL acf)
    * return empty. SIDE-EFFECTING: the acf collect (≤ maxLag rows)
    * runs eagerly at construction.
    *
    * Scale: everything row-scale rides [[autocorrelation]]'s one
    * materialized pass; the recursion itself touches ≤ maxLag
    * doubles on the driver. */
  def pacf(df: DataFrame, orderExpr: Column, valueExpr: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000,
      s"maxLag must be in [1, 1000] (got $maxLag)")
    val spark = df.sparkSession
    import spark.implicits._
    val rs = autocorrelation(df, orderExpr, valueExpr, maxLag)
      .filter(col("acf_micros").isNotNull)
      .select(col("lag"), col("acf_micros"))
      .collect().sortBy(_.getLong(0))
      .map(_.getLong(1).toDouble / 1e6)
    var phi: Array[Double] = Array.empty
    var dead = false
    val rows = (1 to rs.length).map { k =>
      if (k == 1) {
        phi = Array(rs(0))
        (1L, Option(math.round(rs(0) * 1e6)))
      } else if (dead) (k.toLong, Option.empty[Long])
      else {
        // fixed ascending-j order — the oracle's list fold matches
        val num = rs(k - 1) -
          (1 until k).map(j => phi(j - 1) * rs(k - j - 1)).sum
        val den = 1.0 -
          (1 until k).map(j => phi(j - 1) * rs(j - 1)).sum
        if (den == 0.0) { dead = true; (k.toLong, Option.empty[Long]) }
        else {
          val pkk = num / den
          phi = (1 until k).map(j =>
            phi(j - 1) - pkk * phi(k - j - 1)).toArray :+ pkk
          (k.toLong, Option(math.round(pkk * 1e6)))
        }
      }
    }
    rows.toDF("lag", "pacf_micros")
  }

  /** Yule–Walker fit shared by [[arForecast]] / [[arimaForecast]] /
    * [[arimaVsAr]] — the exact stages previously inlined in
    * arForecast, moved verbatim: 1-row stats, quantized acf at lags
    * 1..p, Durbin–Levinson in the pacf contract's fixed ascending-j
    * summation order, micro-rounded φ. `base` must carry (__i, __x).
    * Returns (n, Σx, φ_micros). SIDE-EFFECTING (stats + acf
    * collects). */
  private def fitArPhiMicros(base: DataFrame, p: Int, minBeyondP: Int,
      needText: String): (Long, Long, Array[Long]) = {
    val stRow = base.agg(count(lit(1)), sum(col("__x"))).head()
    val n = stRow.getLong(0)
    require(n > p + minBeyondP,
      s"series has $n points — need more than ${p + minBeyondP} to fit " +
        needText)
    val s = stRow.getLong(1)
    // quantized acf at lags 1..p — the Yule-Walker right-hand side
    val rsArr = autocorrelation(base, col("__i"), col("__x"), p)
      .collect().sortBy(_.getLong(0))
      .map(r => if (r.isNullAt(2)) Option.empty[Long]
                else Some(r.getLong(2)))
    require(rsArr.length == p && rsArr.forall(_.isDefined),
      s"acf is NULL inside lags 1..$p (constant series?) — " +
        "no AR model to fit")
    val r = rsArr.map(_.get.toDouble / 1e6)
    // Durbin-Levinson to order p, fixed ascending-j summation order
    // (the pacf contract — an oracle replays the identical doubles)
    var phi = Array(r(0))
    for (k <- 2 to p) {
      val num = r(k - 1) - (1 until k).map(j => phi(j - 1) * r(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => phi(j - 1) * r(j - 1)).sum
      require(den != 0.0,
        s"degenerate Yule-Walker system at order $k (zero denominator)")
      val pkk = num / den
      phi = (1 until k).map(j => phi(j - 1) - pkk * phi(k - j - 1))
        .toArray :+ pkk
    }
    (n, s, phi.map(v => math.round(v * 1e6)))
  }

  /** Integer-centered series + micro-phi residuals — arForecast's
    * resid stage, moved verbatim. Returns (y = (__i, __y) centered,
    * resid = (__i, __e)), both lineage-truncated. */
  private def arResiduals(base: DataFrame, n: Long, s: Long,
      phiM: Array[Long], p: Int): (DataFrame, DataFrame) = {
    val y = base.select(col("__i"),
        (lit(n) * col("__x") - lit(s)).as("__y"))
      .localCheckpoint(true)
    val w = Window.orderBy(col("__i"))
    val lagged = (1 to p).foldLeft(y) { (d, j) =>
      d.withColumn(s"__y$j", lag(col("__y"), j).over(w))
    }.filter(col(s"__y$p").isNotNull)
    val phiTerms = (1 to p)
      .map(j => s"- (${phiM(j - 1)}L) * __y$j").mkString(" ")
    val resid = lagged.select(col("__i"),
        expr(s"(1000000L * __y $phiTerms) div 1000000L").as("__e"))
      .localCheckpoint(true)
    (y, resid)
  }

  /** The AR family's indexed series (__i = 1-based position in
    * `orderExpr` order, __x = value as long; NULL values dropped),
    * lineage-truncated — every consumer scans it more than once. */
  private def indexedSeries(df: DataFrame, orderExpr: Column,
      valueExpr: Column): DataFrame =
    df.select(orderExpr.as("__o"), valueExpr.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .withColumn("__i", row_number().over(
        Window.orderBy(col("__o"))).cast("long"))
      .select(col("__i"), col("__x"))
      .localCheckpoint(true)

  /** The lag-`lagN` differences `x_i − x_{i−lagN}` of an indexed
    * series, as an indexed series (__i, __x) from i = lagN + 1 on. */
  private def diffSeries(base: DataFrame, lagN: Int): DataFrame = base
    .withColumn("__d",
      col("__x") - lag(col("__x"), lagN).over(Window.orderBy(col("__i"))))
    .filter(col("__d").isNotNull)
    .select(col("__i"), col("__d").as("__x"))

  /** One candidate of the AR / ARIMA / SARIMA comparison: the
    * Yule–Walker fit on `series` and its in-sample one-step MAE on the
    * level scale — ONE truncating DECIMAL division
    * `Σ|e| · 10⁶ div (m · n)` (residuals live on the n-times-centered
    * scale). Returns (n, 1 row of (mName, maeName)). SIDE-EFFECTING
    * (the fit's stats + acf collects). */
  private def candidateMae(series: DataFrame, p: Int, minBeyondP: Int,
      needText: String, mName: String,
      maeName: String): (Long, DataFrame) = {
    val (n, s, phiM) = fitArPhiMicros(series, p, minBeyondP, needText)
    val (_, resid) = arResiduals(series, n, s, phiM, p)
    (n, resid.agg(count(lit(1)).cast("bigint").as(mName),
      expr(s"CAST(CAST(sum(abs(__e)) AS DECIMAL(38,0)) * 1000000" +
        s" div (count(*) * ${n}L) AS BIGINT)").as(maeName)))
  }

  /** The AR-on-levels and ARIMA(p,1,0)-on-differences candidates
    * [[arimaVsAr]] and [[modelSelect]] share. Returns the indexed
    * levels (for further diff series), n_levels, n_diffs, and one row
    * of (__ml, mae_ar_micros, __md, mae_arima_micros). */
  private def arAndArimaMae(df: DataFrame, orderExpr: Column,
      valueExpr: Column, p: Int): (DataFrame, Long, Long, DataFrame) = {
    val base = indexedSeries(df, orderExpr, valueExpr) // fits + diff scans
    val (nl, maeL) = candidateMae(base, p, minBeyondP = 2,
      s"AR($p) on the levels plus a comparison window", "__ml",
      "mae_ar_micros")
    val diffs = diffSeries(base, 1)
      .localCheckpoint(true) // diff fit + resid consumer
    val (nd, maeD) = candidateMae(diffs, p, minBeyondP = 1,
      s"AR($p) on the differences", "__md", "mae_arima_micros")
    (base, nl, nd, maeL.crossJoin(maeD)) // 1x1 rows
  }

  /** `num · 10⁶ div den` as a BIGINT ratio in ppm, NULL when den is 0. */
  private def ratioPpm(num: String, den: String): Column =
    expr(s"CAST(CAST($num AS DECIMAL(38,0)) * 1000000" +
      s" div nullif($den, 0) AS BIGINT)")

  /** AR(p) fit + h-step forecast + residual whiteness — the member
    * that makes the classical-TS family actionable: [[autocorrelation]]
    * profiles the memory, [[pacf]] picks the order, this CLOSES the
    * loop by fitting the AR(p) model (Yule–Walker via the same
    * Durbin–Levinson recursion — the order-p row of [[pacf]]'s
    * triangle IS the coefficient vector), forecasting `horizon` steps,
    * and testing the in-sample residuals with the Ljung–Box
    * portmanteau (df = lbLags − p): "fit, predict, and check there is
    * nothing left to model" in one operator.
    *
    * Exactness contract (every output replayable value-for-value):
    *  - φ comes from the QUANTIZED acf (`acf_micros/10⁶` — both
    *    engines start from bit-identical doubles) through the fixed
    *    ascending-j Durbin–Levinson order, then quantizes to micro
    *    units `φM_j = round(φ_j·10⁶)`.
    *  - Work happens on the integer-centered series `y_t = n·x_t − s`
    *    (exact mean-zero without a division). Residuals are
    *    `e_t = (10⁶·y_t − Σ φM_j·y_{t−j}) div 10⁶` — pure long
    *    multiply + truncating division.
    *  - The h-step forecast folds the SAME integer recurrence over
    *    the last p values (predicted values feed later steps), and
    *    maps back to x-scale via `(10⁶·(ŷ+s)) div n`.
    *  - Residual whiteness reuses [[autocorrelation]] on the residual
    *    series + the ts_ljung_box Q tree; the verdict compares
    *    q_micros against the chi²(lbLags − p) 5 % critical value as
    *    an integer.
    * Loud guards: series shorter than p + lbLags + 1, any NULL acf in
    * lags 1..p, or a degenerate Yule–Walker denominator fail fast.
    *
    * SIDE-EFFECTING: the lag-scale acf collect and the p-row tail
    * collect run eagerly at construction.
    *
    * Scale: rides [[autocorrelation]]'s one materialized pass (the
    * only row-scale work); the fit itself touches ≤ p doubles and the
    * forecast ≤ p + horizon longs on the driver. */
  def arForecast(df: DataFrame, orderExpr: Column, valueExpr: Column,
      p: Int = 3, horizon: Int = 12, lbLags: Int = 12,
      chi2CritMicros: Long = 16919000L): DataFrame = {
    require(p >= 1 && p <= 10, s"p must be in [1, 10] (got $p)")
    require(horizon >= 1 && horizon <= 1000,
      s"horizon must be in [1, 1000] (got $horizon)")
    require(lbLags > p,
      s"lbLags must exceed p for a positive-df whiteness test " +
        s"(got lbLags=$lbLags, p=$p)")
    val spark = df.sparkSession
    import spark.implicits._
    val base = indexedSeries(df, orderExpr, valueExpr)
    val (n, s, phiM) = fitArPhiMicros(base, p, minBeyondP = lbLags,
      needText = s"AR($p) and test $lbLags residual lags")
    val (y, resid) = arResiduals(base, n, s, phiM, p)
    // residual Ljung-Box: the ts_ljung_box tree over the residual acf
    val acfE = autocorrelation(resid, col("__i"), col("__e"), lbLags)
      .filter(col("acf_micros").isNotNull)
    val nrowE = resid.agg(count(lit(1)).as("__n"))
    val lb = acfE.crossJoin(broadcast(nrowE))
      .select(col("__n"),
        round((col("acf_micros").cast("double") *
          col("acf_micros").cast("double")) /
          (col("__n") - col("lag")).cast("double")).cast("long")
          .as("__t"))
      .groupBy(col("__n"))
      .agg(sum(col("__t")).as("__s"))
      .select(round(col("__n").cast("double") *
        (col("__n") + 2L).cast("double") *
        col("__s").cast("double") / lit(1000000.0)).cast("long")
        .as("lb_q_micros"))
    // h-step forecast: integer recurrence over the last p y-values
    val tail = y.filter(col("__i") > n - p).orderBy(col("__i"))
      .collect().map(_.getLong(1))
    var buf = tail.toVector // ascending: buf.last = y_n
    val fcRows = (1 to horizon).map { h =>
      val yh = (1 to p).map(j => phiM(j - 1) * buf(buf.size - j)).sum /
        1000000L
      buf :+= yh
      (h.toLong, yh)
    }
    val phiCols = (1 to p).map(j =>
      lit(phiM(j - 1)).as(s"phi${j}_micros"))
    fcRows.toDF("step", "__yh")
      .crossJoin(broadcast(lb))
      .select(Seq(col("step").cast("bigint").as("step"),
        lit(n).cast("bigint").as("n_obs")) ++ phiCols ++ Seq(
        expr(s"(1000000L * (__yh + ${s}L)) div ${n}L").cast("bigint")
          .as("forecast_micros"),
        col("lb_q_micros"),
        (col("lb_q_micros") > chi2CritMicros).as("lb_rejected")): _*)
      .orderBy(col("step"))
  }

  /** ARIMA(p,1,0) via differencing — the integrated member
    * [[arForecast]] lacks: fit the AR(p) on the FIRST DIFFERENCES of
    * the series (a trending series violates AR's stationarity
    * premise; its differences don't), forecast the differences h
    * steps ahead, then integrate back to levels by exact cumulative
    * addition from the last observed value. The machinery is
    * [[arForecast]] verbatim on the diff series (quantized acf →
    * Durbin–Levinson → integer residuals → Ljung–Box → integer
    * forecast recurrence), so the oracle replays it token for token
    * with one diff CTE inserted and one cumulative window appended —
    * and [[holtBacktest]]-style MASE comparison against the
    * undifferenced AR says when differencing earns its keep.
    *
    * Exactness: the diff is an exact long subtraction; integration is
    * exact long addition of the diff forecasts onto `10⁶·x_n` — no
    * new division anywhere. Returns per step 1..horizon:
    * (step, n_obs = level count, phi*_micros of the diff fit,
    * diff_forecast_micros, forecast_micros = integrated level,
    * lb_q_micros, lb_rejected — whiteness of the DIFF residuals).
    * SIDE-EFFECTING like [[arForecast]] (acf + tail collects, plus
    * the 1-row last-level lookup). */
  def arimaForecast(df: DataFrame, orderExpr: Column, valueExpr: Column,
      p: Int = 3, horizon: Int = 12, lbLags: Int = 12,
      chi2CritMicros: Long = 16919000L): DataFrame = {
    // consumers: the diff scan + the last-level lookup
    val base = indexedSeries(df, orderExpr, valueExpr)
    val lastRow = base.agg(count(lit(1)),
      max_by(col("__x"), col("__i"))).head() // 1-row model-scale lookup
    val n = lastRow.getLong(0)
    require(n >= 1L,
      "arimaForecast needs at least 1 non-NULL level to anchor the " +
        s"integration (got $n)")
    val xn = lastRow.getLong(1)
    require(math.abs(xn) <= 9000000000000L,
      s"arimaForecast: |last level| ${math.abs(xn)} exceeds the " +
        "overflow-safe bound 9e12 for the 10⁶·xₙ integration base — " +
        "quantize the series coarser")
    val fc = arForecast(diffSeries(base, 1), col("__i"), col("__x"), p,
      horizon, lbLags, chi2CritMicros)
    val wCum = Window.orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phiCols = (1 to p).map(j => col(s"phi${j}_micros"))
    fc.withColumnRenamed("forecast_micros", "diff_forecast_micros")
      .select(Seq(col("step"), lit(n).cast("bigint").as("n_obs")) ++
        phiCols ++ Seq(
        col("diff_forecast_micros"),
        (lit(xn * 1000000L) +
          sum(col("diff_forecast_micros")).over(wCum)).cast("bigint")
          .as("forecast_micros"),
        col("lb_q_micros"), col("lb_rejected")): _*)
      .orderBy(col("step"))
  }

  /** AR(p) vs ARIMA(p,1,0) — the readout that says when differencing
    * EARNS ITS KEEP: fit both models ([[fitArPhiMicros]] on the
    * levels; the same fit on the first differences), score each by
    * its in-sample one-step mean absolute error ON THE LEVEL SCALE
    * (an ARIMA one-step level prediction is x_{t−1} + d̂_t, so its
    * level error IS the diff-fit residual — same units, honest
    * comparison), and report the MASE-style ratio: below 10⁶ ppm the
    * differenced model explains the series better and a trend was
    * real; above, differencing only added noise.
    *
    * Exactness: residuals are [[arForecast]]'s integer micro-phi
    * streams verbatim; each MAE is ONE truncating DECIMAL division
    * `Σ|e| · 10⁶ div (m · n)` (residuals live on the n-times-centered
    * scale, so dividing by m·n lands in value-micros); the ratio one
    * more truncating division. A perfect AR fit (MAE 0) reports a
    * NULL ratio, never a division error. SIDE-EFFECTING (two fits'
    * stats + acf collects).
    *
    * Returns 1 row: (n_levels, n_diffs, p, mae_ar_micros,
    * mae_arima_micros, mase_ppm, differencing_wins). */
  def arimaVsAr(df: DataFrame, orderExpr: Column, valueExpr: Column,
      p: Int = 3): DataFrame = {
    require(p >= 1 && p <= 10, s"p must be in [1, 10] (got $p)")
    val (_, nl, nd, maes) = arAndArimaMae(df, orderExpr, valueExpr, p)
    maes.select(lit(nl).cast("bigint").as("n_levels"),
        lit(nd).cast("bigint").as("n_diffs"),
        lit(p).cast("bigint").as("p"),
        col("mae_ar_micros"), col("mae_arima_micros"),
        ratioPpm("mae_arima_micros", "mae_ar_micros").as("mase_ppm"))
      .withColumn("differencing_wins", col("mase_ppm") < 1000000L)
  }

  /** SEASONAL ARIMA(p,0,0)×(0,1,0)_period via seasonal differencing —
    * the member [[arimaForecast]] lacks when the series repeats
    * rather than trends: fit the AR(p) on the SEASONAL differences
    * `d_t = x_t − x_{t−period}` (a daily-cycled hourly series violates
    * AR's stationarity premise; its day-over-day changes don't),
    * forecast the differences h steps ahead, then integrate back onto
    * the last `period` observed levels — step h lands on seasonal
    * slot `((h−1) mod period) + 1`, so its level is
    * `10⁶·x_{n−period+slot}` plus the cumulative sum of the diff
    * forecasts IN ITS SLOT (one window partitioned by slot; for
    * `horizon ≤ period` each slot holds one step and the integration
    * is a single exact addition). The machinery is [[arForecast]]
    * verbatim on the seasonal-diff series, so the oracle replays it
    * with one seasonal-diff CTE and one slot-partitioned window.
    *
    * Exactness: the seasonal diff is an exact long subtraction;
    * integration is exact long addition onto 10⁶·x (each base level
    * loudly bounded at 9·10¹²). Returns per step 1..horizon: (step,
    * n_obs = level count, phi*_micros of the seasonal-diff fit,
    * diff_forecast_micros, forecast_micros, lb_q_micros, lb_rejected).
    * SIDE-EFFECTING like [[arForecast]] (acf + tail collects, plus
    * the period-row seasonal-base lookup). */
  def sarimaForecast(df: DataFrame, orderExpr: Column,
      valueExpr: Column, period: Int = 24, p: Int = 3,
      horizon: Int = 12, lbLags: Int = 12,
      chi2CritMicros: Long = 16919000L): DataFrame = {
    require(period >= 2 && period <= 100000,
      s"period must be in [2, 100000] (got $period)")
    // consumers: the diff scan + the seasonal-base lookup
    val base = indexedSeries(df, orderExpr, valueExpr)
    val n = base.count()
    require(n > period,
      s"series has $n points — need more than period=$period to " +
        "seasonally difference")
    // the last `period` levels anchor the integration, one per slot
    val baseVals = base.filter(col("__i") > n - period)
      .collect().map(r => (r.getLong(0) - (n - period), r.getLong(1)))
    baseVals.foreach { case (slot, x) =>
      require(math.abs(x) <= 9000000000000L,
        s"sarimaForecast: |level| ${math.abs(x)} at seasonal slot " +
          s"$slot exceeds the overflow-safe bound 9e12 for the " +
          "10⁶·x integration base — quantize the series coarser")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val fc = arForecast(diffSeries(base, period), col("__i"), col("__x"),
      p, horizon, lbLags, chi2CritMicros)
    val slots = baseVals.toSeq.toDF("__slot", "__xbase")
    val wSeas = Window.partitionBy(col("__slot")).orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phiCols = (1 to p).map(j => col(s"phi${j}_micros"))
    fc.withColumnRenamed("forecast_micros", "diff_forecast_micros")
      .withColumn("__slot", (col("step") - 1) % period + 1)
      .join(broadcast(slots), "__slot")
      .select(Seq(col("step"), lit(n).cast("bigint").as("n_obs")) ++
        phiCols ++ Seq(
        col("diff_forecast_micros"),
        (col("__xbase") * 1000000L +
          sum(col("diff_forecast_micros")).over(wSeas)).cast("bigint")
          .as("forecast_micros"),
        col("lb_q_micros"), col("lb_rejected")): _*)
      .orderBy(col("step"))
  }

  /** Three-way AR / ARIMA / SARIMA model selection — [[arimaVsAr]]
    * extended with the seasonal candidate: fit the shared Yule–Walker
    * core on the levels, the first differences, AND the seasonal
    * differences at `period` (feed it the [[autocorrelation]] argmax
    * — the ts_dominant_period answer — and the pick consumes the
    * measured seasonality instead of a guess), score each by its
    * in-sample one-step MAE ON THE LEVEL SCALE (a differenced model's
    * one-step level error IS its diff-fit residual), and report which
    * model explains the series best — ties go to the simpler model
    * (AR over ARIMA over SARIMA), since equal error never justifies
    * extra differencing.
    *
    * Exactness: three stampings of the [[arimaVsAr]] integer
    * machinery (each MAE one truncating DECIMAL division, each ratio
    * one more, NULL on a perfect AR fit — never a division error).
    * SIDE-EFFECTING (three fits' stats + acf collects).
    *
    * Returns 1 row: (n_levels, n_diffs, n_sdiffs, p, period,
    * mae_ar_micros, mae_arima_micros, mae_sarima_micros,
    * mase_arima_ppm, mase_sarima_ppm, best_model). */
  def modelSelect(df: DataFrame, orderExpr: Column, valueExpr: Column,
      p: Int = 3, period: Int = 24): DataFrame = {
    require(p >= 1 && p <= 10, s"p must be in [1, 10] (got $p)")
    require(period >= 2 && period <= 100000,
      s"period must be in [2, 100000] (got $period)")
    val (base, nl, nd, maes) = arAndArimaMae(df, orderExpr, valueExpr, p)
    val (ns, maeS) = candidateMae(
      diffSeries(base, period).localCheckpoint(true), p, minBeyondP = 1,
      s"AR($p) on the seasonal differences at $period", "__ms",
      "mae_sarima_micros")
    maes.crossJoin(maeS) // 1x1
      .select(lit(nl).cast("bigint").as("n_levels"),
        lit(nd).cast("bigint").as("n_diffs"),
        lit(ns).cast("bigint").as("n_sdiffs"),
        lit(p).cast("bigint").as("p"),
        lit(period).cast("bigint").as("period"),
        col("mae_ar_micros"), col("mae_arima_micros"),
        col("mae_sarima_micros"),
        ratioPpm("mae_arima_micros", "mae_ar_micros").as("mase_arima_ppm"),
        ratioPpm("mae_sarima_micros", "mae_ar_micros")
          .as("mase_sarima_ppm"))
      .withColumn("best_model",
        when(col("mae_ar_micros") <= col("mae_arima_micros") &&
          col("mae_ar_micros") <= col("mae_sarima_micros"), "ar")
          .when(col("mae_arima_micros") <= col("mae_sarima_micros"),
            "arima")
          .otherwise("sarima"))
  }

  /** The per-key ordered-fold prelude of the Holt, Croston, EWM and
    * Kalman folds: key as string, order and value as longs, rows with
    * a NULL order or value (or failing `keep`) dropped, one key
    * shuffle, and each key's (order, value) points sorted by (order,
    * value) before `body` folds them. */
  private def foldByKey[U: Encoder](df: DataFrame, keyCol: String,
      orderCol: String, valueCol: String, keep: Column*)(
      body: (String, Array[(Long, Long)]) => Iterator[U]): Dataset[U] = {
    import df.sparkSession.implicits._
    df.select(col(keyCol).cast("string").as("k"),
        col(orderCol).cast("long").as("o"),
        col(valueCol).cast("long").as("x"))
      .filter((Seq(col("o").isNotNull, col("x").isNotNull) ++ keep)
        .reduce(_ && _))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups((k, it) =>
        body(k, it.map(r => (r._2, r._3)).toArray.sorted))
  }

  /** The Holt fold of `xs` from the seed l₁ = x₁, b₁ = 0
    * ([[Recurrences.holt]] per step). At every rolling origin
    * t ≥ `minTrain` — the state then IS the fit on the prefix x₁..x_t —
    * it first hands `score(h, t, l + h·b)` each forecast whose actual
    * x_{t+h} exists (h ≤ `horizon`), then folds x_{t+1}. Returns the
    * final (level, trend). */
  private def holtFit(xs: Array[Long], alphaPpm: Long, betaPpm: Long,
      horizon: Int = 0, minTrain: Int = Int.MaxValue)(
      score: (Int, Int, Long) => Unit = (_, _, _) => ()): (Long, Long) = {
    var l = xs(0); var b = 0L
    var t = 1 // observations consumed; state fits prefix t
    while (t < xs.length) {
      if (t >= minTrain) {
        var h = 1
        while (h <= horizon && t + h <= xs.length) {
          score(h, t, l + h * b)
          h += 1
        }
      }
      val (l2, b2) = Recurrences.holt(l, b, xs(t), alphaPpm, betaPpm)
      l = l2; b = b2
      t += 1
    }
    (l, b)
  }

  /** Holt double-exponential (level + trend) smoothing forecast — the
    * capacity-planning workhorse one notch above a moving average:
    * per key, fold the series in order through the integer recurrence
    *   l_t = (α·x_t + (10⁶−α)·(l_{t−1}+b_{t−1})) / 10⁶
    *   b_t = (β·(l_t−l_{t−1}) + (10⁶−β)·b_{t−1}) / 10⁶
    * (plain truncating long division — Java `/` and DuckDB `//`
    * truncate identically, including on negative trends, so a
    * recursive-CTE oracle replays every step exactly; α, β in ppm,
    * values in micro-units — engine-portable integer config
    * throughout; init l₁ = x₁, b₁ = 0, documented convention).
    * Returns per key one row per forecast step 1..`horizon`:
    * (key, n_obs, level_micros, trend_micros, step,
    * forecast_micros = l_n + step·b_n).
    *
    * Scale: one key shuffle, per-group in-memory sort + O(n) fold
    * (`flatMapGroups` — a genuine sequential recurrence, the
    * [[graft.streaming.EventStreams]] EWMA posture: group = one
    * key's bounded series, pre-aggregate to a cadence first). */
  def holtForecast(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String, alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L, horizon: Int = 12): DataFrame = {
    requirePpm("alphaPpm", alphaPpm)
    requirePpm("betaPpm", betaPpm)
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, pts) =>
      val (l, b) = holtFit(pts.map(_._2), alphaPpm, betaPpm)()
      (1 to horizon).iterator.map(h =>
        (k, pts.length.toLong, l, b, h.toLong, l + h * b))
    }
      .toDF(keyCol, "n_obs", "level_micros", "trend_micros", "step",
        "forecast_micros")
      .orderBy(col(keyCol), col("step"))
  }

  /** Holt forecast WITH distribution-free prediction intervals — the
    * uncertainty [[holtForecast]] refuses to fake: the rolling-origin
    * errors [[holtBacktest]] scores are exactly the out-of-sample
    * |forecast − actual| distribution at each horizon, so the
    * conformal rank rule (`k = ⌈(n_h+1)·cover⌉`-th smallest absolute
    * error, the [[graft.operators.Features.conformalInterval]]
    * device) turns them into a per-horizon radius with finite-sample
    * coverage on exchangeable errors. `forecast ± radius` is the
    * band a capacity plan can actually consume; horizons whose error
    * sample is too small for the requested coverage emit nothing (a
    * row would lie).
    *
    * Exactness: the SAME truncating-ppm integer fold as holtForecast
    * / holtBacktest (one pass collects the per-horizon error
    * multisets AND the final state); the radius is an order
    * statistic (a multiset property); lo/hi are integer sums. The
    * recursive-CTE oracle replays every state, error, rank and
    * band. Per-key series fit one task (the ts family contract).
    * Returns (key, step, n_errors, forecast_micros, radius_micros,
    * lo_micros, hi_micros). */
  def holtForecastInterval(df: DataFrame, keyCol: String,
      orderCol: String, valueMicrosCol: String,
      alphaPpm: Long = 300000L, betaPpm: Long = 100000L,
      horizon: Int = 6, minTrain: Int = 24,
      coverPpm: Long = 900000L): DataFrame = {
    requirePpm("alphaPpm", alphaPpm)
    requirePpm("betaPpm", betaPpm)
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    require(minTrain >= 2, s"minTrain must be >= 2 (got $minTrain)")
    require(coverPpm > 0L && coverPpm < 1000000L,
      s"coverPpm must be in (0, 1e6) (got $coverPpm)")
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, pts) =>
      val xs = pts.map(_._2)
      if (xs.length < 2) Iterator.empty
      else {
        val errs = Array.fill(horizon)(
          scala.collection.mutable.ArrayBuffer.empty[Long])
        val (l, b) = holtFit(xs, alphaPpm, betaPpm, horizon, minTrain) {
          (h, t, f) => errs(h - 1) += math.abs(f - xs(t + h - 1))
        }
        (1 to horizon).iterator.flatMap { h =>
          val es = errs(h - 1).sorted
          val kIdx = ((es.length + 1L) * coverPpm + 999999L) / 1000000L
          if (kIdx > es.length || es.isEmpty) Iterator.empty
          else {
            val radius = es(kIdx.toInt - 1)
            val f = l + h * b
            Iterator((k, h.toLong, es.length.toLong, f, radius,
              f - radius, f + radius))
          }
        }
      }
    }
      .toDF(keyCol, "step", "n_errors", "forecast_micros",
        "radius_micros", "lo_micros", "hi_micros")
      .orderBy(col(keyCol), col("step"))
  }

  /** Rolling-origin backtest of the Holt forecaster — the evaluation
    * harness a forecast needs before anyone trusts it: at every
    * origin `t ≥ minTrain`, forecast `h = 1..horizon` steps ahead
    * FROM THE STATE FITTED ON THE PREFIX and score against the
    * actuals, reporting per key the forecast MAE, the persistence
    * (last-value naive) MAE, and their ratio `mase_ppm` — MASE < 10⁶
    * means the model beats the naive a dashboard would otherwise
    * ship. The key insight making this one pass: the Holt fold's
    * state at time t IS the fit on the prefix of length t, so ALL
    * origins evaluate during a single ordered fold (k separate
    * refits would re-read the series k times).
    *
    * Exactness: the fold is [[holtForecast]]'s truncating-division
    * recurrence verbatim; forecasts, actuals and both absolute
    * errors are exact longs; the MAEs and the MASE are truncating
    * divisions of non-negative integer sums — the recursive-CTE
    * oracle replays every state, every origin and every error
    * value-for-value. Keys with fewer than `minTrain + 1`
    * observations emit nothing (no origin has a fit).
    *
    * Scale: the EWMA/Holt posture — one key shuffle, one per-group
    * ordered fold; the emitted error stream is ≤ n·horizon rows of
    * three fixed-width columns, reduced by one key-scale hash-agg. */
  def holtBacktest(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String, alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L, horizon: Int = 6,
      minTrain: Int = 24): DataFrame = {
    requirePpm("alphaPpm", alphaPpm)
    requirePpm("betaPpm", betaPpm)
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    require(minTrain >= 2, s"minTrain must be >= 2 (got $minTrain)")
    val spark = df.sparkSession
    import spark.implicits._
    val errs = foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, pts) =>
      val xs = pts.map(_._2)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long)]
      holtFit(xs, alphaPpm, betaPpm, horizon, minTrain) { (h, t, f) =>
        out += ((k, math.abs(f - xs(t + h - 1)),
          math.abs(xs(t - 1) - xs(t + h - 1))))
      }
      out.iterator
    }
      .toDF("k", "__ef", "__en")
    errs.groupBy(col("k"))
      .agg(count(lit(1)).as("n_evals"),
        sum(col("__ef")).as("__sf"), sum(col("__en")).as("__sn"))
      .select(col("k").as(keyCol),
        col("n_evals").cast("bigint").as("n_evals"),
        expr("__sf div n_evals").as("mae_forecast_micros"),
        expr("__sn div n_evals").as("mae_naive_micros"),
        expr("CAST(__sf AS DECIMAL(38,0)) * 1000000 " +
          "div nullif(__sn, 0)").cast("bigint").as("mase_ppm"))
  }

  /** Holt–Winters ADDITIVE-SEASONAL forecast — [[holtForecast]] plus
    * the seasonal state it can't carry (hourly/weekly cycles dominate
    * event volume; a level+trend line forecasts the daily average and
    * misses every peak): per key, after seeding level with the first
    * season's truncated mean and the seasonal vector with that
    * season's deviations, fold
    * `l′ = (α(x − s_slot) + (1−α)(l + b)) div 10⁶`,
    * `b′ = (β(l′ − l) + (1−β)b) div 10⁶`,
    * `s_slot′ = (γ(x − l′) + (1−γ)s_slot) div 10⁶`
    * (slot = observation index mod period), then forecast
    * `f_h = l + h·b + s_((T+h−1) mod period)`.
    *
    * Replay discipline: the whole recurrence is truncating long
    * division on integers (Java `/` == DuckDB `//` on negatives —
    * the [[holtForecast]] contract), and the seasonal vector replays
    * as `period` SCALAR BIGINT columns in a recursive CTE (one CASE
    * per slot column per step), so an oracle reproduces every one of
    * the ~T steps AND the rotating seasonal state value-for-value
    * with no list state and no HUGEINT promotion (a HUGEINT seed
    * surfaces as float64 in a pandas frame and hash-fails on dtype
    * alone even when every value matches). Keys with fewer than
    * `period + 1` observations emit nothing (no season to seed plus
    * at least one fold step — a shorter series has no seasonal
    * signal to fit).
    *
    * Scale: the EWMA/Holt posture — one key shuffle, per-group
    * ordered fold over a bounded series, period longs of state. */
  def holtWintersForecast(df: DataFrame, keyCol: String,
      orderCol: String, valueMicrosCol: String, period: Int,
      alphaPpm: Long = 300000L, betaPpm: Long = 100000L,
      gammaPpm: Long = 300000L, horizon: Int = 12): DataFrame = {
    require(period >= 2 && period <= 100000,
      s"period must be in [2, 100000] (got $period)")
    requirePpm("alphaPpm", alphaPpm)
    requirePpm("betaPpm", betaPpm)
    requirePpm("gammaPpm", gammaPpm)
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, pts) =>
      val xs = pts.map(_._2)
      if (xs.length <= period) Iterator.empty
      else {
        var l = xs.take(period).sum / period
        var b = 0L
        val s = xs.take(period).map(_ - l)
        var t = period
        while (t < xs.length) {
          val slot = t % period
          // the Holt step on the deseasonalized value, then the slot's
          // seasonal state smooths toward the new deviation
          val (l2, b2) = Recurrences.holt(l, b, xs(t) - s(slot), alphaPpm,
            betaPpm)
          s(slot) = Recurrences.smooth(s(slot), xs(t) - l2, gammaPpm)
          l = l2; b = b2
          t += 1
        }
        val tn = xs.length
        (1 to horizon).iterator.map(h =>
          (k, tn.toLong, l, b, h.toLong,
            l + h * b + s((tn + h - 1) % period)))
      }
    }
      .toDF(keyCol, "n_obs", "level_micros", "trend_micros", "step",
        "forecast_micros")
      .orderBy(col(keyCol), col("step"))
  }

  /** Theil–Sen robust trend per group — the slope OLS can't give when
    * a series carries outliers (one bad month drags a least-squares
    * fit arbitrarily; the MEDIAN of all pairwise slopes has a 29 %
    * breakdown point and is the standard robust trend for monitoring
    * series): per key, `slope = median{ (yⱼ−yᵢ)/(xⱼ−xᵢ) : xᵢ < xⱼ }`
    * and `intercept = median{ yᵢ − slope·x⁰ᵢ }` at the group's FIRST
    * x (x centers to x−min(x) per group before the residuals, so the
    * intercept is the robust level at series start and the integer
    * products stay small).
    *
    * Exactness: pair slopes quantize by TRUNCATING long division
    * `(yⱼ−yᵢ)·10⁶ div (xⱼ−xᵢ)` (divisor positive; both engines
    * truncate negatives toward zero identically), medians are
    * `percentile_disc` — rank-based, returns actual data values, the
    * winsorize convention — so every output is an exact integer.
    *
    * Scale: the pair join is the cost — Σ n_g² over groups — and this
    * is a per-SERIES operator (a group is one monitored series of
    * tens-to-thousands of points, not row-scale data); the
    * `maxGroupPoints` pre-flight fails loudly before a degenerate
    * group can detonate the join. Pairs are fixed-width (key, two
    * longs); no text or payload ever enters the exchange. */
  def theilSen(df: DataFrame, keyCols: Seq[String], xExpr: Column,
      yExpr: Column, maxGroupPoints: Long = 10000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val base0 = df.select(keyCols.map(col) ++ Seq(
        xExpr.cast("long").as("__x"), yExpr.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val worst = base0.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
    val worstN = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstN <= maxGroupPoints,
      s"a group holds $worstN points (cap $maxGroupPoints) — the " +
        "pairwise-slope join is quadratic per group; resample the " +
        "series or raise the cap deliberately")
    val mins = base0.groupBy(keyCols.map(col): _*)
      .agg(min(col("__x")).as("__x_min"))
    val base = base0.join(mins, keyCols)
      .withColumn("__x0", col("__x") - col("__x_min"))
    val a = base.select(keyCols.map(col) ++
      Seq(col("__x0").as("__xa"), col("__y").as("__ya")): _*)
    val b = base.select(keyCols.map(col) ++
      Seq(col("__x0").as("__xb"), col("__y").as("__yb")): _*)
    val slopes = a.join(b, keyCols)
      .filter(col("__xa") < col("__xb"))
      .select(keyCols.map(col) :+
        expr("(__yb - __ya) * 1000000 div (__xb - __xa)").as("__s"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __s)")
        .cast("long").as("slope_micros"))
    base.join(slopes, keyCols)
      .withColumn("__r", col("__y") * lit(1000000L) -
        col("slope_micros") * col("__x0"))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n_points"),
        first(col("slope_micros")).as("slope_micros"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __r)")
          .cast("long").as("intercept_micros"))
  }

  /** Robust trend + seasonal decomposition per key — the STL-shaped
    * readout (`x = trend + seasonal + residual`) built from two
    * exact primitives instead of loess: the trend is the
    * [[theilSen]] line (29 % breakdown — one outlier hour cannot
    * bend it) evaluated at every x, the seasonal component is the
    * PER-SLOT MEDIAN of the detrended series (`percentile_disc` —
    * an actual data value, outlier-immune), and the residual is what
    * remains — the series a monitor should actually alarm on, with
    * the daily/weekly cycle and the drift both removed.
    *
    * Exactness: the fit is [[theilSen]]'s integer contract; the
    * trend evaluates as `(intercept + slope·(x−x_min)) div 10⁶`
    * (truncating, negatives agree across engines); slot medians are
    * rank-based exact values; every output column is an exact long —
    * the whole decomposition replays value-for-value.
    *
    * Scale: inherits theilSen's per-SERIES quadratic-pair contract
    * (loud `maxGroupPoints`); the base series localCheckpoints ONCE
    * (fit + mins + row stream = three consumers — without
    * truncation each re-runs the caller's row-scale pre-aggregation;
    * construction therefore runs jobs eagerly, the acf posture).
    * Slot medians are a (key, slot)-sized exact aggregate. */
  def decompose(df: DataFrame, keyCol: String, xExpr: Column,
      slotExpr: Column, valueMicrosCol: String,
      maxGroupPoints: Long = 10000L): DataFrame = {
    val base = df.select(col(keyCol), xExpr.cast("long").as("x"),
        slotExpr.cast("long").as("slot"),
        col(valueMicrosCol).cast("long").as("value_micros"))
      .filter(col("x").isNotNull && col("slot").isNotNull &&
        col("value_micros").isNotNull)
      .localCheckpoint(true)
    val fit = theilSen(base, Seq(keyCol), col("x"),
      col("value_micros"), maxGroupPoints)
    val mins = base.groupBy(col(keyCol)).agg(min(col("x")).as("__xmin"))
    val t = base
      .join(fit.select(col(keyCol), col("slope_micros"),
        col("intercept_micros")), Seq(keyCol))
      .join(mins, Seq(keyCol))
      .withColumn("trend_micros", expr(
        "(intercept_micros + slope_micros * (x - __xmin)) div 1000000"))
      .withColumn("__detr", col("value_micros") - col("trend_micros"))
    val seas = t.groupBy(col(keyCol), col("slot"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __detr)")
        .cast("long").as("seasonal_micros"))
    t.join(seas, Seq(keyCol, "slot"))
      .select(col(keyCol), col("x"), col("slot"), col("value_micros"),
        col("trend_micros"), col("seasonal_micros"),
        (col("__detr") - col("seasonal_micros")).as("residual_micros"))
  }

  /** Robust anomalies on the DECOMPOSED residual — what
    * [[zscoreAnomalies]] should have been for seasonal series: a
    * plain z-score on raw values calls every daily peak an anomaly
    * and misses a real spike at 3 a.m.; here the [[decompose]]
    * residual (trend and cycle removed) is flagged by the MAD rule
    * `|r − median(r)| > k·1.4826·MAD` — median/MAD because the
    * anomalies being hunted would poison a mean/sd estimate of
    * "normal".
    *
    * Exactness: median and MAD are `percentile_disc` (actual data
    * values); the flag is the cross-multiplied DECIMAL comparison
    * `|r − med|·10¹² > k_micros·1482602·MAD` — no division, no
    * doubles, replayable. Zero-MAD groups (a majority of identical
    * residuals) flag any nonzero deviation — deviating from a
    * constant majority IS anomalous; the degenerate direction is
    * documented, not hidden. Returns ONLY the flagged rows (with
    * the full decomposition and the group MAD attached) — the
    * alarm stream, not a row-per-observation dump.
    *
    * Scale: inherits [[decompose]]'s guarded contract; the
    * decomposition localCheckpoints once (three consumers: median,
    * MAD, flag join — each would otherwise re-run the quadratic
    * fit), and everything past it is series/group-scale. */
  def robustAnomalies(df: DataFrame, keyCol: String, xExpr: Column,
      slotExpr: Column, valueMicrosCol: String,
      thresholdMicros: Long = 3000000L,
      maxGroupPoints: Long = 10000L): DataFrame = {
    require(thresholdMicros > 0,
      s"thresholdMicros must be > 0 (got $thresholdMicros)")
    val d = decompose(df, keyCol, xExpr, slotExpr, valueMicrosCol,
      maxGroupPoints).localCheckpoint(true)
    val med = d.groupBy(col(keyCol)).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY residual_micros)")
        .cast("long").as("__med"))
    val dm = d.join(med, keyCol)
      .withColumn("__ad", abs(col("residual_micros") - col("__med")))
    val mad = dm.groupBy(col(keyCol)).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __ad)")
        .cast("long").as("mad_micros"))
    dm.join(mad, keyCol)
      .filter(expr(s"CAST(__ad AS DECIMAL(38,0)) * 1000000000000 > " +
        s"CAST($thresholdMicros AS DECIMAL(38,0)) * 1482602 * mad_micros"))
      .select(col(keyCol), col("x"), col("slot"), col("value_micros"),
        col("trend_micros"), col("seasonal_micros"),
        col("residual_micros"), col("mad_micros"))
  }

  /** Kendall τ-b rank correlation per group — [[theilSen]]'s
    * significance companion (the Mann–Kendall trend test IS Kendall's
    * τ against time): classify every pair as concordant, discordant,
    * or tied, then `τ_b = (C − D) / √((n₀−T_x)(n₀−T_y))` with
    * `n₀ = n(n−1)/2` and tie corrections per axis. Rank-based, so one
    * outlier moves τ by at most its pair count — the robustness
    * Pearson lacks; unlike Spearman it has a direct probabilistic
    * reading (P(concordant) − P(discordant)).
    *
    * Exactness: every pair verdict is a pure sign comparison (no
    * products — nothing can overflow), all five counts are exact
    * integers, and the single double step is one mirrored
    * `(C−D)/√(decimal·decimal)` tree, micro-quantized. Pair
    * classification is invariant to how identical (x, y) rows are
    * numbered, so the row_number pair orientation is deterministic
    * across engines. An all-tied axis returns NULL τ (undefined),
    * not a divide-by-zero.
    *
    * Scale: the [[theilSen]] posture — quadratic per SERIES behind
    * the loud `maxGroupPoints` pre-flight, fixed-width pairs only. */
  def kendallTau(df: DataFrame, keyCols: Seq[String], xExpr: Column,
      yExpr: Column, maxGroupPoints: Long = 10000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(keyCols.map(col) ++ Seq(
        xExpr.cast("long").as("__x"), yExpr.cast("long").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val worst = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
    val worstN = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(worstN <= maxGroupPoints,
      s"a group holds $worstN points (cap $maxGroupPoints) — the " +
        "pair classification is quadratic per group; resample the " +
        "series or raise the cap deliberately")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__x"), col("__y"))
    val idx = base.withColumn("__i", row_number().over(w))
    val a = idx.select(keyCols.map(col) ++ Seq(col("__i").as("__ia"),
      col("__x").as("__xa"), col("__y").as("__ya")): _*)
    val b = idx.select(keyCols.map(col) ++ Seq(col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb")): _*)
    val conc = (col("__xa") < col("__xb") && col("__ya") < col("__yb")) ||
      (col("__xa") > col("__xb") && col("__ya") > col("__yb"))
    val disc = (col("__xa") < col("__xb") && col("__ya") > col("__yb")) ||
      (col("__xa") > col("__xb") && col("__ya") < col("__yb"))
    val counts = a.join(b, keyCols).filter(col("__ia") < col("__ib"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(when(conc, 1L).otherwise(0L)).as("__c"),
        sum(when(disc, 1L).otherwise(0L)).as("__d"),
        sum(when(col("__xa") === col("__xb"), 1L).otherwise(0L))
          .as("__tx"),
        sum(when(col("__ya") === col("__yb"), 1L).otherwise(0L))
          .as("__ty"))
    val ns = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__np"))
    val n0 = (col("__np").cast("decimal(38,0)") * (col("__np") - 1L))
    val den = ((n0 - lit(2L) * col("__tx")) *
      (n0 - lit(2L) * col("__ty"))).cast("double")
    ns.join(counts, keyCols)
      .select(keyCols.map(col) ++ Seq(
        col("__np").cast("bigint").as("n_points"),
        col("__c").cast("bigint").as("n_concordant"),
        col("__d").cast("bigint").as("n_discordant"),
        when(den > 0.0,
          round((col("__c") - col("__d")).cast("double") * 2.0 /
            sqrt(den) * 1e6).cast("long"))
          .otherwise(lit(null).cast("long")).as("tau_b_micros")): _*)
  }

  /** Croston's method for INTERMITTENT demand — the forecaster the
    * Holt family is wrong for (reference scope: the same per-period
    * volume forecasting README.md's aggregation queries feed, but for
    * series that are MOSTLY ZERO — spare parts, rare SKUs, long-tail
    * document sources): SES over a zero-heavy series collapses toward
    * zero between demands and spikes after each one; Croston smooths
    * the nonzero demand SIZES and the INTER-DEMAND INTERVALS as two
    * separate SES states and forecasts their ratio, plus the
    * Syntetos-Boylan (SBA) bias correction `·(1 − α/2)`.
    *
    * Exactness: both states are the [[holtForecast]] truncating-long
    * recurrence (`(α·new·10⁶ + (10⁶−α)·state) / 10⁶` in micro units,
    * Java `/` == DuckDB `//` on the non-negative inputs enforced
    * here), the size state seeded at the first demand, the interval
    * state seeded at the SECOND (the first interval is the first
    * observation of an interval — before it the state does not
    * exist); the rate and SBA are truncating divisions of exact
    * longs — a keyed recursive-CTE oracle with scalar BIGINT state
    * (the proven ts_holt shape) replays every step bit for bit. Keys
    * with fewer than 2 demand points emit nothing (no interval was
    * ever observed — a forecast would be an invention). Negative
    * demand sizes refuse loudly (intermittent DEMAND is a count or a
    * quantity; a negative row means the caller fed returns or
    * deltas, which Croston does not model).
    *
    * Returns one row per key: (key, n_demands, size_micros,
    * interval_micros, croston_micros — forecast demand per period,
    * sba_micros). Scale: one key shuffle, one per-group ordered fold
    * over DEMAND POINTS only (the zeros never shuffle — for a
    * 99%-zero series the fold reads 1% of the rows); output is
    * key-scale. */
  def croston(df: DataFrame, keyCol: String, orderCol: String,
      demandCol: String, alphaPpm: Long = 200000L): DataFrame = {
    requirePpm("alphaPpm", alphaPpm)
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, demandCol, col("x") =!= 0L) {
      (k, pts) =>
      pts.find(_._2 < 0L).foreach { bad =>
        throw new IllegalArgumentException(
          s"croston: negative demand ${bad._2} at order ${bad._1} " +
            s"(key $k) — demand sizes must be non-negative")
      }
      // z·10⁶ (and the final rate numerator zState·10⁶) must stay a
      // long: 9·10⁶ bounds both at < 10¹⁹ for every α — refuse loudly
      pts.find(_._2 > 9000000L).foreach { bad =>
        throw new IllegalArgumentException(
          s"croston: demand ${bad._2} at order ${bad._1} (key $k) " +
            "exceeds the overflow-safe bound 9000000 — quantize coarser")
      }
      if (pts.length < 2) Iterator.empty
      else {
        var zState = pts(0)._2 * 1000000L
        var qState = 0L
        var i = 1
        while (i < pts.length) {
          val (o, z) = pts(i)
          val q = o - pts(i - 1)._1
          // q = 0 means two demands at one order value (malformed
          // input — the period axis must be strictly increasing);
          // q > 9·10⁶ would overflow α·q·10⁶ for α → 10⁶
          if (q < 1L || q > 9000000L)
            throw new IllegalArgumentException(
              s"croston: inter-demand interval $q at order $o " +
                s"(key $k) outside [1, 9000000] — orders must be " +
                "strictly increasing integers at a sane period scale")
          qState =
            if (i == 1) q * 1000000L
            else Recurrences.smooth(qState, q * 1000000L, alphaPpm)
          zState = Recurrences.smooth(zState, z * 1000000L, alphaPpm)
          i += 1
        }
        val rate = zState * 1000000L / qState
        val sba = rate * (1000000L - alphaPpm / 2L) / 1000000L
        Iterator.single((k, pts.length.toLong, zState, qState, rate, sba))
      }
    }
      .toDF(keyCol, "n_demands", "size_micros", "interval_micros",
        "croston_micros", "sba_micros")
      .orderBy(col(keyCol))
  }

  /** EWMA volatility (the RiskMetrics recurrence) of a keyed series —
    * the VARIANCE twin of the Holt/EWMA level forecasters already
    * here: `v_t = λ·v_{t−1} + (1−λ)·r_t²` over the first differences
    * `r_t = x_t − x_{t−1}`, the estimator monitoring dashboards use
    * for "how noisy is this stream RIGHT NOW" (a rolling stddev
    * forgets abruptly at the window edge; EWMA decays smoothly and
    * carries no window buffer).
    *
    * Exactness: v is held in micro units and the recurrence is one
    * truncating long division per step
    * (`(λ·v + (10⁶−λ)·r²·10⁶) / 10⁶` — every operand an exact long,
    * Java `/` == DuckDB `//` on the non-negative v), so a keyed
    * recursive-CTE oracle with scalar BIGINT state replays every
    * row; sigma is ONE mirrored IEEE tree `round(√(v/10⁶)·10⁶)` from
    * the exact integer v. The first row of each key carries r = 0,
    * v = 0 by the seed convention. Overflow: v is a (truncated)
    * convex combination of past `r²·10⁶` terms, so the recurrence
    * numerator is bounded by `10⁶·max(r)²·10⁶` — |r| ≤ 3000 keeps it
    * under Long.MaxValue for EVERY λ; the fold refuses loudly above
    * that rather than wrap (at that magnitude the caller should
    * quantize the series coarser, not lose bits silently).
    *
    * Returns every observation: (key, o, x, ret, var_micros,
    * sigma_micros). Scale: one key shuffle + one per-group ordered
    * fold (the EWMA posture); output is row-scale fixed-width. */
  def ewmVolatility(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, lambdaPpm: Long = 940000L): DataFrame = {
    requirePpm("lambdaPpm", lambdaPpm)
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueCol) { (k, pts) =>
      var v = 0L
      var prev = pts(0)._2
      var first = true
      pts.iterator.map { case (o, x) =>
        val r = if (first) 0L else x - prev
        if (!first)
          v = Recurrences.ewmVar(v, r, lambdaPpm, "ewmVolatility",
            s" at order $o (key $k)")
        first = false
        prev = x
        (k, o, x, r, v, Recurrences.sigma(v))
      }
    }
      .toDF(keyCol, "o", "x", "ret", "var_micros", "sigma_micros")
      .orderBy(col(keyCol), col("o"))
  }

  /** Kalman LOCAL-LEVEL filter — the state-space member the classical
    * family (AR, Holt, Holt–Winters, Croston, EWMA) lacks: the model
    * `level_t = level_{t−1} + w_t (Var w = Q)`,
    * `y_t = level_t + v_t (Var v = R)`, filtered exactly. Unlike the
    * fixed-α EWMA, the gain is TIME-VARYING — high while the level
    * estimate is uncertain (early observations move it a lot), then
    * settling to the steady state the Q/R ratio implies — which is
    * what makes the filter the principled version of "how much should
    * this observation move my estimate".
    *
    * Integer recurrence in the proven ts_holt scalar-BIGINT keyed
    * shape (every operation a long add/multiply or ONE truncating
    * long division — Java `/` and DuckDB `//` truncate identically,
    * so a recursive-CTE oracle replays every step exactly):
    *   P⁻ = P_{t−1} + Q                      (prediction variance)
    *   K  = P⁻·10⁶ / (P⁻ + R)               (gain in ppm)
    *   e  = y_t − l_{t−1}                    (innovation, exact)
    *   l_t = l_{t−1} + K·e / 10⁶
    *   P_t = P⁻·(10⁶ − K) / 10⁶
    * Init (documented convention): l₁ = y₁, P₁ = R (one observation's
    * worth of certainty), K₁ = 0, e₁ = 0. Q and R are micro-variance
    * config longs; values in micro units.
    *
    * Overflow is guarded LOUDLY (the croston/ewmVolatility
    * discipline): P never exceeds P⁻ ≤ R + Q, so `qMicros + rMicros ≤
    * 9·10¹²` keeps `P⁻·10⁶` inside a long (enforced at entry), and
    * any |innovation| > 9·10¹² throws at the offending step
    * (K ≤ 10⁶ would overflow K·e past 2⁶³).
    *
    * Returns one row per observation:
    * (key, o, x, innovation_micros, gain_ppm, level_micros, p_micros).
    *
    * Scale: one key shuffle, per-group in-memory sort + O(n) fold —
    * the [[holtForecast]] posture (group = one key's bounded series;
    * pre-aggregate to a cadence first). */
  def kalmanLocalLevel(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String, qMicros: Long = 1000000000L,
      rMicros: Long = 10000000000L): DataFrame = {
    Recurrences.requireKalmanVars("qMicros", qMicros, "rMicros", rMicros)
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, pts) =>
      var l = pts(0)._2
      var p = rMicros
      var first = true
      pts.iterator.map { case (o, x) =>
        if (first) {
          first = false
          (k, o, x, 0L, 0L, l, p)
        } else {
          // P⁻ = P + Q <= R + Q by induction (P_t <= P⁻), bounded at entry
          val (e, gain, l2, p2) = Recurrences.kalman(l, p, x, qMicros,
            rMicros, "kalmanLocalLevel", s" at order $o (key $k)")
          l = l2; p = p2
          (k, o, x, e, gain, l, p)
        }
      }
    }
      .toDF(keyCol, "o", "x", "innovation_micros", "gain_ppm",
        "level_micros", "p_micros")
      .orderBy(col(keyCol), col("o"))
  }

  /** [[kalmanLocalLevel]] over a FIXED GRID WITH GAPS — the filter's
    * real edge over any fixed-α smoother: a missing observation is a
    * PREDICT-ONLY step (level carries forward, variance grows by Q,
    * no innovation), so uncertainty honestly accumulates across a
    * gap and the NEXT observation gets a correspondingly larger gain
    * — where an EWMA either skips the gap (pretending time didn't
    * pass) or fabricates a zero. The grid is per key from the first
    * to the last observation in steps of `stepMicros`' order units;
    * every observed order must sit on the grid (guarded loudly —
    * a misaligned timestamp means the caller aggregated wrong).
    *
    * Same truncating-long recurrence as the filter; gap rows emit
    * NULL x/innovation/gain with `observed = false`. The recursive-
    * CTE oracle replays every grid step, observed or not.
    *
    * Returns one row per GRID point: (key, o, x, observed,
    * innovation_micros, gain_ppm, level_micros, p_micros).
    *
    * Scale: the filter's posture plus the densified grid — guarded
    * at 500k grid points per key (the grid is materialized in the
    * group fold; pre-aggregate to a coarser cadence past that). */
  def kalmanLocalLevelGaps(df: DataFrame, keyCol: String,
      orderCol: String, valueMicrosCol: String, step: Long,
      qMicros: Long = 1000000000L,
      rMicros: Long = 10000000000L): DataFrame = {
    require(step > 0L, s"step must be > 0 (got $step)")
    Recurrences.requireKalmanVars("qMicros", qMicros, "rMicros", rMicros)
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, obs) =>
      val byO = scala.collection.mutable.LongMap.empty[Long]
      obs.foreach { case (o, x) =>
        require(!byO.contains(o),
          s"kalmanLocalLevelGaps: duplicate order $o (key $k)" +
            " — the grid needs one value per point")
        byO(o) = x
      }
      val (lo, hi) = (obs.head._1, obs.last._1)
      obs.foreach { case (o, _) =>
        require((o - lo) % step == 0,
          s"kalmanLocalLevelGaps: order $o (key $k) is off " +
            s"the $step-grid anchored at $lo — aggregate to the " +
            "grid cadence first")
      }
      val nPoints = (hi - lo) / step + 1
      require(nPoints <= 500000L,
        s"kalmanLocalLevelGaps: $nPoints grid points (key $k) " +
          "exceed the 500k in-memory fold guard — coarsen the grid")
      var l = obs.head._2
      var p = rMicros
      var first = true
      (0L until nPoints).iterator.map { j =>
        val o = lo + j * step
        val xOpt = byO.get(o)
        def where = s" at order $o (key $k)"
        // a gap lets P + Q grow past the entry bound on Q + R, so it is
        // guarded on every step after the seed
        def predicted = Recurrences.kalmanPredict(p, qMicros,
          "kalmanLocalLevelGaps", where, "qMicros")
        if (first) {
          first = false
          (k, o, xOpt, true, Option(0L), Option(0L), l, p)
        } else if (xOpt.isEmpty) {
          p = predicted // predict-only: uncertainty accumulates
          (k, o, Option.empty[Long], false, Option.empty[Long],
            Option.empty[Long], l, p)
        } else {
          predicted // guarded before the gain's P⁻·10⁶ multiply
          val (e, gain, l2, p2) = Recurrences.kalman(l, p, xOpt.get,
            qMicros, rMicros, "kalmanLocalLevelGaps", where)
          l = l2; p = p2
          (k, o, xOpt, true, Option(e), Option(gain), l, p)
        }
      }
    }
      .toDF(keyCol, "o", "x", "observed", "innovation_micros",
        "gain_ppm", "level_micros", "p_micros")
      .orderBy(col(keyCol), col("o"))
  }

  /** Rauch–Tung–Striebel SMOOTHER for the local-level model — the
    * hindsight pass [[kalmanLocalLevel]] cannot give: the filter at
    * time t has seen only y₁..y_t; the smoother conditions every
    * level on the WHOLE series (the retrospective "what was the level
    * really doing" read a backfill or anomaly postmortem wants).
    * Forward pass = the filter recurrence verbatim; backward pass
    *   C_t = P_t·10⁶ / (P_t + Q)          (smoother gain, ppm)
    *   l̃_t = l_t + C_t·(l̃_{t+1} − l_t) / 10⁶
    * (the local-level prediction mean at t+1 IS l_t, so the classic
    * x̃ₜ = x̂ₜ + C·(x̃ₜ₊₁ − x̂ₜ₊₁|ₜ) collapses to one line), seeded
    * l̃_n = l_n. Same truncating-long arithmetic, so a DOUBLY
    * recursive CTE oracle (one forward, one backward over i = n..1)
    * replays every step. Overflow bounds inherit the filter's
    * guards: P ≤ R keeps C's numerator inside a long, and the
    * smoothing correction |l̃_{t+1} − l_t| is bounded by the filtered
    * levels themselves (guarded loudly at the filter).
    *
    * Returns one row per observation:
    * (key, o, x, level_micros — filtered, c_ppm, smooth_micros).
    *
    * Scale: the [[kalmanLocalLevel]] posture — one key shuffle, one
    * per-group O(n) forward fold + O(n) backward fold in memory
    * (group = one key's bounded, pre-aggregated series). */
  def kalmanSmooth(df: DataFrame, keyCol: String, orderCol: String,
      valueMicrosCol: String, qMicros: Long = 1000000000L,
      rMicros: Long = 10000000000L): DataFrame = {
    Recurrences.requireKalmanVars("qMicros", qMicros, "rMicros", rMicros)
    val spark = df.sparkSession
    import spark.implicits._
    foldByKey(df, keyCol, orderCol, valueMicrosCol) { (k, xs) =>
      val n = xs.length
      val ls = new Array[Long](n)
      val ps = new Array[Long](n)
      ls(0) = xs(0)._2; ps(0) = rMicros
      var t = 1
      while (t < n) {
        val (o, x) = xs(t)
        val (_, _, l, p) = Recurrences.kalman(ls(t - 1), ps(t - 1), x,
          qMicros, rMicros, "kalmanSmooth", s" at order $o (key $k)")
        ls(t) = l; ps(t) = p
        t += 1
      }
      val sm = new Array[Long](n)
      val cs = new Array[Long](n)
      sm(n - 1) = ls(n - 1)
      cs(n - 1) = 0L // no later evidence flows into the last step
      t = n - 2
      while (t >= 0) {
        val c = ps(t) * 1000000L / (ps(t) + qMicros)
        // the smoothing delta is bounded by the whole-series
        // spread of filtered levels, not the per-step innovation
        // guard — a long drifting series could overflow c·delta
        // where the forward pass stays legal, so guard it here
        // with the same loud discipline
        val delta = sm(t + 1) - ls(t)
        if (math.abs(delta) > Recurrences.Bound)
          throw new IllegalArgumentException(
            s"kalmanSmooth: |smoothing delta| ${math.abs(delta)} " +
              s"at order ${xs(t)._1} (key $k) exceeds the " +
              "overflow-safe bound 9e12 — quantize the series " +
              "coarser")
        sm(t) = ls(t) + c * delta / 1000000L
        cs(t) = c
        t -= 1
      }
      (0 until n).iterator.map(i =>
        (k, xs(i)._1, xs(i)._2, ls(i), cs(i), sm(i)))
    }
      .toDF(keyCol, "o", "x", "level_micros", "c_ppm", "smooth_micros")
      .orderBy(col(keyCol), col("o"))
  }

  /** Lag-1 Granger causality between two aligned series — the
    * DIRECTED co-movement question [[win-rolling correlation]] style
    * monitors cannot answer (correlation is symmetric; "do clicks
    * LEAD purchases or just move with them?" is what a funnel owner
    * actually asks): for each direction, compare the restricted
    * autoregression `T_t ~ 1 + T_{t−1}` against the full
    * `T_t ~ 1 + T_{t−1} + O_{t−1}` and report the classical F
    * statistic `(n−3)·(RSS_r − RSS_f)/RSS_f` (1 numerator df). Both
    * directions come from ONE moment pass.
    *
    * Exactness: all 14 raw moments are exact integer sums in one
    * row-scale aggregate; the centered cross-moments
    * `C_ab = n·Σab − Σa·Σb`, the determinant and the two RSS
    * numerators `P = C_TT·C_11 − C_T1²`,
    * `Q = C_TT·det − (C_T1²·C_22 − 2·C_T1·C_T2·C_12 + C_T2²·C_11)`
    * are DECIMAL(38,0)-exact (n·RSS_r = P/C_11, n·RSS_f = Q/det by
    * the Cramer elimination), and F is ONE mirrored IEEE tree
    * `(n−3)·(P/C11 − Q/det)/(Q/det)` over doubles cast from those
    * exact integers — a second engine replays it bit for bit.
    * Degenerate cases are NULL, never a division error: a constant
    * lag regressor (C11 ≤ 0), collinear lags (det ≤ 0), or a perfect
    * full fit (Q ≤ 0, F would be infinite). Fewer than 10 aligned
    * lagged rows emit nothing (an F on single-digit df is noise
    * theater). The lag is ROW-lag over the given order (densify the
    * grid first if calendar gaps must count as zeros).
    *
    * Returns two rows: (direction ∈ {x_to_y, y_to_x}, n_obs,
    * f_micros). Scale: one row-scale aggregate to a single moment
    * row; everything after is constant work. DECIMAL(38,0) holds Q
    * to |series sums| ~10¹², far past any quantized hourly volume. */
  def grangerLag1(df: DataFrame, orderCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col(orderCol))
    val lagged = df.select(col(orderCol),
        col(xCol).cast("long").as("__xt"),
        col(yCol).cast("long").as("__yt"))
      .withColumn("__x1", lag(col("__xt"), 1).over(w))
      .withColumn("__y1", lag(col("__yt"), 1).over(w))
      .filter(col("__x1").isNotNull && col("__y1").isNotNull &&
        col("__xt").isNotNull && col("__yt").isNotNull)
    val m = lagged.agg(
      count(lit(1)).as("n"),
      sum(col("__yt")).as("syt"), sum(col("__xt")).as("sxt"),
      sum(col("__y1")).as("sy1"), sum(col("__x1")).as("sx1"),
      sum(col("__yt") * col("__yt")).as("sytyt"),
      sum(col("__xt") * col("__xt")).as("sxtxt"),
      sum(col("__y1") * col("__y1")).as("sy1y1"),
      sum(col("__x1") * col("__x1")).as("sx1x1"),
      sum(col("__yt") * col("__y1")).as("syty1"),
      sum(col("__yt") * col("__x1")).as("sytx1"),
      sum(col("__xt") * col("__x1")).as("sxtx1"),
      sum(col("__xt") * col("__y1")).as("sxty1"),
      sum(col("__y1") * col("__x1")).as("sy1x1"))
      .filter(col("n") >= 10L)
      .localCheckpoint(true) // 1-row moment table, two consumers
    // centered moment C_ab = n·Σab − Σa·Σb, DECIMAL-exact
    def c(sab: String, sa: String, sb: String) =
      (col("n").cast(dec) * col(sab) - col(sa).cast(dec) * col(sb))
        .cast(dec)
    def direction(name: String, stt: String, st: String, s1: String,
        s2: String, st1: String, st2: String, s11: String, s22: String,
        s12: String) = {
      val ctt = c(stt, st, st)
      val ct1 = c(st1, st, s1)
      val ct2 = c(st2, st, s2)
      val c11 = c(s11, s1, s1)
      val c22 = c(s22, s2, s2)
      val c12 = c(s12, s1, s2)
      val det = (c11 * c22 - c12 * c12).cast(dec)
      val p = (ctt * c11 - ct1 * ct1).cast(dec)
      val q = (ctt * det - (ct1 * ct1 * c22 - lit(2L) * ct1 * ct2 * c12 +
        ct2 * ct2 * c11)).cast(dec)
      val rssR = p.cast("double") / c11.cast("double")
      val rssF = q.cast("double") / det.cast("double")
      m.select(lit(name).as("direction"),
        col("n").cast("bigint").as("n_obs"),
        when(c11 > 0 && det > 0 && q > 0,
          round((col("n") - 3L).cast("double") * (rssR - rssF) / rssF
            * 1e6).cast("long"))
          .otherwise(lit(null).cast("long")).as("f_micros"))
    }
    direction("x_to_y", "sytyt", "syt", "sy1", "sx1", "syty1", "sytx1",
        "sy1y1", "sx1x1", "sy1x1")
      .unionByName(direction("y_to_x", "sxtxt", "sxt", "sx1", "sy1",
        "sxtx1", "sxty1", "sx1x1", "sy1y1", "sy1x1"))
      .orderBy(col("direction"))
  }

  /** Moving-average CROSSOVER signals — the regime-change flag a
    * monitoring dashboard actually draws: when the `fast`-row mean
    * crosses ABOVE the `slow`-row mean the series has turned up
    * ("golden"), when it crosses below it has turned down ("death").
    * The comparison is exact — `fastSum·slow vs slowSum·fast` in
    * DECIMAL(38,0), never two truncated means whose rounding could
    * invent or swallow a crossing — and a signal fires only when the
    * sign flips against the LAST NONZERO sign: a flat tie extends no
    * signal AND carries no regime of its own, so +,0,+ is a touch-
    * and-return (silent), −,0,+ is one golden at the +, and rows
    * before any nonzero sign exists never fire (there is no regime
    * to cross from). Only rows with BOTH windows full participate
    * (a half-warm mean is noise, not a regime).
    *
    * Returns one row per signal: (o, signal ∈ {golden, death},
    * fast_mean_milli, slow_mean_milli — truncating `sum·1000 div k`).
    *
    * Scale: two rolling sums + one lag over a single ordered window
    * pass (pre-aggregate to a cadence first; the ts family
    * contract). */
  def maCrossover(df: DataFrame, orderExpr: Column, valueExpr: Column,
      fast: Int = 6, slow: Int = 24): DataFrame =
    maCrossoverByKey(df, lit(0L), orderExpr, valueExpr, fast, slow)
      .drop("key")

  /** Per-key [[maCrossover]] — the FLEET-of-series monitoring shape
    * (one signal stream per metric/tenant/device): identical
    * semantics per key, but every window partitions by the key, so
    * the whole fleet runs in ONE window pass distributed across
    * executors instead of a single-partition sort per series.
    * Returns (key, o, signal, fast_mean_milli, slow_mean_milli).
    *
    * Scale: one hash-shuffle on the key + per-partition sorts; a
    * series never leaves its partition, so the fleet parallelizes to
    * however many keys exist. */
  def maCrossoverByKey(df: DataFrame, keyExpr: Column,
      orderExpr: Column, valueExpr: Column,
      fast: Int = 6, slow: Int = 24): DataFrame = {
    require(fast >= 1, s"fast must be >= 1 (got $fast)")
    require(slow > fast, s"slow must exceed fast (got $slow <= $fast)")
    val dec = "decimal(38,0)"
    val base = df.select(keyExpr.as("key"), orderExpr.as("__o"),
        valueExpr.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val w = Window.partitionBy(col("key")).orderBy(col("__o"))
    def winSum(k: Int) = sum(col("__x"))
      .over(w.rowsBetween(-(k - 1), 0))
    def winCnt(k: Int) = count(lit(1))
      .over(w.rowsBetween(-(k - 1), 0))
    val scored = base
      .withColumn("__fs", winSum(fast))
      .withColumn("__ss", winSum(slow))
      .withColumn("__full", winCnt(slow) === slow.toLong)
      .withColumn("__d",
        (col("__fs").cast(dec) * slow - col("__ss").cast(dec) * fast)
          .cast(dec))
      .filter(col("__full"))
      .withColumn("__sgn",
        when(col("__d") > 0, 1).when(col("__d") < 0, -1).otherwise(0))
      // the regime is the last NONZERO sign — a lag-1 comparison has
      // no memory across a zero touch, so +,0,+ would fire a phantom
      // golden (the pre-tie regime was already up)
      .withColumn("__pnz",
        last(when(col("__sgn") =!= 0, col("__sgn")), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("__pnz").isNotNull)
    scored
      .withColumn("signal",
        when(col("__sgn") === 1 && col("__pnz") === -1, "golden")
          .when(col("__sgn") === -1 && col("__pnz") === 1, "death"))
      .filter(col("signal").isNotNull)
      .select(col("key"), col("__o").as("o"), col("signal"),
        expr(s"CAST(CAST(__fs AS DECIMAL(38,0)) * 1000 div $fast" +
          " AS BIGINT)").as("fast_mean_milli"),
        expr(s"CAST(CAST(__ss AS DECIMAL(38,0)) * 1000 div $slow" +
          " AS BIGINT)").as("slow_mean_milli"))
      .orderBy(col("key"), col("o"))
  }

  /** Wald–Wolfowitz RUNS test — is the series random around its
    * median, or does it trend/oscillate? The nonparametric
    * randomness diagnostic next to [[autocorrelation]] (the acf says
    * HOW values co-move; the runs test gives one calibrated verdict):
    * mark each value above/below the LOWER MEDIAN (the rank-based
    * actual value both engines agree on; ties with the median drop —
    * the standard convention), count the runs R of consecutive equal
    * marks, and score `z = (R − μ)/σ` with
    * `μ = 2·n₁·n₂/(n₁+n₂) + 1` and
    * `σ² = 2·n₁·n₂·(2·n₁·n₂ − n₁ − n₂) / ((n₁+n₂)²·(n₁+n₂−1))`.
    * Too FEW runs = trending/sticky; too MANY = oscillating.
    *
    * Exactness: the median is an order statistic (row (n+1) div 2 of
    * the sort — an actual value, never an average); marks, R, n₁, n₂
    * are exact integers; μ and σ are ONE mirrored IEEE tree over
    * doubles cast from those integers, z micro-rounded. Degenerate
    * splits (n₁ = 0 or n₂ = 0, or 2·n₁·n₂ ≤ n₁+n₂ — the σ² = 0 case
    * n₁ = n₂ = 1 included) return a NULL z, never a division error
    * or an infinity.
    *
    * Returns 1 row: (n_above, n_below, n_runs, z_micros,
    * nonrandom_at_5pct = |z| > 1.96). Scale: one sort-based median
    * rank + one ordered lag scan + 1-row aggregates — all window
    * work over a single ordered pass (pre-aggregate to a cadence
    * first; a diagnostic is series-scale by contract). */
  def runsTest(df: DataFrame, orderExpr: Column,
      valueExpr: Column): DataFrame = {
    val base = df.select(orderExpr.as("__o"),
        valueExpr.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .localCheckpoint(true) // median rank + mark scan
    val n = base.count()
    require(n >= 1, "runsTest needs at least 1 non-NULL value")
    val med = base
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__x"), col("__o"))))
      .filter(col("__rk") === (n + 1) / 2)
      .head().getLong(1) // 1-row order-statistic lookup
    val marks = base
      .filter(col("__x") =!= med)
      .withColumn("__up", (col("__x") > med).cast("long"))
    val w = Window.orderBy(col("__o"))
    val runs = marks
      .withColumn("__prev", lag(col("__up"), 1).over(w))
      .agg(
        coalesce(sum(col("__up")), lit(0L)).as("n_above"),
        (count(lit(1)) - coalesce(sum(col("__up")), lit(0L)))
          .as("n_below"),
        (coalesce(sum(when(col("__prev").isNull ||
          col("__prev") =!= col("__up"), 1L).otherwise(0L)), lit(0L)))
          .as("n_runs"))
    runs.select(
        col("n_above").cast("bigint").as("n_above"),
        col("n_below").cast("bigint").as("n_below"),
        col("n_runs").cast("bigint").as("n_runs"),
        runsZMicros.as("z_micros"))
      .withColumn("nonrandom_at_5pct",
        when(col("z_micros").isNotNull, abs(col("z_micros")) > 1960000L)
          .otherwise(lit(null).cast("boolean")))
  }

  /** The mirrored-IEEE z tree shared by [[runsTest]] and
    * [[runsTestByKey]] over (n_above, n_below, n_runs) columns —
    * NULL on every degenerate split, one definition so the keyed
    * form can never drift from the graded single-series one. */
  private def runsZMicros: Column =
    when(col("n_above") > 0L && col("n_below") > 0L &&
      lit(2L) * col("n_above") * col("n_below") >
        col("n_above") + col("n_below"),
      round((col("n_runs").cast("double") -
        (lit(2.0) * col("n_above") * col("n_below") /
          (col("n_above") + col("n_below")).cast("double") +
          lit(1.0))) /
        sqrt(lit(2.0) * col("n_above") * col("n_below") *
          (lit(2.0) * col("n_above") * col("n_below") -
            col("n_above") - col("n_below")).cast("double") /
          ((col("n_above") + col("n_below")).cast("double") *
            (col("n_above") + col("n_below")).cast("double") *
            (col("n_above") + col("n_below") - 1L).cast("double")))
        * 1e6).cast("long"))
      .otherwise(lit(null).cast("long"))

  /** Per-key [[runsTest]] — the fleet-of-series randomness screen:
    * one verdict row per key, the per-key LOWER MEDIAN computed
    * IN-PLAN (a rank window + a conditional max over the key
    * partition — no driver-side order-statistic lookup, so the fleet
    * never serializes through the driver). Keys whose every value
    * ties the median (zero marks) surface with n_runs = 0 and a NULL
    * z rather than vanishing. Returns one row per key:
    * (key, n_above, n_below, n_runs, z_micros, nonrandom_at_5pct).
    *
    * Scale: one hash-shuffle on the key, two per-partition sorts
    * (rank by value, scan by order), one hash-agg — a series never
    * leaves its partition. */
  def runsTestByKey(df: DataFrame, keyExpr: Column, orderExpr: Column,
      valueExpr: Column): DataFrame = {
    val base = df.select(keyExpr.as("key"), orderExpr.as("__o"),
        valueExpr.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val wK = Window.partitionBy(col("key"))
    val wRank = Window.partitionBy(col("key"))
      .orderBy(col("__x"), col("__o"))
    // lower median as an order statistic per key: row (n+1) div 2 of
    // the (value, order) sort — an actual value, never an average
    val withMed = base
      .withColumn("__n", count(lit(1)).over(wK))
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__med",
        max(when(col("__rk") === expr("(__n + 1) div 2"), col("__x")))
          .over(wK))
    val wOrd = Window.partitionBy(col("key")).orderBy(col("__o"))
    val agg = withMed
      .filter(col("__x") =!= col("__med"))
      .withColumn("__up", (col("__x") > col("__med")).cast("long"))
      .withColumn("__prev", lag(col("__up"), 1).over(wOrd))
      .groupBy(col("key"))
      .agg(
        coalesce(sum(col("__up")), lit(0L)).as("n_above"),
        (count(lit(1)) - coalesce(sum(col("__up")), lit(0L)))
          .as("n_below"),
        coalesce(sum(when(col("__prev").isNull ||
          col("__prev") =!= col("__up"), 1L).otherwise(0L)), lit(0L))
          .as("n_runs"))
    base.select(col("key")).distinct()
      .join(agg, Seq("key"), "left")
      .select(col("key"),
        coalesce(col("n_above"), lit(0L)).cast("bigint").as("n_above"),
        coalesce(col("n_below"), lit(0L)).cast("bigint").as("n_below"),
        coalesce(col("n_runs"), lit(0L)).cast("bigint").as("n_runs"))
      .select(col("key"), col("n_above"), col("n_below"), col("n_runs"),
        runsZMicros.as("z_micros"))
      .withColumn("nonrandom_at_5pct",
        when(col("z_micros").isNotNull, abs(col("z_micros")) > 1960000L)
          .otherwise(lit(null).cast("boolean")))
      .orderBy(col("key"))
  }

  /** Keyed fleet MODEL SELECTION — [[modelSelect]]'s three-way
    * AR / ARIMA / SARIMA readout for EVERY series in a keyed fleet,
    * entirely IN-PLAN (the ByKey discipline [[runsTestByKey]] /
    * [[maCrossoverByKey]] set: no per-key driver funnel, no
    * SinglePartition window — one hash-shuffle on the key,
    * key-partitioned windows, key-grouped aggregates). The capacity
    * planner's first fleet question ("which of my 10 000 metrics
    * trend, which cycle, which are noise?") becomes one query.
    *
    * Differences from the single-series member, both forced by the
    * in-plan contract and documented here rather than hidden:
    *  - the AR order is FIXED at p = 3 (the [[modelSelect]] default):
    *    Durbin–Levinson to order 3 has a closed form that stamps as
    *    column algebra per key; an arbitrary p would need a per-key
    *    driver recursion.
    *  - the per-key dominant period is measured IN-PLAN (the
    *    ts_dominant_period argmax — acf over lags 2..`maxPeriod`,
    *    (acf desc, lag) tie-break) and consumed through a
    *    computed-offset self-join (a window `lag` cannot take a
    *    per-key offset).
    *  - ineligible keys EMIT NOTHING instead of failing the job: a
    *    key is selected only if every variant (levels, first
    *    differences, seasonal differences at its measured period) has
    *    enough points for the order-3 fit (≥ 4 acf pairs at lag 3), a
    *    positive centered sum of squares, non-degenerate
    *    Durbin–Levinson denominators, and micro-phis within ±10
    *    (|φ| > 10 is a numerically meaningless fit whose residual
    *    algebra would also threaten the 9.2·10¹⁸ long bound).
    *
    * Exactness: per key, the [[arimaVsAr]] integer machinery
    * verbatim — quantized acf (`round(num/den·10⁶)` over the exact
    * integer-centered series `y = n·x − s`), the fixed ascending-j
    * Durbin–Levinson closed form on the quantized r's (one mirrored
    * IEEE tree), micro-phi residuals by truncating division, each
    * MAE one truncating DECIMAL division on the level scale, ties to
    * the simpler model. A SQL oracle replays every key's selection
    * value-for-value.
    *
    * SIDE-EFFECTING: one 1-row overflow pre-flight (max over keys of
    * n·(max|x|+1) must stay ≤ 7·10¹⁰ so every residual term fits a
    * long with the ±10⁷ phi cap) runs eagerly — the only driver
    * touch; it is a separate job, not part of the returned plan.
    *
    * Returns one row per eligible key: (key, n_levels, n_diffs,
    * n_sdiffs, p = 3, period, mae_ar_micros, mae_arima_micros,
    * mae_sarima_micros, mase_arima_ppm, mase_sarima_ppm,
    * best_model).
    *
    * Scale: the acf/period pass is series-scale × maxPeriod
    * fixed-width rows per key (the [[autocorrelation]] explode, keyed);
    * everything else is key-partitioned windows + key-grouped
    * hash-aggs. A series never leaves its partition. */
  def modelSelectByKey(df: DataFrame, keyExpr: Column,
      orderExpr: Column, valueExpr: Column,
      maxPeriod: Int = 48): DataFrame = {
    require(maxPeriod >= 2 && maxPeriod <= 100000,
      s"maxPeriod must be in [2, 100000] (got $maxPeriod)")
    val spark = df.sparkSession
    val dec = "decimal(38,0)"
    val base = df.select(keyExpr.as("key"), orderExpr.as("__o"),
        valueExpr.cast("long").as("__x"))
      .filter(col("key").isNotNull && col("__x").isNotNull)
      .withColumn("__i", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("__o"))).cast("long"))
      .select(col("key"), col("__i"), col("__x"))
      .localCheckpoint(true) // period pass + three variant fits
    // overflow pre-flight: |y| = |n·x − s| ≤ 2·n·max|x|, diffs double
    // it, and the residual tree is 10⁶·y + 3·10⁷·y — the 7e10 cap
    // keeps the worst term sum under 9.2e18 with margin
    val bound = base.groupBy(col("key"))
      .agg((count(lit(1)) * (max(abs(col("__x"))) + 1L)).as("__b"))
      .agg(coalesce(max(col("__b")), lit(0L))).head().getLong(0)
    require(bound <= 70000000000L,
      s"modelSelectByKey: max over keys of n·(max|x|+1) = $bound " +
        "exceeds the overflow-safe bound 7e10 for the integer residual " +
        "algebra — quantize the series coarser or split the fleet")
    // ---- per-key dominant period (the ts_dominant_period argmax) ----
    val stL = base.groupBy(col("key"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
    // consumed three ways (denominator + both sides of the lag join)
    val yL = base.join(stL, "key")
      .select(col("key"), col("__i"),
        (col("__n") * col("__x") - col("__s")).as("__y"))
      .localCheckpoint(true)
    val denP = yL.groupBy(col("key"))
      .agg(sum(col("__y").cast(dec) * col("__y")).as("__den"))
    val lagsDf = spark.range(2L, maxPeriod + 1L)
      .select(col("id").as("__lag"))
    val numP = yL.select(col("key"), col("__i"), col("__y").as("__yl"))
      .crossJoin(broadcast(lagsDf))
      .withColumn("__j", col("__i") + col("__lag"))
      .join(yL.select(col("key"), col("__i").as("__j"),
        col("__y").as("__yr")), Seq("key", "__j"))
      .groupBy(col("key"), col("__lag"))
      .agg(sum(col("__yl").cast(dec) * col("__yr")).as("__num"))
    val wPer = Window.partitionBy(col("key"))
      .orderBy(col("__am").desc, col("__lag"))
    // one row per key — materialized: the period table is consumed by
    // BOTH the seasonal-difference builder and the final readout join,
    // and its acf subtree (the maxPeriod-way explode + self-join) is
    // the most expensive fragment of the whole fit; without the
    // checkpoint the optimizer re-plans and re-runs it per consumer
    // (duplicated-subtree blowup — guide §3.3 "materialise an
    // intermediate to truncate the plan")
    val period = numP.join(denP, "key")
      .filter(col("__den") > 0)
      .withColumn("__am", round(col("__num").cast("double") /
        col("__den").cast("double") * lit(1e6)).cast("long"))
      .withColumn("__rk", row_number().over(wPer))
      .filter(col("__rk") === 1)
      .select(col("key"), col("__lag").as("__per"))
      .localCheckpoint(true)
    // ---- variant series: levels, first diffs, seasonal diffs ----
    // each variant series is consumed twice inside fitMae (the stats
    // agg and the centered-series build) — materialize once so the
    // window/join subtrees don't replicate into every consumer
    val wOrd = Window.partitionBy(col("key")).orderBy(col("__i"))
    val diffs = base
      .withColumn("__d", col("__x") - lag(col("__x"), 1).over(wOrd))
      .filter(col("__d").isNotNull)
      .select(col("key"), col("__i"), col("__d").as("__x"))
      .localCheckpoint(true)
    val sdiffs = base.join(period, "key")
      .withColumn("__j", col("__i") - col("__per"))
      .join(base.select(col("key"), col("__i").as("__j"),
        col("__x").as("__xp")), Seq("key", "__j"))
      .select(col("key"), col("__i"),
        (col("__x") - col("__xp")).as("__x"))
      .localCheckpoint(true)
    // ---- the per-key AR(3) fit + level-scale MAE, stamped 3x ----
    def fitMae(v: DataFrame): DataFrame = {
      val st = v.groupBy(col("key"))
        .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
      // y feeds both the acf-numerator agg and the residual pass —
      // materialize once (same duplicated-subtree argument as period)
      val y = v.join(st, "key")
        .select(col("key"), col("__i"),
          (col("__n") * col("__x") - col("__s")).as("__y"))
        .localCheckpoint(true)
      val wk = Window.partitionBy(col("key")).orderBy(col("__i"))
      val nums = y
        .withColumn("__l1", lead(col("__y"), 1).over(wk))
        .withColumn("__l2", lead(col("__y"), 2).over(wk))
        .withColumn("__l3", lead(col("__y"), 3).over(wk))
        .groupBy(col("key"))
        .agg(sum(col("__y").cast(dec) * col("__y")).as("__den"),
          sum(col("__y").cast(dec) * col("__l1")).as("__nm1"),
          sum(col("__y").cast(dec) * col("__l2")).as("__nm2"),
          sum(col("__y").cast(dec) * col("__l3")).as("__nm3"),
          count(col("__l3")).as("__np3"))
      // closed-form Durbin–Levinson to order 3 on the QUANTIZED acf —
      // the pacf contract's fixed ascending-j order, stamped as one
      // mirrored IEEE tree per key; eligibility filters mirror the
      // single-series loud guards (acf defined at lags 1..3 with >= 4
      // pairs at lag 3, non-zero DL denominators, sane phis)
      def am(nm: String) = round(col(nm).cast("double") /
        col("__den").cast("double") * lit(1e6)).cast("long")
      val phis = nums
        .filter(col("__den") > 0 && col("__np3") >= 4)
        .withColumn("__r1", am("__nm1").cast("double") / lit(1e6))
        .withColumn("__r2", am("__nm2").cast("double") / lit(1e6))
        .withColumn("__r3", am("__nm3").cast("double") / lit(1e6))
        .withColumn("__pd2", lit(1.0) - col("__r1") * col("__r1"))
        .filter(col("__pd2") =!= 0.0)
        .withColumn("__pkk2",
          (col("__r2") - col("__r1") * col("__r1")) / col("__pd2"))
        .withColumn("__phi21",
          col("__r1") - col("__pkk2") * col("__r1"))
        .withColumn("__pd3", lit(1.0) -
          (col("__phi21") * col("__r1") + col("__pkk2") * col("__r2")))
        .filter(col("__pd3") =!= 0.0)
        .withColumn("__pkk3", (col("__r3") -
          (col("__phi21") * col("__r2") + col("__pkk2") * col("__r1")))
          / col("__pd3"))
        .withColumn("__m1", round((col("__phi21") -
          col("__pkk3") * col("__pkk2")) * lit(1e6)).cast("long"))
        .withColumn("__m2", round((col("__pkk2") -
          col("__pkk3") * col("__phi21")) * lit(1e6)).cast("long"))
        .withColumn("__m3",
          round(col("__pkk3") * lit(1e6)).cast("long"))
        .filter(abs(col("__m1")) <= 10000000L &&
          abs(col("__m2")) <= 10000000L &&
          abs(col("__m3")) <= 10000000L)
        .select(col("key"), col("__m1"), col("__m2"), col("__m3"))
      val resid = y
        .withColumn("__y1", lag(col("__y"), 1).over(wk))
        .withColumn("__y2", lag(col("__y"), 2).over(wk))
        .withColumn("__y3", lag(col("__y"), 3).over(wk))
        .filter(col("__y3").isNotNull)
        .join(phis, "key")
        .select(col("key"),
          expr("(1000000 * __y - __m1 * __y1 - __m2 * __y2" +
            " - __m3 * __y3) div 1000000").as("__e"))
      resid.groupBy(col("key"))
        .agg(count(lit(1)).as("__m"),
          sum(abs(col("__e")).cast(dec)).as("__sae"))
        .join(st.select(col("key"), col("__n")), "key")
        .select(col("key"), col("__n"),
          expr("CAST(CAST(__sae AS DECIMAL(38,0)) * 1000000" +
            " div (CAST(__m AS DECIMAL(38,0)) * __n) AS BIGINT)")
            .as("__mae"))
    }
    val fAr = fitMae(base).select(col("key"),
      col("__n").as("n_levels"), col("__mae").as("mae_ar_micros"))
    val fDi = fitMae(diffs).select(col("key"),
      col("__n").as("n_diffs"), col("__mae").as("mae_arima_micros"))
    val fSd = fitMae(sdiffs).select(col("key"),
      col("__n").as("n_sdiffs"), col("__mae").as("mae_sarima_micros"))
    fAr.join(fDi, "key").join(fSd, "key").join(period, "key")
      .select(col("key"),
        col("n_levels").cast("bigint").as("n_levels"),
        col("n_diffs").cast("bigint").as("n_diffs"),
        col("n_sdiffs").cast("bigint").as("n_sdiffs"),
        lit(3L).as("p"),
        col("__per").cast("bigint").as("period"),
        col("mae_ar_micros"), col("mae_arima_micros"),
        col("mae_sarima_micros"),
        expr("CAST(CAST(mae_arima_micros AS DECIMAL(38,0)) * 1000000" +
          " div nullif(mae_ar_micros, 0) AS BIGINT)")
          .as("mase_arima_ppm"),
        expr("CAST(CAST(mae_sarima_micros AS DECIMAL(38,0)) * 1000000" +
          " div nullif(mae_ar_micros, 0) AS BIGINT)")
          .as("mase_sarima_ppm"))
      .withColumn("best_model",
        when(col("mae_ar_micros") <= col("mae_arima_micros") &&
          col("mae_ar_micros") <= col("mae_sarima_micros"), "ar")
          .when(col("mae_arima_micros") <= col("mae_sarima_micros"),
            "arima")
          .otherwise("sarima"))
      .orderBy(col("key"))
  }
}
