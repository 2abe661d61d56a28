package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Features, Percentiles}

/** Feature engineering: percentile buckets, encodings, calibration,
  * ranking and regression features. */
object FeatureQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("feat_auc", (s, dir) => {
      import s.implicits._
      // Exact tie-corrected ROC-AUC of order value predicting urgent
      // priority — the Mann-Whitney identity over distinct scores, no
      // global sort, every term an exact integer. One row.
      graft.operators.OrderedStats.aucExact(Tables.orders(s, dir),
        $"o_totalprice",
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
    },
    // tie-corrected Mann-Whitney AUC: 2U accumulates as exact
    // integers over distinct scores; one double division by 2·n₊·n₋
    Oracle("""WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t
        |  FROM orders),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(cb) OVER (ORDER BY v) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_pos,
        |    CAST(sum(cb) AS BIGINT) AS n_neg FROM c)
        |SELECT tot.n_pos, tot.n_neg,
        |  CAST(round(
        |    CAST(sum(ca * (2 * (cum_b - cb) + cb)) AS DOUBLE)
        |    / CAST(2 * CAST(tot.n_pos AS HUGEINT) * tot.n_neg AS DOUBLE)
        |    * 1000000) AS BIGINT) AS auc_micros
        |FROM cc, tot GROUP BY tot.n_pos, tot.n_neg""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_spearman", (s, dir) => {
      import s.implicits._
      // Exact Spearman rank correlation of price vs quantity: both
      // rankings via the two-phase prefix sum, average-rank ties kept
      // exact by doubling, Pearson moments as DECIMAL integers, one
      // mirrored num/(sqrt*sqrt) tree. One row.
      graft.operators.OrderedStats.spearman(Tables.lineitem(s, dir),
        $"l_extendedprice", $"l_quantity")
    },
    // doubled average ranks are exact integers; HUGEINT moments, one
    // num/(sqrt*sqrt) tree — doubling cancels in the ratio
    Oracle("""WITH rws AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |    CAST(l_quantity AS DOUBLE) AS y FROM lineitem),
        |cx AS (SELECT x, count(*) AS c FROM rws GROUP BY 1),
        |ccx AS (SELECT x, 2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS rx
        |  FROM cx),
        |cy AS (SELECT y, count(*) AS c FROM rws GROUP BY 1),
        |ccy AS (SELECT y, 2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS ry
        |  FROM cy),
        |r AS (SELECT rx, ry FROM rws
        |  JOIN ccx USING (x) JOIN ccy USING (y)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(rx) AS sx,
        |    sum(ry) AS sy, sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy FROM r)
        |SELECT n, CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |  * 1000000) AS BIGINT) AS rho_micros
        |FROM m""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_gains", (s, dir) => {
      import s.implicits._
      // Cumulative gains/lift at score deciles for the same
      // score/label pair as feat_auc — the targeting table an AUC
      // summarizes; tie groups land whole in one decile, gain is an
      // integer div, lift one IEEE division of DECIMAL products.
      graft.operators.OrderedStats.gainsTable(Tables.orders(s, dir),
        $"o_totalprice",
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
    },
    // gains/lift replay: same negated-score cumsum, integer-div gain,
    // one double division for lift over DECIMAL/HUGEINT products
    Oracle("""WITH s AS (SELECT -CAST(o_totalprice AS DOUBLE) AS v,
        |    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t
        |  FROM orders),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(ca + cb) OVER (ORDER BY v) AS cum_t FROM c),
        |tot AS (SELECT CAST(sum(ca + cb) AS BIGINT) AS n,
        |    CAST(sum(ca) AS BIGINT) AS npos FROM c),
        |b AS (SELECT CAST((cum_t - 1) * 10 // tot.n AS INT) AS decile,
        |    ca, cb FROM cc, tot),
        |g AS (SELECT decile, CAST(sum(ca + cb) AS BIGINT) AS n_rows,
        |    CAST(sum(ca) AS BIGINT) AS n_pos FROM b GROUP BY 1),
        |gg AS (SELECT decile, n_rows, n_pos,
        |    sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
        |    sum(n_rows) OVER (ORDER BY decile) AS cum_rows FROM g)
        |SELECT decile, n_rows, n_pos, CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CAST(cum_pos * 1000000 // tot.npos AS BIGINT) AS gain_ppm,
        |  CAST(round(CAST(cum_pos * tot.n AS DOUBLE) /
        |    CAST(cum_rows * tot.npos AS DOUBLE) * 1000000) AS BIGINT)
        |    AS lift_micros
        |FROM gg, tot ORDER BY decile""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_cdf_normalize", (s, dir) => {
      import s.implicits._
      // Quantile (CDF) normalization per group — the rank-based
      // feature transform: each order's cents mapped to its Hazen
      // plotting position (2r−1)/2n within its priority, in exact
      // ppm. rank() shares positions across ties on both engines, so
      // every row replays.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).select($"o_orderkey",
        $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      val w = Window.partitionBy($"o_orderpriority").orderBy($"cents")
      o.withColumn("__r", rank().over(w))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy($"o_orderpriority")))
        .select($"o_orderkey", $"o_orderpriority", $"cents",
          expr("(2 * CAST(__r AS BIGINT) - 1) * 1000000 div (2 * __n)")
            .cast("long").as("cdf_ppm"))
        .orderBy($"o_orderkey")
    },
    // rank() shares tie positions identically; Hazen ppm is integer
    // floor-div on non-negatives
    Oracle("""WITH v AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT *, rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY cents) AS rk,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n FROM v)
        |SELECT o_orderkey, o_orderpriority, cents,
        |  CAST((2 * rk - 1) * 1000000 // (2 * n) AS BIGINT) AS cdf_ppm
        |FROM r ORDER BY o_orderkey""".stripMargin),
    bench = true),

    QuerySpec("feat_isotonic", (s, dir) => {
      import s.implicits._
      // PAVA-calibrated click-score -> P(>= 13 purchases) per user
      // segment: integer-exact pooling; no SQL replay for the loop —
      // raw dump rows-only, honesty in feat_isotonic_gate.
      val per = Tables.events(s, dir).groupBy($"user_id")
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L))
            .as("score"),
          (sum(when($"event_type" === "purchase", 1L).otherwise(0L)) >= 13L)
            .cast("long").as("label"))
        .withColumn("seg", pmod($"user_id", lit(2)))
      graft.operators.Features.isotonicCalibrate(per, "seg",
        $"score", $"label")
    },
    Gate("feat_isotonic_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("feat_isotonic_gate", (s, dir) => {
      import s.implicits._
      // Deterministic companion: per segment the block means are
      // STRICTLY increasing (adjacent equal means must have pooled),
      // n and label totals conserve exactly against an independent
      // aggregate, and the blocks tile the observed score range.
      import org.apache.spark.sql.expressions.Window
      val per = Tables.events(s, dir).groupBy($"user_id")
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L))
            .as("score"),
          (sum(when($"event_type" === "purchase", 1L).otherwise(0L)) >= 13L)
            .cast("long").as("label"))
        .withColumn("seg", pmod($"user_id", lit(2)))
      val blocks = graft.operators.Features.isotonicCalibrate(per, "seg",
        $"score", $"label").cache()
      val w = Window.partitionBy($"seg").orderBy($"block")
      val mono = blocks
        .withColumn("__prev", lag($"mean_ppm", 1).over(w))
        .agg(coalesce(sum(when($"__prev".isNotNull &&
          $"__prev" >= $"mean_ppm", 1L).otherwise(0L)), lit(0L)) === 0L)
        .toDF("monotone_strict")
      val want = per.groupBy($"seg")
        .agg(count(lit(1)).as("__n"), sum($"label").as("__pos"),
          min($"score").as("__lo"), max($"score").as("__hi"))
      val got = blocks.groupBy($"seg")
        .agg(sum($"n").as("n2"), sum($"sum_labels").as("pos2"),
          min($"score_lo").as("lo2"), max($"score_hi").as("hi2"))
      val conserve = want.join(got, Seq("seg"))
        .agg((coalesce(sum(when($"__n" === $"n2" && $"__pos" === $"pos2" &&
          $"__lo" === $"lo2" && $"__hi" === $"hi2", 0L).otherwise(1L)),
          lit(0L)) === 0L).as("conserved"))
      blocks.agg(countDistinct($"seg").cast("bigint").as("n_segments"))
        .crossJoin(mono).crossJoin(conserve)
    },
    Oracle("""SELECT CAST(2 AS BIGINT) AS n_segments, TRUE AS monotone_strict,
        |  TRUE AS conserved""".stripMargin),
    eagerBuild = true),

    QuerySpec("feat_decayed_activity", (s, dir) => {
      import s.implicits._
      // Per-event exponentially decayed activity score (1-hour
      // half-life): the recency-weighted engagement feature; every
      // double in the fold replays bit-for-bit through the oracle's
      // recursive CTE (same IEEE token order, exp agrees on identical
      // inputs). Micro-rounded only at the output edge.
      graft.operators.Features.decayedScore(Tables.events(s, dir),
          "user_id", "ts", "event_id", "value", halfLifeSeconds = 3600L)
        .orderBy($"user_id", $"event_id")
    },
    // the decayed-sum recurrence replayed bit-for-bit: same IEEE token
    // order, exp on identical doubles, ln 2 as the same literal
    Oracle("""WITH RECURSIVE e AS (SELECT user_id, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS i
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, ts, i, value AS s FROM e WHERE i = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.ts, e.i,
        |    e.value + exp(-(CAST(CAST(floor(epoch(e.ts)) AS BIGINT)
        |      - CAST(floor(epoch(r.ts)) AS BIGINT) AS DOUBLE)
        |      * 0.6931471805599453 / 3600.0)) * r.s
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.i = r.i + 1)
        |SELECT user_id, event_id,
        |  CAST(round(s * 1000000) AS BIGINT) AS score_micros
        |FROM r ORDER BY user_id, event_id""".stripMargin),
    bench = true),

    QuerySpec("feat_eb_shrinkage", (s, dir) => {
      import s.implicits._
      // Empirical-Bayes shrinkage of per-nation urgent-order rates —
      // thin nations pull toward the prior, rich ones barely move.
      // Rates quantize to exact ppm FIRST, so the MoM prior is a
      // pure function of integers; one mirrored tree per posterior.
      val j = Tables.orders(s, dir).join(Tables.customer(s, dir),
        $"o_custkey" === $"c_custkey")
      Features.ebShrinkRates(j, $"c_nationkey",
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
    },
    // rates quantized to ppm first; MoM prior and posteriors are
    // mirrored trees over exact integers; degenerate prior = pass-through
    Oracle("""WITH seg AS (SELECT c_nationkey AS segment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority IN
        |      ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |r AS (SELECT *, CAST((CAST(successes AS HUGEINT) * 1000000)
        |    // n AS BIGINT) AS raw_ppm FROM seg),
        |pr AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(raw_ppm AS HUGEINT)) AS HUGEINT) AS sp,
        |    CAST(sum(CAST(raw_ppm AS HUGEINT) * raw_ppm) AS HUGEINT)
        |      AS qp
        |  FROM r),
        |p2 AS (SELECT *,
        |    CAST(sp AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0 AS m,
        |    CAST(k AS HUGEINT) * qp - sp * sp AS vnum
        |  FROM pr),
        |p3 AS (SELECT *,
        |    CASE WHEN k >= 2 AND vnum > 0 THEN
        |      m * (1.0 - m)
        |      / (CAST(vnum AS DOUBLE)
        |        / CAST(CAST(k AS HUGEINT) * (k - 1) AS DOUBLE)
        |        / 1000000000000.0) - 1.0
        |    END AS kp
        |  FROM p2)
        |SELECT r.segment, r.n, r.successes, r.raw_ppm,
        |  CASE WHEN p3.kp IS NOT NULL AND p3.kp > 0.0 THEN
        |    CAST(round((CAST(r.successes AS DOUBLE) + p3.kp * p3.m)
        |      / (CAST(r.n AS DOUBLE) + p3.kp) * 1000000) AS BIGINT)
        |  ELSE r.raw_ppm END AS shrunk_ppm,
        |  CASE WHEN p3.kp IS NOT NULL AND p3.kp > 0.0
        |    THEN CAST(round(p3.kp * 1000000) AS BIGINT) END
        |    AS prior_strength_micros
        |FROM r, p3 ORDER BY r.segment""".stripMargin),
    bench = true),

    QuerySpec("feat_cuped", (s, dir) => {
      import s.implicits._
      // CUPED variance reduction over per-user pre/post cents (x =
      // first half of January, y = second half — the canonical
      // pre-period covariate). θ comes from exact integer moments,
      // so θ and every adjusted value replay bit-for-bit.
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
        .withColumn("cents", round($"value" * 100).cast("long"))
      val perUser = ev.groupBy($"user_id")
        .agg(sum(when($"ts" < cut, $"cents").otherwise(0L)).as("x_pre"),
          sum(when($"ts" >= cut, $"cents").otherwise(0L)).as("y_post"))
      Features.cuped(perUser, $"y_post", $"x_pre")
        .select($"user_id", $"x_pre", $"y_post", $"theta", $"y_adj")
        .orderBy($"user_id")
    },
    // exact integer moments; theta and the adjustment are one mirrored
    // division tree — raw doubles match bit-for-bit
    Oracle("""WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x_pre,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y_post
        |  FROM events GROUP BY 1),
        |m AS (SELECT count(*) AS n,
        |  sum(CAST(x_pre AS HUGEINT)) AS sx,
        |  sum(CAST(y_post AS HUGEINT)) AS sy,
        |  sum(CAST(x_pre AS HUGEINT) * y_post) AS sxy,
        |  sum(CAST(x_pre AS HUGEINT) * x_pre) AS sxx FROM u),
        |t AS (SELECT
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
        |    THEN CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
        |         CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |    ELSE 0.0 END AS theta,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar FROM m)
        |SELECT u.user_id, u.x_pre, u.y_post, t.theta,
        |  CAST(u.y_post AS DOUBLE) - t.theta *
        |    (CAST(u.x_pre AS DOUBLE) - t.xbar) AS y_adj
        |FROM u, t ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("feat_cuped_multi", (s, dir) => {
      import s.implicits._
      // Two-covariate CUPED: pre-period spend AND pre-period event
      // count jointly adjust post-period spend (the covariates
      // correlate, so two sequential single-covariate passes are NOT
      // the joint answer). Exact integer moments; theta pair by
      // Cramer's rule in mirrored doubles; every adjusted value
      // replays bit-for-bit.
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
        .withColumn("cents", round($"value" * 100).cast("long"))
      val perUser = ev.groupBy($"user_id")
        .agg(sum(when($"ts" < cut, $"cents").otherwise(0L)).as("x_pre"),
          sum(when($"ts" < cut, 1L).otherwise(0L)).as("n_pre"),
          sum(when($"ts" >= cut, $"cents").otherwise(0L)).as("y_post"))
      Features.cupedMulti(perUser, $"y_post", $"x_pre", $"n_pre")
        .select($"user_id", $"x_pre", $"n_pre", $"y_post",
          $"theta1", $"theta2", $"y_adj")
        .orderBy($"user_id")
    },
    // nine HUGEINT moments; Cramer's rule in mirrored doubles at the
    // cast edge (A*A products can pass 38 digits); singular -> 0,0
    Oracle("""WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x2,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  sum(CAST(x1 AS HUGEINT)) AS s1,
        |  sum(CAST(x2 AS HUGEINT)) AS s2,
        |  sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x1 AS HUGEINT) * x1) AS s11,
        |  sum(CAST(x2 AS HUGEINT) * x2) AS s22,
        |  sum(CAST(x1 AS HUGEINT) * x2) AS s12,
        |  sum(CAST(x1 AS HUGEINT) * y) AS s1y,
        |  sum(CAST(x2 AS HUGEINT) * y) AS s2y FROM u),
        |c AS (SELECT n, s1, s2,
        |  CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
        |  CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
        |  CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
        |  CAST(n * s1y - s1 * sy AS DOUBLE) AS b1,
        |  CAST(n * s2y - s2 * sy AS DOUBLE) AS b2 FROM m),
        |t AS (SELECT
        |  CASE WHEN a11 * a22 - a12 * a12 > 0.0
        |    THEN (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)
        |    ELSE 0.0 END AS theta1,
        |  CASE WHEN a11 * a22 - a12 * a12 > 0.0
        |    THEN (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)
        |    ELSE 0.0 END AS theta2,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS xb1,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS xb2 FROM c)
        |SELECT u.user_id, u.x1 AS x_pre, u.x2 AS n_pre,
        |  u.y AS y_post, t.theta1, t.theta2,
        |  CAST(u.y AS DOUBLE)
        |    - t.theta1 * (CAST(u.x1 AS DOUBLE) - t.xb1)
        |    - t.theta2 * (CAST(u.x2 AS DOUBLE) - t.xb2) AS y_adj
        |FROM u, t ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("feat_percentile_buckets", (s, dir) => {
      import s.implicits._
      // README.md:236-261 shape: per-part percentile array of
      // quantities, broadcast-joined back, CASE-ladder bucket label.
      // PERF PIN: exact percentile is the one memory-unbounded
      // aggregate here — its TypedImperativeAggregate buffers every
      // group value, which is the whole cost of this query (~1 s over
      // the approx twin at sf0.1, plus ~0.3 s for the key-only
      // pre-flight guard that keeps 100×-grown groups from OOMing an
      // executor). The bounded 100 TB paths are the _approx and _kll
      // twins behind the same operator surface; this query keeps
      // exact=true deliberately because it is the semantics the
      // reference ran.
      Percentiles.bucketByJoin(
          Tables.lineitem(s, dir), "l_partkey", $"l_quantity".cast("int"),
          outCols = Seq("l_suppkey"))
        .select($"l_suppkey".as("provider"), $"l_partkey".as("code"), $"bucket")
        .distinct()
        .orderBy($"provider", $"code", $"bucket")
    },
    Oracle("""WITH p AS (
        |  SELECT l_partkey,
        |    quantile_cont(CAST(l_quantity AS INT), [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,0.95,0.99]) AS pct
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT DISTINCT l.l_suppkey AS provider, l.l_partkey AS code,
        |  CASE WHEN CAST(l_quantity AS INT) <= pct[1] THEN '10'
        |       WHEN CAST(l_quantity AS INT) <= pct[2] THEN '20'
        |       WHEN CAST(l_quantity AS INT) <= pct[3] THEN '30'
        |       WHEN CAST(l_quantity AS INT) <= pct[4] THEN '40'
        |       WHEN CAST(l_quantity AS INT) <= pct[5] THEN '50'
        |       WHEN CAST(l_quantity AS INT) <= pct[6] THEN '60'
        |       WHEN CAST(l_quantity AS INT) <= pct[7] THEN '70'
        |       WHEN CAST(l_quantity AS INT) <= pct[8] THEN '80'
        |       WHEN CAST(l_quantity AS INT) <= pct[9] THEN '90'
        |       WHEN CAST(l_quantity AS INT) <= pct[10] THEN '95'
        |       WHEN CAST(l_quantity AS INT) <= pct[11] THEN '99'
        |       ELSE '99+' END AS bucket
        |FROM lineitem l JOIN p ON l.l_partkey = p.l_partkey
        |ORDER BY provider, code, bucket""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_percentile_buckets_window", (s, dir) => {
      import s.implicits._
      // the idiomatic single-pass rewrite of the join form: one
      // percent_rank() window, no join, no percentile buffer
      Percentiles.bucketByWindow(
          Tables.lineitem(s, dir), "l_partkey", $"l_quantity".cast("int"),
          outCols = Seq("l_suppkey"))
        .select($"l_suppkey".as("provider"), $"l_partkey".as("code"), $"bucket")
        .distinct()
        .orderBy($"provider", $"code", $"bucket")
    },
    Oracle("""WITH r AS (
        |  SELECT l_suppkey, l_partkey,
        |    percent_rank() OVER (PARTITION BY l_partkey ORDER BY CAST(l_quantity AS INT)) AS pr
        |  FROM lineitem)
        |SELECT DISTINCT l_suppkey AS provider, l_partkey AS code,
        |  CASE WHEN pr <= 0.1 THEN '10'
        |       WHEN pr <= 0.2 THEN '20'
        |       WHEN pr <= 0.3 THEN '30'
        |       WHEN pr <= 0.4 THEN '40'
        |       WHEN pr <= 0.5 THEN '50'
        |       WHEN pr <= 0.6 THEN '60'
        |       WHEN pr <= 0.7 THEN '70'
        |       WHEN pr <= 0.8 THEN '80'
        |       WHEN pr <= 0.9 THEN '90'
        |       WHEN pr <= 0.95 THEN '95'
        |       WHEN pr <= 0.99 THEN '99'
        |       ELSE '99+' END AS bucket
        |FROM r
        |ORDER BY provider, code, bucket""".stripMargin),
    bench = true),

    QuerySpec("feat_percentile_buckets_approx", (s, dir) => {
      import s.implicits._
      // the 100 TB path: percentile_approx's bounded sketch instead of
      // the exact percentile's unbounded per-group buffer. accuracy
      // 1000 ≫ the per-key group size at every test sf, so the sketch
      // never compresses and the result equals the exact oracle while
      // costing ~10× less sketch maintenance than the default 10000
      // (crossover recorded in README).
      // Tables.wide: per-key sketch maintenance is the whole cost —
      // map-side parallelism pays (r21 A/B: +0.87 s win); accuracy ≫
      // group sizes keeps the sketch uncompressed, so the result is
      // exact and partitioning-independent
      Percentiles.bucketByJoin(
          Tables.wide(Tables.lineitem(s, dir)), "l_partkey",
          $"l_quantity".cast("int"),
          outCols = Seq("l_suppkey"), exact = false, accuracy = 1000)
        .select($"l_suppkey".as("provider"), $"l_partkey".as("code"), $"bucket")
        .distinct()
        .orderBy($"provider", $"code", $"bucket")
    },
    // percentile_approx returns an actual order statistic; with groups
    // far under the sketch accuracy it is exact and equals DuckDB's
    // quantile_disc (verified row-for-row at sf0.01)
    Oracle("""WITH p AS (
        |  SELECT l_partkey,
        |    quantile_disc(CAST(l_quantity AS INT), [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,0.95,0.99]) AS pct
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT DISTINCT l.l_suppkey AS provider, l.l_partkey AS code,
        |  CASE WHEN CAST(l_quantity AS INT) <= pct[1] THEN '10'
        |       WHEN CAST(l_quantity AS INT) <= pct[2] THEN '20'
        |       WHEN CAST(l_quantity AS INT) <= pct[3] THEN '30'
        |       WHEN CAST(l_quantity AS INT) <= pct[4] THEN '40'
        |       WHEN CAST(l_quantity AS INT) <= pct[5] THEN '50'
        |       WHEN CAST(l_quantity AS INT) <= pct[6] THEN '60'
        |       WHEN CAST(l_quantity AS INT) <= pct[7] THEN '70'
        |       WHEN CAST(l_quantity AS INT) <= pct[8] THEN '80'
        |       WHEN CAST(l_quantity AS INT) <= pct[9] THEN '90'
        |       WHEN CAST(l_quantity AS INT) <= pct[10] THEN '95'
        |       WHEN CAST(l_quantity AS INT) <= pct[11] THEN '99'
        |       ELSE '99+' END AS bucket
        |FROM lineitem l JOIN p ON l.l_partkey = p.l_partkey
        |ORDER BY provider, code, bucket""".stripMargin),
    bench = true),

    QuerySpec("feat_percentile_buckets_kll", (s, dir) => {
      import s.implicits._
      // The persistable-sketch bucketing path (bucketBySketch): per-key
      // KLL quantile arrays instead of percentile buffers — at 100 TB
      // the sketch side persists and refreshes by merge instead of
      // rescan. Gate: per-row bucket agreement with an EXACT
      // inclusive-rank boundary array (smallest v with cume_dist >= p
      // — the same quantile convention datasketches KLL uses, so
      // labels can differ only inside the sketch's ~1.65% rank band
      // around a decile boundary; in the uncompacted regime they agree
      // bit-for-bit). Both ladders evaluate in ONE pass over the fact
      // — two per-key aggregate joins, never a row-identity join (the
      // synthetic lineitem has no unique row key; (l_orderkey,
      // l_linenumber) duplicates would fan out).
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_quantity".cast("int").cast("double").as("__v"))
      val w = Window.partitionBy($"l_partkey").orderBy($"__v")
      val ex = li.withColumn("__cd", cume_dist().over(w))
        .groupBy($"l_partkey")
        .agg(array(Percentiles.defaultPs.map(p =>
          min(when($"__cd" >= p, $"__v"))): _*).as("p_exact"))
      val kl = li.groupBy($"l_partkey")
        .agg(graft.functions.kll_sketch_agg($"__v", 200).as("__sk"))
        .select($"l_partkey", array(Percentiles.defaultPs.map(p =>
          graft.functions.kll_quantile($"__sk", lit(p))): _*).as("p_kll"))
      li.join(ex, Seq("l_partkey")).join(kl, Seq("l_partkey"))
        .select(
          Percentiles.bucketLadder($"__v", $"p_exact").as("b_exact"),
          Percentiles.bucketLadder($"__v", $"p_kll").as("b_kll"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          (avg(when($"b_exact" === $"b_kll", 1.0).otherwise(0.0)) >= 0.97)
            .as("kll_agree"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS kll_agree
        |FROM lineitem""".stripMargin)),

    QuerySpec("feat_target_encode", (s, dir) => {
      import s.implicits._
      // K-fold OUT-OF-FOLD target encoding (leakage-controlled
      // mean-target categorical encoder): integral cents target +
      // pure-integer folds make every sum exact, so the one IEEE
      // division tree replays value-for-value in DuckDB.
      Features.targetEncodeOof(
          Tables.events(s, dir).select($"event_id", $"event_type", $"value"),
          "event_type", pmod($"event_id", lit(5)),
          round($"value" * 100), smoothing = 20L)
        .select($"event_id", $"event_type", $"target_enc")
        .orderBy($"event_id")
    },
    // exact integer sums (cents target, id-mod folds); the encoding is
    // one division tree over exact integers mirrored association-for-
    // association — raw doubles match bit-for-bit
    Oracle("""WITH t AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS tgt,
        |    CAST(event_id % 5 AS INT) AS f
        |  FROM events),
        |kf AS (SELECT event_type, f, sum(tgt) AS fs, count(*) AS fn
        |  FROM t GROUP BY 1, 2),
        |k AS (SELECT event_type, sum(fs) AS ks, sum(fn) AS kn
        |  FROM kf GROUP BY 1),
        |g AS (SELECT sum(tgt) AS gs, count(*) AS gn FROM t)
        |SELECT t.event_id, t.event_type,
        |  (CAST(k.ks - kf.fs AS DOUBLE) +
        |    CAST(20 AS DOUBLE) * (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)))
        |  / CAST(k.kn - kf.fn + 20 AS DOUBLE) AS target_enc
        |FROM t JOIN kf ON t.event_type = kf.event_type AND t.f = kf.f
        |       JOIN k ON t.event_type = k.event_type, g
        |ORDER BY event_id""".stripMargin),
    bench = true),

    QuerySpec("feat_elasticity", (s, dir) => {
      import s.implicits._
      // PRICE ELASTICITY per brand — the log-log regression econ
      // reads demand sensitivity from (slope of ln(quantity) on
      // ln(price): −1.2 means a 1% price rise cuts quantity 1.2%):
      // both logs micro-nat quantized (exact integers thereafter),
      // centered moments DECIMAL-exact, the slope ONE truncating
      // cross-multiplied division per brand. Zero-variance brands
      // report NULL, never a division error.
      val dec = "decimal(38,0)"
      // Tables.wide: the per-row double-log micro-quantization runs at
      // scan width through the broadcast join (r21 A/B: +0.59 s win)
      val li = Tables.wide(Tables.lineitem(s, dir))
        .join(Tables.part(s, dir),
          $"l_partkey" === $"p_partkey")
        .select($"p_brand",
          round(log(round($"l_extendedprice" * 100).cast("long")
            .cast("double")) * 1e6).cast("long").as("x"),
          round(log($"l_quantity".cast("double")) * 1e6).cast("long")
            .as("y"))
        .filter($"x".isNotNull && $"y".isNotNull)
      li.groupBy($"p_brand")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
          sum($"x".cast(dec) * $"x").as("sxx"),
          sum($"x".cast(dec) * $"y").as("sxy"))
        .selectExpr("p_brand", "CAST(n AS BIGINT) AS n",
          "CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS cxx",
          "CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS cxy")
        .selectExpr("p_brand", "n",
          "CASE WHEN cxx <= 0 THEN NULL ELSE" +
            " CAST((cxy * 1000000) div cxx AS BIGINT)" +
            " END AS elasticity_ppm")
        .orderBy($"p_brand")
    },
    // micro-nat logs both axes, DECIMAL/HUGEINT centered moments,
    // slope one truncating cross-multiplied division per brand
    Oracle("""WITH li AS (SELECT p_brand,
        |    CAST(round(ln(CAST(CAST(round(l_extendedprice * 100)
        |      AS BIGINT) AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM li GROUP BY 1),
        |c AS (SELECT p_brand, CAST(n AS BIGINT) AS n,
        |    n * sxx - sx * sx AS cxx, n * sxy - sx * sy AS cxy
        |  FROM a)
        |SELECT p_brand, n,
        |  CASE WHEN cxx <= 0 THEN NULL ELSE
        |    CAST((cxy * 1000000) // cxx AS BIGINT) END AS elasticity_ppm
        |FROM c ORDER BY p_brand""".stripMargin),
    bench = true),

    QuerySpec("feat_best_f1", (s, dir) => {
      import s.implicits._
      // The F1-OPTIMAL decision threshold — the tuning step between
      // the score curve readouts (auc/gains) and a deployed rule
      // ("positive when score ≥ t"): for every candidate cut (the
      // distinct quantized scores), TP/FP/FN from one descending
      // cumulative window over the value census, F1 exact via one
      // truncating ppm, argmax (f1 desc, threshold asc). One row:
      // the chosen cut and its confusion/P/R/F1.
      import org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .select(round($"value" * 100).cast("long").as("c"),
          ($"event_type" === "purchase").as("y"))
        .filter($"c".isNotNull)
      val byV = v.groupBy($"c")
        .agg(sum(when($"y", 1L).otherwise(0L)).as("p"),
          count(lit(1)).as("n"))
        .localCheckpoint(true) // totals + cumulative scan
      val tot = byV.agg(sum($"p").as("tp_all"))
      val wDesc = Window.orderBy($"c".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.crossJoin(broadcast(tot)) // 1-row positive total
        .withColumn("tp", sum($"p").over(wDesc))
        .withColumn("pred_pos", sum($"n").over(wDesc))
        .selectExpr("c AS threshold", "tp",
          "pred_pos - tp AS fp", "tp_all - tp AS fn")
        .withColumn("f1_ppm", expr(
          "CAST(CAST(2 * tp AS DECIMAL(38,0)) * 1000000" +
            " div (2 * tp + fp + fn) AS BIGINT)"))
        .withColumn("__rn", row_number().over(
          Window.orderBy($"f1_ppm".desc, $"threshold")))
        .filter($"__rn" === 1)
        .selectExpr("threshold", "CAST(tp AS BIGINT) AS tp",
          "CAST(fp AS BIGINT) AS fp", "CAST(fn AS BIGINT) AS fn",
          "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000" +
            " div (tp + fp) AS BIGINT) AS precision_ppm",
          "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000" +
            " div (tp + fn) AS BIGINT) AS recall_ppm", "f1_ppm")
    },
    // descending cumulative census, exact TP/FP/FN per candidate cut,
    // (f1 desc, threshold) argmax
    Oracle("""WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL),
        |bv AS (SELECT c,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS tp_all FROM bv),
        |w AS (SELECT c, CAST(sum(p) OVER win AS BIGINT) AS tp,
        |    CAST(sum(n) OVER win AS BIGINT) AS pred_pos
        |  FROM bv WINDOW win AS (ORDER BY c DESC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT c AS threshold, tp, pred_pos - tp AS fp,
        |    tp_all - tp AS fn,
        |    CAST((CAST(2 * tp AS HUGEINT) * 1000000)
        |      // (2 * tp + fp + fn) AS BIGINT) AS f1_ppm
        |  FROM w, t),
        |b AS (SELECT *, row_number() OVER (
        |    ORDER BY f1_ppm DESC, threshold) AS rn FROM f)
        |SELECT threshold, tp, fp, fn,
        |  CAST((CAST(tp AS HUGEINT) * 1000000) // (tp + fp)
        |    AS BIGINT) AS precision_ppm,
        |  CAST((CAST(tp AS HUGEINT) * 1000000) // (tp + fn)
        |    AS BIGINT) AS recall_ppm, f1_ppm
        |FROM b WHERE rn = 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_ols_diagnostics", (s, dir) => {
      import s.implicits._
      // Residual DIAGNOSTICS of the hourly click→purchase OLS fit —
      // the step every regression readout here (feat_group_regression,
      // agg_corr_regr) stops short of: a slope means nothing if the
      // residuals are autocorrelated (Durbin-Watson ≈ 2 is clean) or
      // wildly non-normal (Jarque-Bera). Residuals are EXACT up to
      // one stated truncating quantization: e_t ∝ (n·y_t − Sy)·Cxx −
      // Cxy·(n·x_t − Sx) (positive scale n·Cxx preserved — DW, skew,
      // kurtosis are scale-invariant), quantized to micro-residual
      // units by ONE truncating division; DW and the JB pieces are
      // mirrored double trees over the exact integer moments. At
      // micro-residuals beyond ~10⁹ the DECIMAL(38) fourth-power sum
      // would overflow — quantize the series coarser at that scale.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      def hourly(t: String, as: String) = ev
        .filter($"event_type" === t)
        .groupBy(date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as(as))
      val j = hourly("click", "x")
        .join(hourly("purchase", "y"), Seq("hour"), "full_outer")
        .select($"hour", coalesce($"x", lit(0L)).as("x"),
          coalesce($"y", lit(0L)).as("y"))
      val m = j.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"))
      val base = j.crossJoin(broadcast(m)) // 1-row moments
        .selectExpr("hour",
          "CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx AS cxx",
          "CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy AS cxy",
          "n", "sx", "sy", "x", "y")
        .filter($"cxx" > 0)
        .selectExpr("hour",
          "CAST(((CAST(n AS DECIMAL(38,0)) * y - sy) * cxx" +
            " - cxy * (CAST(n AS DECIMAL(38,0)) * x - sx)) * 1000000" +
            " div (CAST(n AS DECIMAL(38,0)) * cxx) AS BIGINT) AS eq")
      val wl = Window.orderBy($"hour")
      base.withColumn("d", $"eq" - lag($"eq", 1).over(wl))
        .agg(count(lit(1)).as("n"),
          sum($"eq".cast("decimal(38,0)")).as("s1"),
          sum($"eq".cast("decimal(38,0)") * $"eq").as("s2"),
          sum($"eq".cast("decimal(38,0)") * $"eq" * $"eq").as("s3"),
          sum($"eq".cast("decimal(38,0)") * $"eq" * $"eq" * $"eq")
            .as("s4"),
          sum($"d".cast("decimal(38,0)") * $"d").as("dwn"))
        .filter($"n" >= 10L)
        .selectExpr("CAST(n AS BIGINT) AS n",
          "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu",
          "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2",
          "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3",
          "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4",
          "CAST(s2 AS DOUBLE) AS s2d", "CAST(dwn AS DOUBLE) AS dwnd")
        .selectExpr("n", "s2d", "dwnd",
          "q2 - mu * mu AS m2",
          "q3 - 3.0 * mu * q2 + 2.0 * mu * mu * mu AS m3",
          "q4 - 4.0 * mu * q3 + 6.0 * mu * mu * q2" +
            " - 3.0 * mu * mu * mu * mu AS m4")
        .selectExpr("n", "s2d", "dwnd", "m2",
          "CASE WHEN m2 <= 0.0 THEN NULL" +
            " ELSE m3 / (m2 * sqrt(m2)) END AS sk",
          "CASE WHEN m2 <= 0.0 THEN NULL" +
            " ELSE m4 / (m2 * m2) - 3.0 END AS kx")
        .selectExpr("n",
          "CASE WHEN s2d <= 0.0 THEN NULL ELSE CAST(round(" +
            "dwnd / s2d * 1000000) AS BIGINT) END AS dw_micros",
          "CAST(round(sk * 1000000) AS BIGINT) AS skew_micros",
          "CAST(round(kx * 1000000) AS BIGINT) AS kurt_excess_micros",
          "CASE WHEN sk IS NULL THEN NULL ELSE CAST(round(" +
            "CAST(n AS DOUBLE) * (sk * sk / 6.0 + kx * kx / 24.0)" +
            " * 1000000) AS BIGINT) END AS jb_micros")
    },
    // exact scaled OLS residuals, ONE truncating micro-quantization,
    // DW + central-moment JB as mirrored double trees
    Oracle("""WITH cl AS (SELECT date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |pu AS (SELECT date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (SELECT coalesce(cl.hour, pu.hour) AS hour,
        |    coalesce(x, 0) AS x, coalesce(y, 0) AS y
        |  FROM cl FULL OUTER JOIN pu ON cl.hour = pu.hour),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy FROM j),
        |b AS (SELECT hour,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
        |    n, sx, sy, x, y FROM j, m),
        |e AS (SELECT hour,
        |    CAST(((CAST(n AS HUGEINT) * y - sy) * cxx
        |      - cxy * (CAST(n AS HUGEINT) * x - sx)) * 1000000
        |      // (CAST(n AS HUGEINT) * cxx) AS BIGINT) AS eq
        |  FROM b WHERE cxx > 0),
        |l AS (SELECT eq, eq - lag(eq) OVER (ORDER BY hour) AS d FROM e),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(eq AS HUGEINT)) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(eq AS HUGEINT) * eq) AS HUGEINT) AS s2,
        |    CAST(sum(CAST(eq AS HUGEINT) * eq * eq) AS HUGEINT) AS s3,
        |    CAST(sum(CAST(eq AS HUGEINT) * eq * eq * eq) AS HUGEINT)
        |      AS s4,
        |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS dwn
        |  FROM l HAVING count(*) >= 10),
        |g AS (SELECT n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(dwn AS DOUBLE) AS dwnd
        |  FROM a),
        |h AS (SELECT n, s2d, dwnd,
        |    q2 - mu * mu AS m2,
        |    q3 - 3.0 * mu * q2 + 2.0 * mu * mu * mu AS m3,
        |    q4 - 4.0 * mu * q3 + 6.0 * mu * mu * q2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM g),
        |k AS (SELECT n, s2d, dwnd,
        |    CASE WHEN m2 <= 0.0 THEN NULL
        |      ELSE m3 / (m2 * sqrt(m2)) END AS sk,
        |    CASE WHEN m2 <= 0.0 THEN NULL
        |      ELSE m4 / (m2 * m2) - 3.0 END AS kx
        |  FROM h)
        |SELECT n,
        |  CASE WHEN s2d <= 0.0 THEN NULL ELSE CAST(round(
        |    dwnd / s2d * 1000000) AS BIGINT) END AS dw_micros,
        |  CAST(round(sk * 1000000) AS BIGINT) AS skew_micros,
        |  CAST(round(kx * 1000000) AS BIGINT) AS kurt_excess_micros,
        |  CASE WHEN sk IS NULL THEN NULL ELSE CAST(round(
        |    CAST(n AS DOUBLE) * (sk * sk / 6.0 + kx * kx / 24.0)
        |    * 1000000) AS BIGINT) END AS jb_micros
        |FROM k""".stripMargin),
    bench = true),

    QuerySpec("feat_avg_precision", (s, dir) => {
      import s.implicits._
      // Average precision of order value predicting urgent priority —
      // the imbalance-proof companion of feat_auc over the SAME
      // score/label pair: exact TP/FP at every distinct threshold,
      // pico-scaled term divisions, one final division to micros.
      graft.operators.OrderedStats.averagePrecision(
        Tables.orders(s, dir), $"o_totalprice",
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
    },
    // TP/FP exact at every distinct threshold read from the top;
    // pico-scaled term divisions, one final division to micros
    Oracle("""WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    o_orderpriority IN ('1-URGENT', '2-HIGH') AS t FROM orders),
        |c AS (SELECT v,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM base GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
        |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |tm AS (SELECT cc.*, tot.na, tot.nb,
        |    na - cum_a + ca AS tp, nb - cum_b + cb AS fp
        |  FROM cc, tot WHERE na > 0 AND nb > 0),
        |ap AS (SELECT na, nb,
        |    sum((CAST(ca AS HUGEINT) * tp * 1000000000000) // (tp + fp))
        |      AS s
        |  FROM tm GROUP BY 1, 2)
        |SELECT na AS n_pos, nb AS n_neg,
        |  CAST(s // (CAST(na AS HUGEINT) * 1000000) AS BIGINT)
        |    AS ap_micros,
        |  CAST((CAST(na AS HUGEINT) * 1000000) // (na + nb) AS BIGINT)
        |    AS prevalence_micros
        |FROM ap""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_calibration", (s, dir) => {
      import s.implicits._
      // Reliability table of a clipped-linear urgency score from
      // order value against actual urgent priority, 10 bins + ECE —
      // the probability-quality reading next to feat_auc over the
      // same label: per-bin exact truncating ppm divisions, the ECE
      // folded over the bin grid.
      Features.calibrationTable(Tables.orders(s, dir),
        least(round($"o_totalprice" * 2).cast("long"), lit(1000000L)),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"), bins = 10)
    },
    // clipped-linear micros score; per-bin truncating ppm divisions;
    // ECE folded over the bin grid with one final truncating division
    Oracle("""WITH base AS (SELECT
        |    least(CAST(round(o_totalprice * 2) AS BIGINT), 1000000)
        |      AS p,
        |    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y
        |  FROM orders),
        |b AS (SELECT least(p * 10 // 1000000, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sp,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM base GROUP BY 1),
        |t AS (SELECT bin, n,
        |    CAST(sp // CAST(n AS HUGEINT) AS BIGINT) AS mp,
        |    CAST((CAST(pos AS HUGEINT) * 1000000) // n AS BIGINT) AS fp
        |  FROM b)
        |SELECT CAST(bin AS INT) AS bin, n, mp AS mean_pred_micros,
        |  fp AS frac_pos_micros, fp - mp AS gap_micros,
        |  CAST(sum(CAST(n AS HUGEINT) * abs(fp - mp)) OVER ()
        |    // sum(CAST(n AS HUGEINT)) OVER () AS BIGINT) AS ece_micros
        |FROM t""".stripMargin),
    bench = true),

    QuerySpec("feat_brier", (s, dir) => {
      import s.implicits._
      // Brier score + Murphy decomposition for the same clipped
      // urgency score — the one-number summary next to
      // feat_calibration's table: exact unbinned BS, binned
      // REL/RES/UNC, no doubles anywhere. One row.
      Features.brierDecomposition(Tables.orders(s, dir),
        least(round($"o_totalprice" * 2).cast("long"), lit(1000000L)),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"), bins = 10)
    },
    // exact unbinned BS; binned Murphy REL/RES/UNC, all truncating
    // integer divisions — no doubles anywhere
    Oracle("""WITH base AS (SELECT
        |    least(CAST(round(o_totalprice * 2) AS BIGINT), 1000000)
        |      AS p,
        |    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y
        |  FROM orders),
        |b0 AS (SELECT p, y, least(p * 10 // 1000000, 9) AS bin,
        |    p - CASE WHEN y THEN 1000000 ELSE 0 END AS e FROM base),
        |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sp,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS sq
        |  FROM b0 GROUP BY 1),
        |c AS (SELECT bin, nb, pos, sq,
        |    CAST(sp // CAST(nb AS HUGEINT) AS BIGINT) AS conf,
        |    CAST((CAST(pos AS HUGEINT) * 1000000) // nb AS BIGINT)
        |      AS acc
        |  FROM b),
        |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS tpos FROM b),
        |w AS (SELECT c.*, tot.n,
        |    CAST((CAST(tot.tpos AS HUGEINT) * 1000000) // tot.n
        |      AS BIGINT) AS bb
        |  FROM c, tot),
        |a AS (SELECT n, bb,
        |    CAST(sum(sq) AS HUGEINT) AS bs,
        |    CAST(sum(CAST(nb AS HUGEINT) * (conf - acc) * (conf - acc))
        |      AS HUGEINT) AS rel,
        |    CAST(sum(CAST(nb AS HUGEINT) * (acc - bb) * (acc - bb))
        |      AS HUGEINT) AS res
        |  FROM w GROUP BY 1, 2)
        |SELECT n,
        |  CAST(bs // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
        |    AS bs_micros,
        |  CAST(rel // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
        |    AS reliability_micros,
        |  CAST(res // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
        |    AS resolution_micros,
        |  CAST((CAST(bb AS HUGEINT) * (1000000 - bb)) // 1000000
        |    AS BIGINT) AS uncertainty_micros
        |FROM a""".stripMargin),
    bench = true),

    QuerySpec("feat_confusion", (s, dir) => {
      import s.implicits._
      // Thresholded confusion matrix + precision/recall/F1/accuracy —
      // the basic operating-point readout next to the threshold-free
      // family (AUC/AP/gains say how the RANKING behaves; shipping a
      // classifier means picking a threshold and living with THESE
      // four cells). Exact integer cells from one aggregate; the
      // ratios are cross-multiplied truncating ppm, F1 in its
      // integer-exact form 2tp*1e6 div (2tp+fp+fn).
      val m = Tables.orders(s, dir).agg(
        sum(when($"o_totalprice" > 150000.0 &&
          $"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when($"o_totalprice" > 150000.0 &&
          !$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when($"o_totalprice" <= 150000.0 &&
          $"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when($"o_totalprice" <= 150000.0 &&
          !$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("tn"))
      m.filter($"tp" + $"fp" > 0L && $"tp" + $"fn" > 0L)
        .select($"tp", $"fp", $"fn", $"tn",
          expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
          expr("tp * 1000000 div (tp + fn)").as("recall_ppm"),
          expr("2 * tp * 1000000 div (2 * tp + fp + fn)").as("f1_ppm"),
          expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)")
            .as("accuracy_ppm"))
    },
    // four exact cells from one aggregate; cross-multiplied ppm
    Oracle("""WITH m AS (SELECT
        |    CAST(sum(CASE WHEN o_totalprice > 150000.0
        |      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN o_totalprice > 150000.0
        |      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN o_totalprice <= 150000.0
        |      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN o_totalprice <= 150000.0
        |      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM orders)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
        |  CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT)
        |    AS f1_ppm,
        |  CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT)
        |    AS accuracy_ppm
        |FROM m WHERE tp + fp > 0 AND tp + fn > 0""".stripMargin),
    bench = true),

    QuerySpec("feat_ndcg", (s, dir) => {
      import s.implicits._
      // NDCG@100 of the "longer is better" document ranker against a
      // 0-3 token-count grade — graded-relevance ranking quality
      // where AUC/AP see only binary labels. Both cuts TakeOrdered,
      // per-rank terms micro-quantized. SIDE-EFFECTING (the item
      // table localCheckpoints).
      graft.operators.OrderedStats.ndcgAtK(Tables.documents(s, dir),
        $"doc_id", length($"text"),
        pmod(size(split($"text", " ")), lit(4)), k = 100)
    },
    // both cuts replayed with window-then-limit; per-rank terms
    // micro-quantized through the mirrored ln tree; one truncating
    // ppm division
    Oracle("""WITH b AS (SELECT doc_id AS id,
        |    CAST(length(text) AS DOUBLE) AS s,
        |    CAST(len(string_split(text, ' ')) % 4 AS BIGINT) AS rel
        |  FROM documents),
        |top AS (SELECT rel,
        |    CAST(row_number() OVER (ORDER BY s DESC, id) AS BIGINT)
        |      AS i
        |  FROM b ORDER BY s DESC, id LIMIT 100),
        |d AS (SELECT coalesce(sum(CAST(round(CAST(rel AS DOUBLE)
        |      / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)) * 1000000)
        |      AS BIGINT)), 0) AS dcg_micros
        |  FROM top),
        |ideal AS (SELECT rel,
        |    CAST(row_number() OVER (ORDER BY rel DESC, id) AS BIGINT)
        |      AS i
        |  FROM b ORDER BY rel DESC, id LIMIT 100),
        |di AS (SELECT coalesce(sum(CAST(round(CAST(rel AS DOUBLE)
        |      / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)) * 1000000)
        |      AS BIGINT)), 0) AS idcg_micros
        |  FROM ideal),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM b)
        |SELECT CAST(100 AS BIGINT) AS k, n_rows,
        |  CAST(dcg_micros AS BIGINT) AS dcg_micros,
        |  CAST(idcg_micros AS BIGINT) AS idcg_micros,
        |  CAST((dcg_micros * 1000000) // idcg_micros AS BIGINT)
        |    AS ndcg_ppm
        |FROM d, di, nn WHERE idcg_micros > 0""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_kendall_w", (s, dir) => {
      import s.implicits._
      // Kendall's W concordance of three row-local document scorers
      // (chars, tokens, 'a'-count) — ONE agreement coefficient where
      // pairwise Spearman gives a matrix; tie-corrected, the x2
      // integer rank trick end to end. SIDE-EFFECTING (the item
      // table localCheckpoints; a 1-row guard runs eagerly).
      graft.operators.OrderedStats.kendallW(Tables.documents(s, dir),
        Seq(length($"text"), size(split($"text", " ")),
          length($"text") - length(regexp_replace($"text", "a", ""))))
    },
    // the x2 integer rank trick per rater (2*below + t + 1), HUGEINT
    // deviations and tie terms, one truncating ppm division
    Oracle("""WITH b AS (SELECT CAST(length(text) AS DOUBLE) AS s1,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS s2,
        |    CAST(length(text) - length(replace(text, 'a', ''))
        |      AS DOUBLE) AS s3
        |  FROM documents),
        |v1 AS (SELECT s1, count(*) AS t FROM b GROUP BY 1),
        |r1 AS (SELECT s1, 2 * coalesce(sum(t) OVER (ORDER BY s1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS r2_1 FROM v1),
        |t1 AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
        |  FROM v1),
        |v2 AS (SELECT s2, count(*) AS t FROM b GROUP BY 1),
        |r2 AS (SELECT s2, 2 * coalesce(sum(t) OVER (ORDER BY s2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS r2_2 FROM v2),
        |t2 AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
        |  FROM v2),
        |v3 AS (SELECT s3, count(*) AS t FROM b GROUP BY 1),
        |r3 AS (SELECT s3, 2 * coalesce(sum(t) OVER (ORDER BY s3
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + t + 1 AS r2_3 FROM v3),
        |t3 AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
        |  FROM v3),
        |j AS (SELECT r1.r2_1 + r2.r2_2 + r3.r2_3 AS rsum
        |  FROM b JOIN r1 USING (s1) JOIN r2 USING (s2)
        |  JOIN r3 USING (s3)),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM b),
        |s4 AS (SELECT sum((CAST(rsum AS HUGEINT) - 3 * (n + 1))
        |    * (CAST(rsum AS HUGEINT) - 3 * (n + 1))) AS s4
        |  FROM j, nn),
        |tt AS (SELECT t1.tt + t2.tt + t3.tt AS ties FROM t1, t2, t3)
        |SELECT CAST(n AS BIGINT) AS n_items, CAST(3 AS BIGINT) AS k,
        |  CAST(ties AS BIGINT) AS ties,
        |  CAST((3 * s4 * 1000000) // (9 * (n * n * n - n) - 3 * ties)
        |    AS BIGINT) AS w_ppm
        |FROM s4, tt, nn
        |WHERE 9 * (n * n * n - n) - 3 * ties > 0""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("feat_median_ci", (s, dir) => {
      import s.implicits._
      // Order-statistic 95% CI for the per-priority median order
      // cents: the rank bracket floor((n - z*sqrt(n))/2) selects two
      // ACTUAL data values — distribution-free, outlier-immune, and
      // exactly replayable.
      graft.operators.OrderedStats.medianCI(Tables.orders(s, dir),
          Seq("o_orderpriority"), round($"o_totalprice" * 100))
        .orderBy($"o_orderpriority")
    },
    // the rank bracket mirrored (floor/sqrt agree on identical
    // doubles); all three outputs are actual data values at ranks
    Oracle("""WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |r AS (SELECT g, y,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY y)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM v),
        |k AS (SELECT g, y, rn, n,
        |    CAST(floor((CAST(n AS DOUBLE)
        |      - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)
        |      AS klo
        |  FROM r),
        |q AS (SELECT * FROM k WHERE klo >= 1),
        |med AS (SELECT g, n, klo, n + 1 - klo AS khi, y AS median
        |  FROM q WHERE rn = (n + 1) // 2),
        |lo AS (SELECT g, y AS ci_lo FROM q WHERE rn = klo),
        |hi AS (SELECT g, y AS ci_hi FROM q WHERE rn = n + 1 - klo)
        |SELECT med.g AS o_orderpriority, med.n, med.median,
        |  lo.ci_lo, hi.ci_hi,
        |  CAST(med.klo AS BIGINT) AS k_lo,
        |  CAST(med.khi AS BIGINT) AS k_hi
        |FROM med JOIN lo ON med.g = lo.g JOIN hi ON med.g = hi.g
        |ORDER BY o_orderpriority""".stripMargin),
    bench = true),

    QuerySpec("feat_conformal", (s, dir) => {
      import s.implicits._
      // Split-conformal intervals around the per-priority OLS fit:
      // calibration = even order keys, alpha = 0.10. Residuals are
      // exact longs off the micro-quantized fit, the radius is the
      // k-th order statistic, coverage one ppm division — the whole
      // composition (fit -> predict -> calibrate -> check) replays.
      val xCol = datediff($"o_orderdate",
        lit("1995-01-01").cast("date"))
      val rows = Tables.orders(s, dir).select($"o_orderpriority",
        $"o_orderkey", xCol.cast("long").as("x"),
        round($"o_totalprice" * 100).cast("long").as("y"))
      val fit = Features.groupRegression(Tables.orders(s, dir),
        "o_orderpriority", xCol, round($"o_totalprice" * 100))
      val pred = rows.join(fit.select($"o_orderpriority",
          $"slope_micros", $"intercept_micros"), Seq("o_orderpriority"))
        .withColumn("yhat",
          expr("(intercept_micros + slope_micros * x) div 1000000"))
      Features.conformalInterval(pred, Seq("o_orderpriority"), $"y",
          $"yhat", pmod($"o_orderkey", lit(2)) === 0,
          alphaMicros = 100000L)
        .orderBy($"o_orderpriority")
    },
    // the OLS fit replayed, predictions by truncating division,
    // radius = k-th order statistic, coverage one ppm division
    Oracle("""WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx FROM v GROUP BY 1),
        |sl AS (SELECT *, CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM m WHERE n * sxx - sx * sx > 0),
        |f AS (SELECT g,
        |    CAST(round(slope * 1000000) AS BIGINT) AS sm,
        |    CAST(round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |      / n * 1000000) AS BIGINT) AS im
        |  FROM sl),
        |p AS (SELECT v.g, v.id,
        |    abs(v.y - (f.im + f.sm * v.x) // 1000000) AS r,
        |    (v.id % 2 = 0) AS cal FROM v JOIN f ON v.g = f.g),
        |sz AS (SELECT g,
        |    CAST(sum(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cal,
        |    CAST(sum(CASE WHEN NOT cal THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test FROM p GROUP BY 1),
        |kk AS (SELECT g, n_cal, n_test,
        |    ((n_cal + 1) * 900000 + 999999) // 1000000 AS k FROM sz
        |  WHERE n_test > 0),
        |rk AS (SELECT g, r, row_number() OVER (PARTITION BY g
        |    ORDER BY r) AS rn FROM p WHERE cal),
        |rad AS (SELECT kk.g, kk.n_cal, kk.n_test, kk.k, rk.r AS radius
        |  FROM kk JOIN rk ON kk.g = rk.g AND rk.rn = kk.k
        |  WHERE kk.k <= kk.n_cal)
        |SELECT p.g AS o_orderpriority, rad.n_cal, rad.n_test,
        |  CAST(rad.k AS BIGINT) AS k_cal,
        |  CAST(rad.radius AS BIGINT) AS radius,
        |  CAST(CAST(sum(CASE WHEN p.r <= rad.radius THEN 1 ELSE 0 END)
        |    AS HUGEINT) * 1000000 // rad.n_test AS BIGINT)
        |    AS coverage_ppm
        |FROM p JOIN rad ON p.g = rad.g WHERE NOT p.cal
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY o_orderpriority""".stripMargin),
    bench = true),

    QuerySpec("feat_group_regression", (s, dir) => {
      import s.implicits._
      // Per-priority OLS trend of order cents against days since
      // 1995-01-01: exact DECIMAL moments, slope feeds intercept
      // unrounded, both micro-quantized.
      Features.groupRegression(Tables.orders(s, dir), "o_orderpriority",
          datediff($"o_orderdate", lit("1995-01-01").cast("date")),
          round($"o_totalprice" * 100))
        .orderBy($"o_orderpriority")
    },
    // HUGEINT moments; slope feeds intercept unrounded — one shared
    // double, rounded only at the edges
    Oracle("""WITH v AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |m AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx FROM v GROUP BY 1),
        |s AS (SELECT *, CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM m WHERE n * sxx - sx * sx > 0)
        |SELECT o_orderpriority, n,
        |  CAST(round(slope * 1000000) AS BIGINT) AS slope_micros,
        |  CAST(round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / n * 1000000) AS BIGINT) AS intercept_micros
        |FROM s ORDER BY o_orderpriority""".stripMargin),
    bench = true),
  )
}
