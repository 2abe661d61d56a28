package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Features

/** A/B-test statistics and survival analysis. */
object ExperimentQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("ab_ztest", (s, dir) => {
      import s.implicits._
      // Two-proportion z-test of "heavy purchaser" (>= 13 purchases —
      // every user buys at least once in this dense corpus, so plain
      // conversion is degenerate) under a parity split, plus the SRM
      // assignment-health statistic — exact integer counts through
      // mirrored IEEE trees. One row.
      val perUser = Tables.events(s, dir).groupBy($"user_id")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purch"))
      Features.twoProportionZTest(perUser,
        pmod($"user_id", lit(2)) === 0, $"n_purch" >= 13L)
    },
    // four exact counts through mirrored IEEE trees (one sqrt)
    Oracle("""WITH u AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 13 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1
        |      ELSE 0 END) AS BIGINT) AS s_t,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND conv = 1 THEN 1
        |      ELSE 0 END) AS BIGINT) AS s_c
        |  FROM u)
        |SELECT n_t, s_t, n_c, s_c,
        |  CAST(round((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
        |    / sqrt((CAST(s_t + s_c AS DOUBLE) / (n_t + n_c))
        |      * (1.0 - CAST(s_t + s_c AS DOUBLE) / (n_t + n_c))
        |      * (1.0 / n_t + 1.0 / n_c)) * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round(CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE)
        |    / (n_t + n_c) * 1000000) AS BIGINT) AS srm_chi2_micros
        |FROM c""".stripMargin),
    bench = true),

    QuerySpec("ab_delta_method", (s, dir) => {
      import s.implicits._
      // Delta-method z for the RATIO metric revenue-per-purchase by
      // user parity — the closed form next to ab_jackknife's
      // resampling CI (a ratio of sums is not a mean of ratios).
      // Six exact moments per arm, one mirrored linearized tree.
      val per = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(round($"value" * 100).cast("long")).as("cents"),
          count(lit(1)).as("cnt"))
      Features.deltaMethodRatio(per, pmod($"user_id", lit(2)) === 0,
        $"cents", $"cnt")
    },
    // six exact HUGEINT moments per arm; the linearized variance and
    // z one mirrored tree through the shared polynomial
    Oracle("""WITH per AS (SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x,
        |    CAST(count(*) AS BIGINT) AS y,
        |    (user_id % 2 = 0) AS t
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    sum(CASE WHEN t THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxt,
        |    sum(CASE WHEN t THEN CAST(y AS HUGEINT) ELSE 0 END) AS syt,
        |    sum(CASE WHEN t THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS qxt,
        |    sum(CASE WHEN t THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS qyt,
        |    sum(CASE WHEN t THEN CAST(x AS HUGEINT) * y ELSE 0 END)
        |      AS xyt,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    sum(CASE WHEN NOT t THEN CAST(x AS HUGEINT) ELSE 0 END)
        |      AS sxc,
        |    sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) ELSE 0 END)
        |      AS syc,
        |    sum(CASE WHEN NOT t THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS qxc,
        |    sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS qyc,
        |    sum(CASE WHEN NOT t THEN CAST(x AS HUGEINT) * y ELSE 0 END)
        |      AS xyc
        |  FROM per),
        |d AS (SELECT *,
        |    CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE) AS rt,
        |    CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE) AS rc,
        |    (CAST(CAST(nt AS HUGEINT) * qxt - sxt * sxt AS DOUBLE)
        |        / CAST(CAST(nt AS HUGEINT) * (nt - 1) AS DOUBLE)
        |      - 2.0 * (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
        |        * CAST(CAST(nt AS HUGEINT) * xyt - sxt * syt AS DOUBLE)
        |        / CAST(CAST(nt AS HUGEINT) * (nt - 1) AS DOUBLE)
        |      + (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
        |        * (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
        |        * CAST(CAST(nt AS HUGEINT) * qyt - syt * syt AS DOUBLE)
        |        / CAST(CAST(nt AS HUGEINT) * (nt - 1) AS DOUBLE))
        |    / (CAST(nt AS DOUBLE)
        |      * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))) AS se2t,
        |    (CAST(CAST(nc AS HUGEINT) * qxc - sxc * sxc AS DOUBLE)
        |        / CAST(CAST(nc AS HUGEINT) * (nc - 1) AS DOUBLE)
        |      - 2.0 * (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
        |        * CAST(CAST(nc AS HUGEINT) * xyc - sxc * syc AS DOUBLE)
        |        / CAST(CAST(nc AS HUGEINT) * (nc - 1) AS DOUBLE)
        |      + (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
        |        * (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
        |        * CAST(CAST(nc AS HUGEINT) * qyc - syc * syc AS DOUBLE)
        |        / CAST(CAST(nc AS HUGEINT) * (nc - 1) AS DOUBLE))
        |    / (CAST(nc AS DOUBLE)
        |      * (CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
        |      * (CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))) AS se2c
        |  FROM m WHERE nt > 1 AND nc > 1 AND syt <> 0 AND syc <> 0),
        |z AS (SELECT *, (rt - rc) / sqrt(se2t + se2c) AS zz
        |  FROM d WHERE se2t + se2c > 0.0),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0)
        |SELECT nt AS n_t, nc AS n_c,
        |  CAST(round(rt * 1000000) AS BIGINT) AS ratio_t_micros,
        |  CAST(round(rc * 1000000) AS BIGINT) AS ratio_c_micros,
        |  CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t0""".stripMargin),
    bench = true),

    QuerySpec("ab_tost", (s, dir) => {
      import s.implicits._
      // TOST equivalence of purchase cents by user parity at a $2
      // margin — the A/A-check/ship-if-not-worse readout: a pass is
      // a POSITIVE statement of sameness, not a failure to detect.
      // Exact moments, mirrored one-sided tails. One row.
      Features.tostEquivalence(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        pmod($"user_id", lit(2)) === 0,
        round($"value" * 100).cast("long"), margin = 200L)
    },
    // exact HUGEINT moments; both one-sided tails mirrored through
    // the shared polynomial; verdict on the unrounded max
    Oracle("""WITH base AS (SELECT (user_id % 2 = 0) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    sum(CASE WHEN t THEN CAST(y AS HUGEINT) ELSE 0 END) AS st,
        |    sum(CASE WHEN t THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS sst,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) ELSE 0 END)
        |      AS sc,
        |    sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS ssc
        |  FROM base),
        |d AS (SELECT *,
        |    CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
        |      - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS diff,
        |    CAST(CAST(nt AS HUGEINT) * sst - st * st AS DOUBLE)
        |      / CAST(CAST(nt AS HUGEINT) * (nt - 1) AS DOUBLE)
        |      / CAST(nt AS DOUBLE)
        |    + CAST(CAST(nc AS HUGEINT) * ssc - sc * sc AS DOUBLE)
        |      / CAST(CAST(nc AS HUGEINT) * (nc - 1) AS DOUBLE)
        |      / CAST(nc AS DOUBLE) AS se2
        |  FROM m WHERE nt > 1 AND nc > 1),
        |tt AS (SELECT *, (diff + 200.0) / sqrt(se2) AS tl,
        |    (200.0 - diff) / sqrt(se2) AS tu
        |  FROM d WHERE se2 > 0.0),
        |pp AS (SELECT *,
        |    CASE WHEN tl >= 0.0 THEN
        |      ((1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951)))
        |       * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (-0.284496736
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (1.421413741
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (-1.453152027
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * 1.061405429))))
        |       * exp(-((abs(tl) / 1.4142135623730951) * (abs(tl) / 1.4142135623730951)))) / 2.0
        |    ELSE 1.0 - ((1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951)))
        |       * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (-0.284496736
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (1.421413741
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * (-1.453152027
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tl) / 1.4142135623730951))) * 1.061405429))))
        |       * exp(-((abs(tl) / 1.4142135623730951) * (abs(tl) / 1.4142135623730951)))) / 2.0 END AS pl,
        |    CASE WHEN tu >= 0.0 THEN
        |      ((1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951)))
        |       * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (-0.284496736
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (1.421413741
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (-1.453152027
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * 1.061405429))))
        |       * exp(-((abs(tu) / 1.4142135623730951) * (abs(tu) / 1.4142135623730951)))) / 2.0
        |    ELSE 1.0 - ((1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951)))
        |       * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (-0.284496736
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (1.421413741
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * (-1.453152027
        |       + (1.0 / (1.0 + 0.3275911 * (abs(tu) / 1.4142135623730951))) * 1.061405429))))
        |       * exp(-((abs(tu) / 1.4142135623730951) * (abs(tu) / 1.4142135623730951)))) / 2.0 END AS pu
        |  FROM tt)
        |SELECT nt AS n_t, nc AS n_c,
        |  CAST(round(diff * 1000000) AS BIGINT) AS diff_micros,
        |  CAST(round(tl * 1000000) AS BIGINT) AS t_lower_micros,
        |  CAST(round(tu * 1000000) AS BIGINT) AS t_upper_micros,
        |  CAST(round(greatest(pl, pu) * 1000000) AS BIGINT) AS p_micros,
        |  greatest(pl, pu) < 0.05 AS equivalent
        |FROM pp""".stripMargin),
    bench = true),

    QuerySpec("ab_sample_size", (s, dir) => {
      import s.implicits._
      // The PLANNING table every experiment starts from — required n
      // per arm across an MDE grid (ab_power grades one test after
      // the fact; this says how long to run BEFORE launching):
      // n = ceil((z_α/2 + z_β)²·2σ̂²/Δ²) at α=0.05, power 0.80, with
      // σ̂² from exact integer moments of the purchase values and the
      // z-sum constant spelled identically on both engines; ceil of
      // the one mirrored tree is deterministic.
      val m = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .select(round($"value" * 100).cast("long").as("c"))
        .agg(count(lit(1)).as("n"), sum($"c").as("sx"),
          sum($"c".cast("decimal(38,0)") * $"c").as("sxx"))
        .filter($"n" >= 2L)
      val grid = Seq(100L, 200L, 500L, 1000L, 2000L)
        .toDF("mde_cents")
      grid.crossJoin(broadcast(m)) // 1-row moments
        .selectExpr("mde_cents",
          "(CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx" +
            " AS DECIMAL(38,0)) * sx AS DOUBLE))" +
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS s2")
        .selectExpr("mde_cents",
          "CAST(round(s2 * 100) AS BIGINT) AS var_centi",
          "CAST(ceil((2.801585 * 2.801585) * 2.0 * s2" +
            " / (CAST(mde_cents AS DOUBLE) * CAST(mde_cents" +
            " AS DOUBLE))) AS BIGINT) AS n_per_arm")
        .orderBy($"mde_cents")
    },
    // the standard two-arm mean-difference sizing formula over an
    // MDE grid; sigma^2 from exact moments, z-sum spelled identically
    Oracle("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS sx,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS c
        |        FROM events WHERE event_type = 'purchase')
        |  HAVING count(*) >= 2),
        |g AS (SELECT CAST(unnest([100, 200, 500, 1000, 2000])
        |    AS BIGINT) AS mde_cents),
        |s AS (SELECT mde_cents,
        |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |      AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |      AS s2
        |  FROM g, m)
        |SELECT mde_cents,
        |  CAST(round(s2 * 100) AS BIGINT) AS var_centi,
        |  CAST(ceil((2.801585 * 2.801585) * 2.0 * s2
        |    / (CAST(mde_cents AS DOUBLE) * CAST(mde_cents AS DOUBLE)))
        |    AS BIGINT) AS n_per_arm
        |FROM s ORDER BY mde_cents""".stripMargin),
    bench = true),

    QuerySpec("ab_bootstrap_ci", (s, dir) => {
      import s.implicits._
      // Poisson-bootstrap confidence interval for the mean purchase
      // value — the resampling member next to ab_jackknife and
      // feat_median_ci (bootstrap is the tool when the statistic has
      // no closed-form variance): 50 DETERMINISTIC replicas, each
      // row's weight drawn from Poisson(1) via the shared Lehmer
      // pick order and a ppm-quantized CDF ladder (both stated
      // conventions — the replicas replay anywhere); replica means
      // are truncating integer micro-cents, the CI bounds rank-based
      // percentile_disc over them (actual values). One explode to
      // row x 50 fixed-width rows, two hash-aggs — never a collect.
      val B = 50
      val x = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id".cast("long").as("id"),
          round($"value" * 100).cast("long").as("c"))
      val reps = s.range(0, B).select($"id".as("b"))
      val ladder =
        "CASE WHEN v < 367879 THEN 0 WHEN v < 735759 THEN 1" +
          " WHEN v < 919699 THEN 2 WHEN v < 980960 THEN 3" +
          " WHEN v < 996286 THEN 4 WHEN v < 999406 THEN 5" +
          " WHEN v < 999917 THEN 6 WHEN v < 999990 THEN 7 ELSE 8 END"
      // b mixes into the id BEFORE the Lehmer multiply — an additive
      // post-multiply offset shifts v by a near-constant after the
      // mod, giving every replica the same weights (observed: a
      // 1.7-cent-wide "CI" 130 cents from the point estimate)
      val means = x.crossJoin(reps) // rows x B fixed-width
        .selectExpr("b", "c",
          "pmod((id + b * 7919) * 48271, 2147483647) % 1000000 AS v")
        .selectExpr("b", "c", s"CAST($ladder AS BIGINT) AS w")
        .groupBy($"b")
        .agg(sum($"w" * $"c").as("__swc"), sum($"w").as("__sw"))
        .filter($"__sw" > 0L)
        .selectExpr(
          "CAST(CAST(__swc AS DECIMAL(38,0)) * 1000000 div __sw" +
            " AS BIGINT) AS m")
      val point = x.agg(count(lit(1)).cast("bigint").as("n"),
        expr("CAST(CAST(sum(c) AS DECIMAL(38,0)) * 1000000" +
          " div count(*) AS BIGINT)").as("point_micros"))
      means.agg(count(lit(1)).cast("bigint").as("n_replicas"),
          expr("percentile_disc(0.025) WITHIN GROUP (ORDER BY m)")
            .cast("bigint").as("lo_micros"),
          expr("percentile_disc(0.975) WITHIN GROUP (ORDER BY m)")
            .cast("bigint").as("hi_micros"))
        .crossJoin(point) // 1-row point estimate
        .select($"n", $"point_micros", $"n_replicas",
          $"lo_micros", $"hi_micros")
    },
    // the shared Lehmer pick order + the ppm Poisson(1) CDF ladder;
    // replica means truncating micro-cents, CI rank-based
    Oracle("""WITH x AS (SELECT event_id AS id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |reps AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 50)),
        |u AS (SELECT b, c,
        |    (((id + b * 7919) * 48271) % 2147483647) % 1000000 AS v
        |  FROM x, reps),
        |w AS (SELECT b, c, CAST(CASE WHEN v < 367879 THEN 0
        |    WHEN v < 735759 THEN 1 WHEN v < 919699 THEN 2
        |    WHEN v < 980960 THEN 3 WHEN v < 996286 THEN 4
        |    WHEN v < 999406 THEN 5 WHEN v < 999917 THEN 6
        |    WHEN v < 999990 THEN 7 ELSE 8 END AS BIGINT) AS w
        |  FROM u),
        |m AS (SELECT b,
        |    CAST(CAST(sum(w * c) AS HUGEINT) * 1000000
        |      // CAST(sum(w) AS HUGEINT) AS BIGINT) AS m
        |  FROM w GROUP BY b HAVING sum(w) > 0),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(sum(c) AS HUGEINT) * 1000000 // count(*)
        |      AS BIGINT) AS point_micros
        |  FROM x)
        |SELECT n, point_micros,
        |  CAST(count(*) AS BIGINT) AS n_replicas,
        |  CAST(quantile_disc(m, 0.025) AS BIGINT) AS lo_micros,
        |  CAST(quantile_disc(m, 0.975) AS BIGINT) AS hi_micros
        |FROM m, pt GROUP BY n, point_micros""".stripMargin),
    bench = true),

    QuerySpec("ab_ttest", (s, dir) => {
      import s.implicits._
      // Welch t on order cents under a customer-parity split — the
      // continuous-metric A/B readout (z covers proportions): exact
      // per-arm moments, mirrored t and Welch-Satterthwaite df.
      Features.welchTTest(Tables.orders(s, dir),
        pmod($"o_custkey", lit(2)) === 0, round($"o_totalprice" * 100))
    },
    // per-arm HUGEINT moments; t and Welch df through mirrored trees
    Oracle("""WITH c AS (SELECT
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    sum(CASE WHEN t THEN y ELSE 0 END) AS st,
        |    sum(CASE WHEN t THEN y * y ELSE 0 END) AS sst,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    sum(CASE WHEN NOT t THEN y ELSE 0 END) AS sc,
        |    sum(CASE WHEN NOT t THEN y * y ELSE 0 END) AS ssc
        |  FROM (SELECT (o_custkey % 2 = 0) AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders)),
        |d AS (SELECT *,
        |    CAST(st AS DOUBLE) / n_t AS mt,
        |    CAST(sc AS DOUBLE) / n_c AS mc,
        |    (CAST(n_t * sst - st * st AS DOUBLE)
        |      / CAST(n_t * (n_t - 1) AS DOUBLE)) / n_t AS se2t,
        |    (CAST(n_c * ssc - sc * sc AS DOUBLE)
        |      / CAST(n_c * (n_c - 1) AS DOUBLE)) / n_c AS se2c
        |  FROM c)
        |SELECT n_t, n_c,
        |  CAST(round(mt * 1000000) AS BIGINT) AS mean_t_micros,
        |  CAST(round(mc * 1000000) AS BIGINT) AS mean_c_micros,
        |  CAST(round((mt - mc) / sqrt(se2t + se2c) * 1000000) AS BIGINT)
        |    AS t_micros,
        |  CAST(round((se2t + se2c) * (se2t + se2c)
        |    / (se2t * se2t / (CAST(n_t AS DOUBLE) - 1.0)
        |      + se2c * se2c / (CAST(n_c AS DOUBLE) - 1.0))
        |    * 1000000) AS BIGINT) AS df_micros
        |FROM d WHERE n_t > 1 AND n_c > 1 AND se2t + se2c > 0""".stripMargin),
    bench = true),

    QuerySpec("ab_mannwhitney", (s, dir) => {
      import s.implicits._
      // Mann-Whitney rank-sum test of purchase cents by user parity:
      // the nonparametric reading next to ab_ttest (one whale can't
      // own a rank test). 2U and the tie sum are exact integers off
      // the two-phase prefix sum; z and p mirror token-for-token.
      graft.operators.OrderedStats.mannWhitney(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        round($"value" * 100).cast("long"),
        pmod($"user_id", lit(2)) === 0)
    },
    // 2U and the tie sum exact off distinct-value counts; the
    // cross-multiplied variance form and the A&S polynomial mirrored
    Oracle("""WITH s AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    (user_id % 2 = 0) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb, sum(cb) OVER (ORDER BY v) AS cum_b
        |  FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b FROM c),
        |a AS (SELECT tot.n_a, tot.n_b,
        |    CAST(sum(CAST(ca AS HUGEINT) * (2 * (cum_b - cb) + cb))
        |      AS HUGEINT) AS u2,
        |    CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
        |      - CAST(ca + cb AS HUGEINT)) AS HUGEINT) AS ties
        |  FROM cc, tot GROUP BY 1, 2),
        |b AS (SELECT *, n_a + n_b AS n FROM a
        |  WHERE n_a > 0 AND n_b > 0),
        |zt AS (SELECT n_a, n_b, u2,
        |    CAST(u2 - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
        |      / (2.0 * sqrt(CAST(CAST(n_a AS HUGEINT) * n_b
        |          * (CAST(n + 1 AS HUGEINT) * n * (n - 1) - ties)
        |          AS DOUBLE)
        |        / CAST(12 * CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)))
        |      AS z
        |  FROM b WHERE n > 1
        |    AND CAST(n_a AS HUGEINT) * n_b
        |      * (CAST(n + 1 AS HUGEINT) * n * (n - 1) - ties) > 0),
        |x0 AS (SELECT *, abs(z) / 1.4142135623730951 AS x FROM zt),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0)
        |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2,
        |  CAST(round(z * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t0""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_kruskal", (s, dir) => {
      import s.implicits._
      // Kruskal-Wallis H across the five order priorities on order
      // cents — the k-group rank test next to ab_mannwhitney: doubled
      // ranks and the tie sum exact off the prefix sum, H one
      // cross-multiplied integer division, p via the mirrored
      // Wilson-Hilferty cube root. One row.
      graft.operators.OrderedStats.kruskalWallis(Tables.orders(s, dir),
        $"o_orderpriority", round($"o_totalprice" * 100))
    },
    // doubled ranks and the tie sum exact; milli-scaled rank-sum
    // squares by truncating division; H one cross-multiplied HUGEINT
    // division; Wilson-Hilferty cube root via exp(ln/3) mirrored
    Oracle("""WITH base AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt FROM gv GROUP BY 1),
        |r AS (SELECT v, cnt,
        |    2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS r2 FROM pv),
        |rg AS (SELECT gv.g, sum(CAST(gv.c AS HUGEINT) * r.r2) AS tr,
        |    CAST(sum(gv.c) AS BIGINT) AS ng
        |  FROM gv JOIN r ON gv.v = r.v GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum((tr * tr * 1000) // (4 * CAST(ng AS HUGEINT))) AS ss
        |  FROM rg),
        |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - CAST(cnt AS HUGEINT))
        |      AS t
        |  FROM r),
        |h AS (SELECT s.k, nt.n,
        |    ((12 * ss * 1000 - 3 * CAST(nt.n AS HUGEINT) * (nt.n + 1)
        |      * (nt.n + 1) * 1000000)
        |     * (CAST(nt.n AS HUGEINT) * nt.n * nt.n - nt.n))
        |    // nullif(CAST(nt.n AS HUGEINT) * (nt.n + 1)
        |      * (CAST(nt.n AS HUGEINT) * nt.n * nt.n - nt.n - nt.t), 0)
        |      AS hc
        |  FROM s, nt WHERE s.k >= 2
        |    AND CAST(nt.n AS HUGEINT) * nt.n * nt.n - nt.n > nt.t),
        |z AS (SELECT k, n, hc, CAST(k - 1 AS DOUBLE) AS d,
        |    CASE WHEN hc > 0
        |      THEN CAST(hc AS DOUBLE) / 1000000.0 / CAST(k - 1 AS DOUBLE)
        |    END AS u
        |  FROM h),
        |zw AS (SELECT *, (exp(ln(u) / 3.0) - (1.0 - 2.0 / (9.0 * d)))
        |    / sqrt(2.0 / (9.0 * d)) AS z FROM z),
        |x0 AS (SELECT *, abs(z) / 1.4142135623730951 AS x FROM zw),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT k, n, hc, z,
        |    (tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) AS p2
        |  FROM t0)
        |SELECT n, k AS n_groups, CAST(hc AS BIGINT) AS h_micros,
        |  CAST(round((CASE WHEN hc <= 0 THEN 1.0
        |    WHEN z >= 0.0 THEN p2 / 2.0
        |    ELSE 1.0 - p2 / 2.0 END) * 1000000) AS BIGINT) AS p_micros
        |FROM p""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_effect_size", (s, dir) => {
      import s.implicits._
      // Cohen's d / Hedges' g / Cliff's delta for purchase cents by
      // user parity — the magnitude reading next to ab_ttest and
      // ab_mannwhitney's verdicts: exact integer moments, one
      // mirrored IEEE tree for d, delta fully integer. One row.
      graft.operators.OrderedStats.effectSizes(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        round($"value" * 100).cast("long"),
        pmod($"user_id", lit(2)) === 0)
    },
    // exact HUGEINT moments; d ONE mirrored IEEE tree; g scales the
    // unrounded d; Cliff's delta a cross-multiplied integer division
    Oracle("""WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
        |    (user_id % 2 = 0) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |mom AS (SELECT
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN t THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1,
        |    sum(CASE WHEN NOT t THEN CAST(x AS HUGEINT) ELSE 0 END) AS s2,
        |    sum(CASE WHEN t THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q1,
        |    sum(CASE WHEN NOT t THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS q2
        |  FROM base),
        |c AS (SELECT x AS v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM base GROUP BY 1),
        |cc AS (SELECT v, ca, cb, sum(cb) OVER (ORDER BY v) AS cum_b
        |  FROM c),
        |u AS (SELECT CAST(sum(CAST(ca AS HUGEINT)
        |    * (2 * (cum_b - cb) + cb)) AS HUGEINT) AS u2 FROM cc),
        |d0 AS (SELECT mom.*, u.u2,
        |    CAST(n_a AS DOUBLE) AS n1, CAST(n_b AS DOUBLE) AS n2
        |  FROM mom, u
        |  WHERE n_a > 0 AND n_b > 0 AND n_a + n_b > 2),
        |d1 AS (SELECT *,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / n1)
        |    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / n2) AS ssq
        |  FROM d0),
        |d2 AS (SELECT *,
        |    (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |      / sqrt(ssq / (n1 + n2 - 2.0)) AS dd
        |  FROM d1 WHERE ssq > 0.0)
        |SELECT n_a, n_b,
        |  CAST(round(dd * 1000000) AS BIGINT) AS d_micros,
        |  CAST(round(dd * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
        |    * 1000000) AS BIGINT) AS g_micros,
        |  CAST(((u2 - CAST(n_a AS HUGEINT) * n_b) * 1000000)
        |    // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS cliff_micros
        |FROM d2""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_levene", (s, dir) => {
      import s.implicits._
      // Levene/Brown-Forsythe variance-homogeneity test across the
      // five priorities — the assumption check BEFORE any pooled
      // test: one-way ANOVA on |x - group median| (median, not mean:
      // robust to the tails that motivate the question). The median
      // is percentile_disc (an actual data value), so the absolute
      // deviations stay exact integers into the anovaF machinery.
      val base = Tables.orders(s, dir).select($"o_orderpriority".as("g"),
        round($"o_totalprice" * 100).cast("long").as("x"))
      val med = base.groupBy($"g")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("__med"))
      val dev = base.join(med, "g")
        .select($"g", abs($"x" - $"__med").as("z"))
      Features.anovaF(dev, $"g", $"z")
    },
    // quantile_disc medians (actual data values) keep the absolute
    // deviations exact integers; then the ab_anova machinery verbatim
    Oracle("""WITH raw AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v0
        |  FROM orders),
        |med AS (SELECT g, CAST(quantile_disc(v0, 0.5) AS BIGINT) AS m
        |  FROM raw GROUP BY 1),
        |base AS (SELECT raw.g, abs(v0 - m) AS x
        |  FROM raw JOIN med ON med.g = raw.g),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sg,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qg
        |  FROM base GROUP BY 1),
        |a AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(sg) AS HUGEINT) AS s,
        |    CAST(sum(qg) AS HUGEINT) AS q,
        |    sum((sg * sg * 1000) // CAST(ng AS HUGEINT)) AS aa
        |  FROM pg),
        |b AS (SELECT *, aa - (s * s * 1000) // CAST(n AS HUGEINT) AS ssb,
        |    q * 1000 - aa AS ssw
        |  FROM a WHERE k >= 2 AND n > k),
        |c AS (SELECT * FROM b WHERE ssw > 0),
        |f0 AS (SELECT n, k,
        |    CASE WHEN ssb > 0 THEN
        |      (CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE))
        |      / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE))
        |    ELSE 0.0 END AS f,
        |    CAST(k - 1 AS DOUBLE) AS d1, CAST(n - k AS DOUBLE) AS d2
        |  FROM c),
        |cb AS (SELECT *,
        |    exp(ln(CASE WHEN f > 0 THEN f END) / 3.0) AS cbf
        |  FROM f0),
        |zz AS (SELECT *,
        |    ((1.0 - 2.0 / (9.0 * d2)) * cbf - (1.0 - 2.0 / (9.0 * d1)))
        |    / sqrt((2.0 / (9.0 * d2)) * cbf * cbf + 2.0 / (9.0 * d1))
        |      AS z
        |  FROM cb),
        |x0 AS (SELECT *, abs(z) / 1.4142135623730951 AS x FROM zz),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT n, k, f, z,
        |    (tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) AS p2
        |  FROM t0)
        |SELECT n, k AS n_groups,
        |  CAST(round(f * 1000000) AS BIGINT) AS f_micros,
        |  CAST(round((CASE WHEN f <= 0.0 THEN 1.0
        |    WHEN z >= 0.0 THEN p2 / 2.0
        |    ELSE 1.0 - p2 / 2.0 END) * 1000000) AS BIGINT) AS p_micros
        |FROM p""".stripMargin),
    bench = true),

    QuerySpec("ab_anova", (s, dir) => {
      import s.implicits._
      // One-way ANOVA F across the five order priorities on order
      // cents — the parametric MEAN test next to ab_kruskal's rank
      // verdict: exact milli-integer sums of squares, F one IEEE
      // division, p via the mirrored Paulson tree. One row.
      Features.anovaF(Tables.orders(s, dir),
        $"o_orderpriority", round($"o_totalprice" * 100).cast("long"))
    },
    // exact HUGEINT group moments; milli-scaled sums of squares by
    // truncating division; F one IEEE division; Paulson cube roots
    // via exp(ln/3) mirrored through the shared p polynomial
    Oracle("""WITH base AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sg,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qg
        |  FROM base GROUP BY 1),
        |a AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(sg) AS HUGEINT) AS s,
        |    CAST(sum(qg) AS HUGEINT) AS q,
        |    sum((sg * sg * 1000) // CAST(ng AS HUGEINT)) AS aa
        |  FROM pg),
        |b AS (SELECT *, aa - (s * s * 1000) // CAST(n AS HUGEINT) AS ssb,
        |    q * 1000 - aa AS ssw
        |  FROM a WHERE k >= 2 AND n > k),
        |c AS (SELECT * FROM b WHERE ssw > 0),
        |f0 AS (SELECT n, k,
        |    CASE WHEN ssb > 0 THEN
        |      (CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE))
        |      / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE))
        |    ELSE 0.0 END AS f,
        |    CAST(k - 1 AS DOUBLE) AS d1, CAST(n - k AS DOUBLE) AS d2
        |  FROM c),
        |cb AS (SELECT *,
        |    exp(ln(CASE WHEN f > 0 THEN f END) / 3.0) AS cbf
        |  FROM f0),
        |zz AS (SELECT *,
        |    ((1.0 - 2.0 / (9.0 * d2)) * cbf - (1.0 - 2.0 / (9.0 * d1)))
        |    / sqrt((2.0 / (9.0 * d2)) * cbf * cbf + 2.0 / (9.0 * d1))
        |      AS z
        |  FROM cb),
        |x0 AS (SELECT *, abs(z) / 1.4142135623730951 AS x FROM zz),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT n, k, f, z,
        |    (tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) AS p2
        |  FROM t0)
        |SELECT n, k AS n_groups,
        |  CAST(round(f * 1000000) AS BIGINT) AS f_micros,
        |  CAST(round((CASE WHEN f <= 0.0 THEN 1.0
        |    WHEN z >= 0.0 THEN p2 / 2.0
        |    ELSE 1.0 - p2 / 2.0 END) * 1000000) AS BIGINT) AS p_micros
        |FROM p""".stripMargin),
    bench = true),

    QuerySpec("ab_mcnemar", (s, dir) => {
      import s.implicits._
      // McNemar paired test: does the same user's heavy-purchaser
      // status (>= 7 purchases) flip between the first and second
      // half of the observation window? Only discordant users inform
      // the verdict — the within-subject reading no independent-group
      // z-test can give. Exact integer cells, clamped continuity
      // correction, mirrored sqrt tree. One row.
      val ev = Tables.events(s, dir).filter($"event_type" === "purchase")
      val mm = ev.agg(min(unix_timestamp($"ts")).as("__t0"),
        max(unix_timestamp($"ts")).as("__t1"))
      val per = ev.crossJoin(broadcast(mm)) // 1-row window bounds
        .withColumn("__late",
          unix_timestamp($"ts") * 2 >= $"__t0" + $"__t1")
        .groupBy($"user_id")
        .agg((sum(when(!$"__late", 1L).otherwise(0L)) >= 7L).as("ya"),
          (sum(when($"__late", 1L).otherwise(0L)) >= 7L).as("yb"))
      Features.mcNemar(per, $"ya", $"yb")
    },
    // exact discordant cells; clamped continuity correction; the
    // chi2(1) upper tail read as the two-sided normal tail of sqrt
    Oracle("""WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events WHERE event_type = 'purchase'),
        |mm AS (SELECT min(tsec) AS t0, max(tsec) AS t1 FROM ev),
        |per AS (SELECT user_id,
        |    sum(CASE WHEN tsec * 2 >= t0 + t1 THEN 0 ELSE 1 END) >= 7
        |      AS ya,
        |    sum(CASE WHEN tsec * 2 >= t0 + t1 THEN 1 ELSE 0 END) >= 7
        |      AS yb
        |  FROM ev, mm GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN ya AND NOT yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT ya AND yb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM per),
        |f AS (SELECT *, greatest(abs(b - c) - 1, 0) AS num
        |  FROM agg WHERE b + c > 0),
        |z AS (SELECT *, sqrt(CAST(num * num AS DOUBLE)
        |    / CAST(b + c AS DOUBLE)) AS zz FROM f),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0)
        |SELECT n_pairs, b, c,
        |  CAST((CAST(num AS HUGEINT) * num * 1000000) // (b + c)
        |    AS BIGINT) AS chi2_micros,
        |  CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t0""".stripMargin),
    bench = true),

    QuerySpec("ab_cmh", (s, dir) => {
      import s.implicits._
      // Cochran-Mantel-Haenszel test of parity -> high-value (>= $50)
      // association with the event type held fixed per stratum — the
      // Simpson's-paradox guard next to ab_poststrat. Pico-scaled
      // hypergeometric terms, one mirrored z tree. One row.
      Features.cmhTest(Tables.events(s, dir), $"event_type",
        pmod($"user_id", lit(2)) === 0, $"value" >= 50.0)
    },
    // per-stratum hypergeometric margins; pico-scaled truncating E
    // and V terms, order-free HUGEINT sums, one mirrored z tree
    Oracle("""WITH base AS (SELECT event_type AS s, (user_id % 2 = 0) AS t,
        |    (value >= 50.0) AS y FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |ps AS (SELECT s,
        |    CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1),
        |tm AS (SELECT a, n,
        |    (CAST(n1 AS HUGEINT) * m1 * 1000000000000) // n AS ee,
        |    CASE WHEN n > 1 THEN
        |      (CAST(n1 AS HUGEINT) * (n - n1) * m1 * (n - m1)
        |        * 1000000000000)
        |      // (CAST(n AS HUGEINT) * n * (n - 1))
        |    ELSE 0 END AS vv
        |  FROM ps),
        |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(a) AS BIGINT) AS a,
        |    CAST(sum(ee) AS HUGEINT) AS ep,
        |    CAST(sum(vv) AS HUGEINT) AS vp FROM tm),
        |b AS (SELECT * FROM agg WHERE vp > 0),
        |z AS (SELECT *,
        |    CAST(CAST(a AS HUGEINT) * 1000000000000 - ep AS DOUBLE)
        |      / (1000000.0 * sqrt(CAST(vp AS DOUBLE))) AS zz
        |  FROM b),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0)
        |SELECT n, k AS n_strata, a AS a_total,
        |  CAST(ep // 1000000 AS BIGINT) AS e_total_micros,
        |  CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t0""".stripMargin),
    bench = true),

    QuerySpec("ab_yuen", (s, dir) => {
      import s.implicits._
      // Yuen 20%-trimmed robust t on purchase cents by user parity —
      // the whale-proof mean comparison next to ab_ttest (raw means)
      // and ab_mannwhitney (ranks): exact order-statistic trim
      // boundaries and winsorized moments off the prefix sum, one
      // mirrored t/df/p tree. One row.
      graft.operators.OrderedStats.yuenTTest(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        round($"value" * 100).cast("long"),
        pmod($"user_id", lit(2)) === 0)
    },
    // order-statistic trim boundaries with tie-safe excess terms;
    // exact HUGEINT winsorized moments; one mirrored t/df/p tree
    Oracle("""WITH s AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    (user_id % 2 = 0) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cb) OVER (ORDER BY v) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb,
        |    sum(CAST(ca AS HUGEINT) * v) AS sa,
        |    sum(CAST(cb AS HUGEINT) * v) AS sb,
        |    sum(CAST(ca AS HUGEINT) * v * v) AS qa,
        |    sum(CAST(cb AS HUGEINT) * v * v) AS qb
        |  FROM c),
        |g AS (SELECT *, (na * 200000) // 1000000 AS ga,
        |    (nb * 200000) // 1000000 AS gb FROM tot),
        |b AS (SELECT g.na, g.nb, g.ga, g.gb, g.sa, g.sb, g.qa, g.qb,
        |    min(CASE WHEN cc.cum_a >= g.ga + 1 THEN cc.v END) AS bla,
        |    min(CASE WHEN cc.cum_a >= g.na - g.ga THEN cc.v END) AS bha,
        |    min(CASE WHEN cc.cum_b >= g.gb + 1 THEN cc.v END) AS blb,
        |    min(CASE WHEN cc.cum_b >= g.nb - g.gb THEN cc.v END) AS bhb
        |  FROM cc, g GROUP BY ALL),
        |m AS (SELECT b.*,
        |    sum(CASE WHEN cc.v < b.bla
        |      THEN CAST(cc.ca AS HUGEINT) * cc.v ELSE 0 END) AS sloa,
        |    sum(CASE WHEN cc.v < b.bla
        |      THEN CAST(cc.ca AS HUGEINT) * cc.v * cc.v ELSE 0 END)
        |      AS qloa,
        |    CAST(sum(CASE WHEN cc.v < b.bla THEN cc.ca ELSE 0 END)
        |      AS BIGINT) AS cloa,
        |    sum(CASE WHEN cc.v > b.bha
        |      THEN CAST(cc.ca AS HUGEINT) * cc.v ELSE 0 END) AS shia,
        |    sum(CASE WHEN cc.v > b.bha
        |      THEN CAST(cc.ca AS HUGEINT) * cc.v * cc.v ELSE 0 END)
        |      AS qhia,
        |    CAST(sum(CASE WHEN cc.v > b.bha THEN cc.ca ELSE 0 END)
        |      AS BIGINT) AS chia,
        |    sum(CASE WHEN cc.v < b.blb
        |      THEN CAST(cc.cb AS HUGEINT) * cc.v ELSE 0 END) AS slob,
        |    sum(CASE WHEN cc.v < b.blb
        |      THEN CAST(cc.cb AS HUGEINT) * cc.v * cc.v ELSE 0 END)
        |      AS qlob,
        |    CAST(sum(CASE WHEN cc.v < b.blb THEN cc.cb ELSE 0 END)
        |      AS BIGINT) AS clob,
        |    sum(CASE WHEN cc.v > b.bhb
        |      THEN CAST(cc.cb AS HUGEINT) * cc.v ELSE 0 END) AS shib,
        |    sum(CASE WHEN cc.v > b.bhb
        |      THEN CAST(cc.cb AS HUGEINT) * cc.v * cc.v ELSE 0 END)
        |      AS qhib,
        |    CAST(sum(CASE WHEN cc.v > b.bhb THEN cc.cb ELSE 0 END)
        |      AS BIGINT) AS chib
        |  FROM cc, b GROUP BY ALL),
        |ar AS (SELECT *,
        |    na - 2 * ga AS ha, nb - 2 * gb AS hb,
        |    sa - sloa - CAST(ga - cloa AS HUGEINT) * bla
        |      - shia - CAST(ga - chia AS HUGEINT) * bha AS sta,
        |    sb - slob - CAST(gb - clob AS HUGEINT) * blb
        |      - shib - CAST(gb - chib AS HUGEINT) * bhb AS stb
        |  FROM m),
        |wn AS (SELECT *,
        |    sta + CAST(ga AS HUGEINT) * bla + CAST(ga AS HUGEINT) * bha
        |      AS swa,
        |    stb + CAST(gb AS HUGEINT) * blb + CAST(gb AS HUGEINT) * bhb
        |      AS swb,
        |    qa - qloa - CAST(ga - cloa AS HUGEINT) * bla * bla
        |      - qhia - CAST(ga - chia AS HUGEINT) * bha * bha
        |      + CAST(ga AS HUGEINT) * bla * bla
        |      + CAST(ga AS HUGEINT) * bha * bha AS qwa,
        |    qb - qlob - CAST(gb - clob AS HUGEINT) * blb * blb
        |      - qhib - CAST(gb - chib AS HUGEINT) * bhb * bhb
        |      + CAST(gb AS HUGEINT) * blb * blb
        |      + CAST(gb AS HUGEINT) * bhb * bhb AS qwb
        |  FROM ar WHERE na - 2 * ga >= 2 AND nb - 2 * gb >= 2),
        |dd AS (SELECT *,
        |    CAST(na * qwa - swa * swa AS DOUBLE)
        |      / CAST(CAST(na AS HUGEINT) * ha * (ha - 1) AS DOUBLE)
        |      AS da,
        |    CAST(nb * qwb - swb * swb AS DOUBLE)
        |      / CAST(CAST(nb AS HUGEINT) * hb * (hb - 1) AS DOUBLE)
        |      AS db,
        |    CAST(sta AS DOUBLE) / CAST(ha AS DOUBLE) AS mta,
        |    CAST(stb AS DOUBLE) / CAST(hb AS DOUBLE) AS mtb
        |  FROM wn),
        |zt AS (SELECT *, (mta - mtb) / sqrt(da + db) AS t,
        |    (da + db) * (da + db)
        |      / (da * da / (CAST(ha AS DOUBLE) - 1.0)
        |        + db * db / (CAST(hb AS DOUBLE) - 1.0)) AS dfy
        |  FROM dd WHERE da + db > 0.0),
        |x0 AS (SELECT *, abs(t) / 1.4142135623730951 AS x FROM zt),
        |t1 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tp FROM x0)
        |SELECT na AS n_1, nb AS n_2,
        |  CAST(ha AS BIGINT) AS h_1, CAST(hb AS BIGINT) AS h_2,
        |  CAST(round(mta * 1000000) AS BIGINT) AS mean_t1_micros,
        |  CAST(round(mtb * 1000000) AS BIGINT) AS mean_t2_micros,
        |  CAST(round(t * 1000000) AS BIGINT) AS t_micros,
        |  CAST(round(dfy * 1000000) AS BIGINT) AS df_micros,
        |  CAST(round((tp * (0.254829592 + tp * (-0.284496736
        |    + tp * (1.421413741 + tp * (-1.453152027
        |    + tp * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_posthoc", (s, dir) => {
      import s.implicits._
      // Pairwise Welch comparisons of order cents across the five
      // priorities with the Holm step-down — WHICH priorities differ
      // after ab_anova / ab_kruskal say "some do". Exact per-group
      // moments, mirrored t trees, integer step-down verdicts. Ten
      // rows.
      Features.posthocPairs(Tables.orders(s, dir),
        $"o_orderpriority", round($"o_totalprice" * 100).cast("long"))
    },
    // per-group exact moments; pairwise mirrored Welch trees; Holm
    // step-down as cross-multiplied integer prefix verdicts
    Oracle("""WITH base AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        |  FROM base GROUP BY 1),
        |pr AS (SELECT a.g AS g1, b.g AS g2,
        |    a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2,
        |    a.q AS q1, b.q AS q2
        |  FROM pg a JOIN pg b ON a.g < b.g
        |  WHERE a.n > 1 AND b.n > 1),
        |w AS (SELECT g1, g2, n1, n2,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |    CAST(n1 * q1 - s1 * s1 AS DOUBLE)
        |      / CAST(CAST(n1 AS HUGEINT) * (n1 - 1) AS DOUBLE)
        |      / CAST(n1 AS DOUBLE) AS se21,
        |    CAST(n2 * q2 - s2 * s2 AS DOUBLE)
        |      / CAST(CAST(n2 AS HUGEINT) * (n2 - 1) AS DOUBLE)
        |      / CAST(n2 AS DOUBLE) AS se22
        |  FROM pr),
        |tt0 AS (SELECT *, (m1 - m2) / sqrt(se21 + se22) AS t
        |  FROM w WHERE se21 + se22 > 0.0),
        |x0 AS (SELECT *, abs(t) / 1.4142135623730951 AS x FROM tt0),
        |t1 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tp FROM x0),
        |p AS (SELECT g1, g2, n1, n2, m1, m2, t,
        |    CAST(round((tp * (0.254829592 + tp * (-0.284496736
        |      + tp * (1.421413741 + tp * (-1.453152027
        |      + tp * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |      AS BIGINT) AS p_micros
        |  FROM t1),
        |r AS (SELECT *,
        |    CAST(count(*) OVER () AS BIGINT) AS m,
        |    CAST(row_number() OVER (ORDER BY p_micros, g1, g2)
        |      AS BIGINT) AS rank
        |  FROM p),
        |v AS (SELECT *,
        |    CASE WHEN p_micros * (m - rank + 1) <= 50000
        |      THEN 1 ELSE 0 END AS ok
        |  FROM r)
        |SELECT g1, g2, n1 AS n_1, n2 AS n_2,
        |  CAST(round(m1 * 1000000) AS BIGINT) AS mean_1_micros,
        |  CAST(round(m2 * 1000000) AS BIGINT) AS mean_2_micros,
        |  CAST(round(t * 1000000) AS BIGINT) AS t_micros,
        |  p_micros, rank,
        |  min(ok) OVER (ORDER BY p_micros, g1, g2
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    AS rejected
        |FROM v ORDER BY rank""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_poststrat", (s, dir) => {
      import s.implicits._
      // Post-stratified value difference by user parity, stratified
      // on event type: per-stratum exact cells, weights applied as
      // counts with ONE final division — the no-pre-period variance
      // reduction next to CUPED. One row, fully integer.
      Features.postStratifiedDiff(Tables.events(s, dir),
        $"event_type", pmod($"user_id", lit(2)) === 0,
        round($"value" * 100))
    },
    // per-stratum HUGEINT cells; stratum means by truncating
    // division, weighted as counts, one final division per estimate
    Oracle("""WITH c AS (SELECT event_type AS s,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS HUGEINT) AS st,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS HUGEINT) AS sc
        |  FROM events GROUP BY 1),
        |f AS (SELECT * FROM c WHERE nt > 0 AND nc > 0),
        |a AS (SELECT CAST(sum(nt + nc) AS BIGINT) AS n,
        |    CAST(sum(nt) AS HUGEINT) AS tn,
        |    CAST(sum(nc) AS HUGEINT) AS cn,
        |    sum(st) AS ts, sum(sc) AS cs,
        |    sum(CAST(nt + nc AS HUGEINT) * (st * 1000000 // nt))
        |      AS wt,
        |    sum(CAST(nt + nc AS HUGEINT) * (sc * 1000000 // nc))
        |      AS wc
        |  FROM f)
        |SELECT n,
        |  CAST(ts * 1000000 // tn AS BIGINT) AS naive_t_micros,
        |  CAST(cs * 1000000 // cn AS BIGINT) AS naive_c_micros,
        |  CAST(ts * 1000000 // tn - cs * 1000000 // cn AS BIGINT)
        |    AS naive_diff_micros,
        |  CAST(wt // n AS BIGINT) AS poststrat_t_micros,
        |  CAST(wc // n AS BIGINT) AS poststrat_c_micros,
        |  CAST(wt // n - wc // n AS BIGINT) AS poststrat_diff_micros
        |FROM a WHERE n > 0""".stripMargin),
    bench = true),

    QuerySpec("ab_power", (s, dir) => {
      import s.implicits._
      // Power/MDE table for per-user purchase revenue: required
      // per-arm n for 1/2/5/10% relative effects and the minimum
      // detectable effect at the current size (alpha 0.05, power
      // 0.80). Exact moments, one mirrored closed-form tree.
      val perUser = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(round($"value" * 100).cast("long")).as("cents"))
      graft.operators.Features.powerAnalysis(perUser, $"cents",
          Seq(10000L, 20000L, 50000L, 100000L))
        .orderBy($"effect_ppm")
    },
    // exact per-user moments; the closed-form power tree mirrored
    // (z literals fold identically); ceil rounds fractional units UP
    Oracle("""WITH u AS (SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS HUGEINT) AS s,
        |    CAST(sum(y * y) AS HUGEINT) AS ss
        |  FROM u),
        |d AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) AS v
        |  FROM c WHERE n > 1),
        |e AS (SELECT CAST(unnest([10000, 20000, 50000, 100000])
        |    AS BIGINT) AS effect_ppm)
        |SELECT e.effect_ppm, d.n AS n_current,
        |  CAST(round(m * 1000000) AS BIGINT) AS mean_micros,
        |  CAST(round(sqrt(v) * 1000000) AS BIGINT) AS sd_micros,
        |  CAST(ceil(2.0 * v
        |      * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
        |    / ((m * CAST(e.effect_ppm AS DOUBLE) / 1000000.0)
        |      * (m * CAST(e.effect_ppm AS DOUBLE) / 1000000.0)))
        |    AS BIGINT) AS n_required,
        |  CAST(round((1.959964 + 0.841621)
        |    * sqrt(2.0 * v / CAST(d.n AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS mde_micros
        |FROM d, e WHERE v > 0 AND m <> 0
        |ORDER BY effect_ppm""".stripMargin),
    bench = true),

    QuerySpec("ab_sequential", (s, dir) => {
      import s.implicits._
      // Always-valid sequential test over a daily look schedule:
      // purchase cents, arms by user parity (a true null — the
      // always-valid p should never reject), mixture sd tau = 50
      // cents. Each look's 1/Lambda is one mirrored IEEE tree on
      // exact cumulative integers; the running min and the verdict
      // compare as longs, so DuckDB replays all 30 looks.
      graft.operators.Features.sequentialMsprt(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        date_trunc("day", $"ts"), pmod($"user_id", lit(2)) === 0,
        round($"value" * 100), tau = 50.0, alphaMicros = 50000L)
        .orderBy($"look")
    },
    // exact cumulative look cells, the reciprocal-free mSPRT tree
    // mirrored token-for-token, running min + verdicts as longs
    Oracle("""WITH base AS (SELECT date_trunc('day', ts) AS look,
        |    (user_id % 2 = 0) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'),
        |lk AS (SELECT look,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    sum(CASE WHEN t THEN y ELSE 0 END) AS sa,
        |    sum(CASE WHEN t THEN y * y ELSE 0 END) AS ssa,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    sum(CASE WHEN NOT t THEN y ELSE 0 END) AS sb,
        |    sum(CASE WHEN NOT t THEN y * y ELSE 0 END) AS ssb
        |  FROM base GROUP BY 1),
        |cum AS (SELECT look,
        |    CAST(sum(na) OVER w AS BIGINT) AS n_a,
        |    CAST(sum(sa) OVER w AS HUGEINT) AS csa,
        |    CAST(sum(ssa) OVER w AS HUGEINT) AS cssa,
        |    CAST(sum(nb) OVER w AS BIGINT) AS n_b,
        |    CAST(sum(sb) OVER w AS HUGEINT) AS csb,
        |    CAST(sum(ssb) OVER w AS HUGEINT) AS cssb
        |  FROM lk
        |  WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
        |vd AS (SELECT look, n_a, n_b,
        |    CAST(csa AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(csb AS DOUBLE) / CAST(n_b AS DOUBLE) AS d,
        |    (CAST(n_a * cssa - csa * csa AS DOUBLE)
        |        / CAST(n_a * (n_a - 1) AS DOUBLE))
        |      / CAST(n_a AS DOUBLE)
        |    + (CAST(n_b * cssb - csb * csb AS DOUBLE)
        |        / CAST(n_b * (n_b - 1) AS DOUBLE))
        |      / CAST(n_b AS DOUBLE) AS v
        |  FROM cum WHERE n_a > 1 AND n_b > 1),
        |pp AS (SELECT look, n_a, n_b, d,
        |    CAST(round(least(1.0, sqrt((v + 2500.0) / v)
        |      * exp(-(d * d * 2500.0) / (2.0 * v * (v + 2500.0))))
        |      * 1000000) AS BIGINT) AS p_micros
        |  FROM vd WHERE v > 0),
        |av AS (SELECT look, n_a, n_b,
        |    CAST(round(d * 1000000) AS BIGINT) AS d_micros, p_micros,
        |    min(p_micros) OVER (ORDER BY look ROWS UNBOUNDED PRECEDING)
        |      AS p_av_micros
        |  FROM pp)
        |SELECT look, n_a, n_b, d_micros, p_micros,
        |  CAST(p_av_micros AS BIGINT) AS p_av_micros,
        |  p_av_micros <= 50000 AS rejected
        |FROM av ORDER BY look""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_bh_fdr", (s, dir) => {
      import s.implicits._
      // Benjamini-Hochberg over a 10-test parity battery (per event
      // type: even-user share vs 1/2 — a TRUE null — and mod-3 share
      // vs 1/2 — false by construction): z from exact counts, p via
      // the shared A&S polynomial (mirrored token-for-token), then
      // the all-integer step-up. The false family must reject; the
      // verdicts are integer-exact.
      val agg = Tables.events(s, dir).groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(pmod($"user_id", lit(2)) === 0, 1L).otherwise(0L))
            .as("s2"),
          sum(when(pmod($"user_id", lit(3)) === 0, 1L).otherwise(0L))
            .as("s3"))
      def pOf(sc: Column): Column = {
        val z = (lit(2L) * sc - $"n").cast("double") /
          sqrt($"n".cast("double"))
        round(graft.operators.Quality.pValueTwoSidedZ(z) * 1e6)
          .cast("long")
      }
      val battery = agg.select(
          concat($"event_type", lit(":even_half")).as("metric"),
          pOf($"s2").as("p_micros"))
        .unionByName(agg.select(
          concat($"event_type", lit(":mod3_half")).as("metric"),
          pOf($"s3").as("p_micros")))
      graft.operators.Quality.bhFdr(battery, "metric", $"p_micros")
        .orderBy($"rank")
    },
    Oracle("""WITH agg AS (SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS s2,
        |    sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS s3
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT event_type || ':even_half' AS metric,
        |    CAST(2 * s2 - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS z
        |  FROM agg
        |  UNION ALL
        |  SELECT event_type || ':mod3_half' AS metric,
        |    CAST(2 * s3 - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS z
        |  FROM agg),
        |x0 AS (SELECT metric, abs(z) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT metric, x,
        |    1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT metric,
        |    CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |      AS BIGINT) AS p_micros
        |  FROM t0),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
        |r AS (SELECT metric, p_micros,
        |    CAST(row_number() OVER (ORDER BY p_micros, metric)
        |      AS BIGINT) AS rank, m
        |  FROM p, t),
        |q AS (SELECT metric, p_micros, rank, m,
        |    max(CASE WHEN p_micros * m <= rank * 50000
        |      THEN rank ELSE 0 END) OVER () AS mq
        |  FROM r)
        |SELECT metric, p_micros, rank,
        |  CAST(rank * 50000 // m AS BIGINT) AS bh_cut_micros,
        |  rank <= mq AS rejected
        |FROM q ORDER BY rank""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_srm_segments", (s, dir) => {
      import s.implicits._
      // Sample-ratio-mismatch BATTERY: the one-number SRM health
      // check (ab_ztest) swept across every segment — a global 50/50
      // that holds overall can still be broken inside one segment
      // (the classic redirect bug), and k segment checks need FDR
      // control. Distinct-user counts per arm per event type, the
      // SRM z, the shared p polynomial, then the bhFdr step-up.
      val seg = Tables.events(s, dir).groupBy($"event_type")
        .agg(countDistinct(when(pmod($"user_id", lit(2)) === 0,
            $"user_id")).as("n_t"),
          countDistinct(when(pmod($"user_id", lit(2)) =!= 0,
            $"user_id")).as("n_c"))
      val z = ($"n_t" - $"n_c").cast("double") /
        sqrt(($"n_t" + $"n_c").cast("double"))
      val battery = seg.select($"event_type".as("metric"),
        round(graft.operators.Quality.pValueTwoSidedZ(z) * 1e6)
          .cast("long").as("p_micros"))
      graft.operators.Quality.bhFdr(battery, "metric", $"p_micros")
        .orderBy($"rank")
    },
    // distinct-user arm counts per segment, the SRM z, the shared
    // polynomial, then the same all-integer BH step-up as ab_bh_fdr
    Oracle("""WITH agg AS (SELECT event_type,
        |    count(DISTINCT CASE WHEN user_id % 2 = 0
        |      THEN user_id END) AS n_t,
        |    count(DISTINCT CASE WHEN user_id % 2 <> 0
        |      THEN user_id END) AS n_c
        |  FROM events GROUP BY 1),
        |z AS (SELECT event_type AS metric,
        |    CAST(n_t - n_c AS DOUBLE)
        |      / sqrt(CAST(n_t + n_c AS DOUBLE)) AS z
        |  FROM agg),
        |x0 AS (SELECT metric, abs(z) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT metric, x,
        |    1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT metric,
        |    CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |      AS BIGINT) AS p_micros
        |  FROM t0),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
        |r AS (SELECT metric, p_micros,
        |    CAST(row_number() OVER (ORDER BY p_micros, metric)
        |      AS BIGINT) AS rank, m
        |  FROM p, t),
        |q AS (SELECT metric, p_micros, rank, m,
        |    max(CASE WHEN p_micros * m <= rank * 50000
        |      THEN rank ELSE 0 END) OVER () AS mq
        |  FROM r)
        |SELECT metric, p_micros, rank,
        |  CAST(rank * 50000 // m AS BIGINT) AS bh_cut_micros,
        |  rank <= mq AS rejected
        |FROM q ORDER BY rank""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ab_trend", (s, dir) => {
      import s.implicits._
      // Cochran-Armitage linear trend of urgency share across order
      // months: exact DECIMAL moments multiplied through by N, one
      // mirrored z tree, two-sided p via the shared polynomial.
      Features.cochranArmitage(Tables.orders(s, dir),
        month($"o_orderdate"),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
    },
    // moments multiplied through by N (exact HUGEINT), the z tree and
    // the shared A&S polynomial mirrored token-for-token
    Oracle("""WITH g AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS s2,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority IN
        |      ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum(CAST(n AS HUGEINT)) AS nn, sum(CAST(r AS HUGEINT)) AS rr,
        |    sum(CAST(n AS HUGEINT) * s2) AS sns,
        |    sum(CAST(n AS HUGEINT) * s2 * s2) AS sns2,
        |    sum(CAST(s2 AS HUGEINT) * r) AS ssr
        |  FROM g),
        |t AS (SELECT k, nn, rr, nn * ssr - sns * rr AS tn,
        |    nn * sns2 - sns * sns AS an FROM m
        |  WHERE rr > 0 AND rr < nn AND nn * sns2 - sns * sns > 0),
        |z AS (SELECT k, nn, rr,
        |    CAST(tn AS DOUBLE) * sqrt(CAST(nn AS DOUBLE))
        |      / sqrt(CAST(rr * (nn - rr) AS DOUBLE)
        |        * CAST(an AS DOUBLE)) AS zz
        |  FROM t),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT *, (tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) AS p2 FROM t0)
        |SELECT k AS n_groups, CAST(nn AS BIGINT) AS n,
        |  CAST(rr AS BIGINT) AS successes,
        |  CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round(p2 * 1000000) AS BIGINT) AS p_micros
        |FROM p""".stripMargin),
    bench = true),

    QuerySpec("ab_cochran_q", (s, dir) => {
      import s.implicits._
      // Cochran's Q over three correlated binary rules on the same
      // orders (high value / urgent priority / first half-year) —
      // the matched-flags disagreement test a per-rule rate table
      // cannot answer; k = 3 gives the exact chi2(2) tail exp(-Q/2).
      Features.cochranQ(Tables.orders(s, dir), Seq(
        $"o_totalprice" > 150000.0,
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"),
        month($"o_orderdate") <= 6))
    },
    // every term an exact HUGEINT from one aggregate; Q is one double
    // division; the chi2(2) tail exp(-Q/2) is exact at k = 3
    Oracle("""WITH b AS (SELECT
        |    CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS f2,
        |    CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END AS f3
        |  FROM orders),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(f1 + f2 + f3 AS HUGEINT)) AS sr,
        |    sum(CAST((f1 + f2 + f3) * (f1 + f2 + f3) AS HUGEINT))
        |      AS sr2,
        |    sum(CAST(f1 AS HUGEINT)) AS c1,
        |    sum(CAST(f2 AS HUGEINT)) AS c2,
        |    sum(CAST(f3 AS HUGEINT)) AS c3
        |  FROM b),
        |q AS (SELECT n,
        |    CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
        |        - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
        |      / CAST(3 * sr - sr2 AS DOUBLE) AS qq
        |  FROM m WHERE 3 * sr - sr2 > 0)
        |SELECT n AS n_rows, CAST(3 AS BIGINT) AS k,
        |  CAST(round(qq * 1000000) AS BIGINT) AS q_micros,
        |  CAST(round(exp(-qq / 2.0) * 1000000) AS BIGINT) AS p_micros
        |FROM q""".stripMargin),
    bench = true),

    QuerySpec("ab_did", (s, dir) => {
      import s.implicits._
      // Difference-in-differences on purchase cents: even users
      // "treated", the month's midpoint splits pre/post — the
      // quasi-experimental readout that nets out the group gap and
      // the common time shock. Integer cell means, mirrored IEEE
      // inference tail.
      Features.didEstimate(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        pmod($"user_id", lit(2)) === 0,
        $"ts" >= lit("2024-01-16").cast("timestamp"),
        round($"value" * 100))
    },
    // four exact integer cells from one pass; truncating mean
    // divisions, the mirrored IEEE inference tail
    Oracle("""WITH c AS (SELECT
        |    CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS HUGEINT) AS n_t1,
        |    CAST(sum(CASE WHEN t AND p THEN y ELSE 0 END) AS HUGEINT) AS s_t1,
        |    CAST(sum(CASE WHEN t AND p THEN y * y ELSE 0 END) AS HUGEINT) AS ss_t1,
        |    CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS HUGEINT) AS n_t0,
        |    CAST(sum(CASE WHEN t AND NOT p THEN y ELSE 0 END) AS HUGEINT) AS s_t0,
        |    CAST(sum(CASE WHEN t AND NOT p THEN y * y ELSE 0 END) AS HUGEINT) AS ss_t0,
        |    CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS HUGEINT) AS n_c1,
        |    CAST(sum(CASE WHEN NOT t AND p THEN y ELSE 0 END) AS HUGEINT) AS s_c1,
        |    CAST(sum(CASE WHEN NOT t AND p THEN y * y ELSE 0 END) AS HUGEINT) AS ss_c1,
        |    CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS HUGEINT) AS n_c0,
        |    CAST(sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END) AS HUGEINT) AS s_c0,
        |    CAST(sum(CASE WHEN NOT t AND NOT p THEN y * y ELSE 0 END) AS HUGEINT) AS ss_c0
        |  FROM (SELECT user_id % 2 = 0 AS t,
        |      ts >= TIMESTAMP '2024-01-16' AS p,
        |      CAST(round(value * 100) AS BIGINT) AS y
        |    FROM events WHERE event_type = 'purchase')),
        |d AS (SELECT *,
        |    sqrt(
        |      (CAST(n_t1 * ss_t1 - s_t1 * s_t1 AS DOUBLE)
        |        / CAST(n_t1 * (n_t1 - 1) AS DOUBLE)) / CAST(n_t1 AS DOUBLE)
        |      + (CAST(n_t0 * ss_t0 - s_t0 * s_t0 AS DOUBLE)
        |        / CAST(n_t0 * (n_t0 - 1) AS DOUBLE)) / CAST(n_t0 AS DOUBLE)
        |      + (CAST(n_c1 * ss_c1 - s_c1 * s_c1 AS DOUBLE)
        |        / CAST(n_c1 * (n_c1 - 1) AS DOUBLE)) / CAST(n_c1 AS DOUBLE)
        |      + (CAST(n_c0 * ss_c0 - s_c0 * s_c0 AS DOUBLE)
        |        / CAST(n_c0 * (n_c0 - 1) AS DOUBLE)) / CAST(n_c0 AS DOUBLE)
        |    ) AS se FROM c)
        |SELECT CAST(n_t1 AS BIGINT) AS n_t1, CAST(n_t0 AS BIGINT) AS n_t0,
        |  CAST(n_c1 AS BIGINT) AS n_c1, CAST(n_c0 AS BIGINT) AS n_c0,
        |  CAST(s_t1 * 1000000 // nullif(n_t1, 0) AS BIGINT) AS mean_t1_micros,
        |  CAST(s_t0 * 1000000 // nullif(n_t0, 0) AS BIGINT) AS mean_t0_micros,
        |  CAST(s_c1 * 1000000 // nullif(n_c1, 0) AS BIGINT) AS mean_c1_micros,
        |  CAST(s_c0 * 1000000 // nullif(n_c0, 0) AS BIGINT) AS mean_c0_micros,
        |  CAST(s_t1 * 1000000 // nullif(n_t1, 0)
        |    - s_t0 * 1000000 // nullif(n_t0, 0)
        |    - s_c1 * 1000000 // nullif(n_c1, 0)
        |    + s_c0 * 1000000 // nullif(n_c0, 0) AS BIGINT) AS did_micros,
        |  CAST(round(se * 1000000) AS BIGINT) AS se_micros,
        |  CAST(round((CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
        |      - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE)
        |      - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
        |        - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)))
        |    / se * 1000000) AS BIGINT) AS t_micros
        |FROM d
        |WHERE n_t1 > 1 AND n_t0 > 1 AND n_c1 > 1 AND n_c0 > 1
        |  AND se > 0""".stripMargin),
    bench = true),

    QuerySpec("ab_jackknife", (s, dir) => {
      import s.implicits._
      // Delete-one-bucket jackknife CI for purchase cents per event,
      // clustered by user (50 user buckets): leave-one-out ratios by
      // truncating integer division, cross-multiplied integer
      // variance, one sqrt — DuckDB replays the whole leave-out
      // algebra value-for-value.
      Features.jackknifeRatioCI(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        $"user_id", round($"value" * 100).cast("long"), lit(1L),
        nBuckets = 50)
    },
    // the leave-one-out algebra replayed: truncating integer ratio
    // divisions (all operands non-negative), HUGEINT-exact variance
    // numerator, the one sqrt on identical doubles
    Oracle("""WITH b AS (
        |  SELECT ((user_id % 50) + 50) % 50 AS g,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT CAST(sum(s) AS HUGEINT) AS ss,
        |      CAST(sum(n) AS HUGEINT) AS nn FROM b),
        |r AS (SELECT (t.ss - b.s) * 1000000 // nullif(t.nn - b.n, 0) AS r
        |      FROM b, t),
        |a AS (SELECT CAST(count(r) AS HUGEINT) AS nb,
        |    sum(CAST(r AS HUGEINT)) AS sr,
        |    sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT)) AS srr
        |  FROM r WHERE r IS NOT NULL),
        |f AS (SELECT nb, ss, nn,
        |    CAST(ss * 1000000 // nullif(nn, 0) AS BIGINT) AS ratio_micros,
        |    CAST(round(sqrt(CAST((nb - 1) * (nb * srr - sr * sr)
        |      AS DOUBLE)) / CAST(nb AS DOUBLE)) AS BIGINT) AS se_micros
        |  FROM a, t WHERE nb >= 2 AND nn > 0)
        |SELECT CAST(nb AS BIGINT) AS n_buckets,
        |  CAST(ss AS BIGINT) AS num_total, CAST(nn AS BIGINT) AS den_total,
        |  ratio_micros, se_micros,
        |  ratio_micros - CAST(1959964 * CAST(se_micros AS HUGEINT)
        |    // 1000000 AS BIGINT) AS ci_lo_micros,
        |  ratio_micros + CAST(1959964 * CAST(se_micros AS HUGEINT)
        |    // 1000000 AS BIGINT) AS ci_hi_micros
        |FROM f""".stripMargin),
    bench = true),

    QuerySpec("surv_rmst", (s, dir) => {
      import s.implicits._
      // Restricted mean time-to-13th-purchase within 500 hours — the
      // censoring-proof one-number summary of the KM curve (area
      // under the steps to the horizon). Same duration construction
      // as surv_kaplan_meier. SIDE-EFFECTING (the KM table
      // localCheckpoints).
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val t13 = ev.filter($"event_type" === "purchase")
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 13)
        .select($"user_id", $"ts".as("t13"))
      val first = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("__tn"))
        .localCheckpoint(true)
      val mx = first.agg(max($"__tn").as("__mt"))
      val durations = first.join(t13, Seq("user_id"), "left")
        .crossJoin(broadcast(mx)) // 1-row corpus end
        .select(
          expr("(unix_timestamp(coalesce(t13, __mt)) - unix_timestamp(t0)) div 3600")
            .as("dur_h"),
          $"t13".isNotNull.as("observed"))
      graft.operators.Survival.rmst(durations, $"dur_h", $"observed",
        horizonT = 500L)
    },
    // the KM CTEs extended by the segment integral: lead-capped
    // widths, per-segment micro-quantized exp terms, exact first
    // segment at S = 1
    Oracle("""WITH p AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |t13 AS (SELECT user_id, ts AS t13 FROM p WHERE rn = 13),
        |f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mt FROM events),
        |d AS (SELECT (CAST(floor(epoch(coalesce(t13, mt))) AS BIGINT)
        |      - CAST(floor(epoch(t0)) AS BIGINT)) // 3600 AS t,
        |    t13 IS NOT NULL AS obs
        |  FROM f LEFT JOIN t13 USING (user_id), mx),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS exits FROM d GROUP BY 1),
        |n0 AS (SELECT sum(exits) AS n0 FROM byt),
        |r AS (SELECT t, d, exits, n0 - coalesce(sum(exits) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt, n0),
        |e AS (SELECT t, n_risk, d,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(1 - CAST(d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
        |      ELSE NULL END AS term
        |  FROM r WHERE d > 0),
        |w AS (SELECT t, n_risk,
        |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS hit0,
        |    sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS lns
        |  FROM e),
        |seg AS (SELECT t,
        |    CASE WHEN hit0 = 1 THEN NULL ELSE lns END AS lns2
        |  FROM w WHERE t < 500),
        |sg2 AS (SELECT t, lns2,
        |    least(coalesce(lead(t) OVER (ORDER BY t), 500), 500) AS nxt
        |  FROM seg),
        |tm AS (SELECT coalesce(sum(CAST(round(
        |    (CASE WHEN lns2 IS NULL THEN 0.0
        |      ELSE exp(CAST(lns2 AS DOUBLE) / 1000000.0) END)
        |    * CAST(nxt - t AS DOUBLE) * 1000000.0) AS BIGINT)), 0)
        |    AS terms
        |  FROM sg2),
        |fs AS (SELECT least(coalesce(min(t), 500), 500) AS ff,
        |    coalesce(max(n_risk), 0) AS nr FROM w)
        |SELECT CAST(500 AS BIGINT) AS horizon,
        |  CAST(nr AS BIGINT) AS n_subjects,
        |  CAST(ff * 1000000 + terms AS BIGINT) AS rmst_micros
        |FROM fs, tm""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("surv_kaplan_meier", (s, dir) => {
      import s.implicits._
      // Kaplan-Meier time-to-13th-purchase: per user, whole hours
      // from first event to 13th purchase (events are dense — every
      // user purchases — so the threshold is what makes censoring
      // real); users who never reach 13 censor at the corpus end.
      // Exact integer durations, micro-nat survival curve.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val t13 = ev.filter($"event_type" === "purchase")
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 13)
        .select($"user_id", $"ts".as("t13"))
      // one row-scale pass yields both per-user starts and (via a
      // user-scale re-agg) the corpus end — no third scan of events
      val first = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("__tn"))
        .localCheckpoint(true)
      val mx = first.agg(max($"__tn").as("__mt"))
      val durations = first.join(t13, Seq("user_id"), "left")
        .crossJoin(broadcast(mx)) // 1-row corpus end
        .select(
          expr("(unix_timestamp(coalesce(t13, __mt)) - unix_timestamp(t0)) div 3600")
            .as("dur_h"),
          $"t13".isNotNull.as("observed"))
      graft.operators.Survival.kaplanMeier(durations, $"dur_h", $"observed")
    },
    // KM product-limit: per-duration exits, risk set by prefix
    // subtraction, per-term micro-nats summed as integers; the
    // survival column NULLs by flag from the row S hits zero
    Oracle("""WITH p AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |t13 AS (SELECT user_id, ts AS t13 FROM p WHERE rn = 13),
        |f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mt FROM events),
        |d AS (SELECT (CAST(floor(epoch(coalesce(t13, mt))) AS BIGINT)
        |      - CAST(floor(epoch(t0)) AS BIGINT)) // 3600 AS t,
        |    t13 IS NOT NULL AS obs
        |  FROM f LEFT JOIN t13 USING (user_id), mx),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS exits FROM d GROUP BY 1),
        |n0 AS (SELECT sum(exits) AS n0 FROM byt),
        |r AS (SELECT t, d, exits, n0 - coalesce(sum(exits) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt, n0),
        |e AS (SELECT t, n_risk, d, exits - d AS n_censored,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(1 - CAST(d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
        |      ELSE NULL END AS term,
        |    CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      * 1000000) AS BIGINT) AS hz
        |  FROM r WHERE d > 0),
        |w AS (SELECT t, n_risk, d, n_censored,
        |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS hit0,
        |    sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS lns,
        |    sum(hz) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ch
        |  FROM e)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CASE WHEN hit0 = 1 THEN NULL ELSE CAST(lns AS BIGINT) END
        |    AS ln_s_micros,
        |  CAST(ch AS BIGINT) AS cumhaz_micros
        |FROM w ORDER BY t""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("surv_km_bands", (s, dir) => {
      import s.implicits._
      // Greenwood confidence bands on the same time-to-13th-purchase
      // KM curve — the uncertainty the point curve refuses to fake
      // (40 subjects and 40,000 print the same curve; the variance
      // says which one to act on): per event time S with z=1.96
      // linear-scale bands clamped to [0, 1e6] micros, every
      // Greenwood term a pico-quantized exact integer.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val t13 = ev.filter($"event_type" === "purchase")
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 13)
        .select($"user_id", $"ts".as("t13"))
      val first = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("__tn"))
        .localCheckpoint(true)
      val mx = first.agg(max($"__tn").as("__mt"))
      val durations = first.join(t13, Seq("user_id"), "left")
        .crossJoin(broadcast(mx))
        .select(
          expr("(unix_timestamp(coalesce(t13, __mt)) - unix_timestamp(t0)) div 3600")
            .as("dur_h"),
          $"t13".isNotNull.as("observed"))
      graft.operators.Survival.kmBands(durations, $"dur_h", $"observed")
        .orderBy($"t")
    },
    // the KM replay plus pico-quantized Greenwood terms and the
    // mirrored S / half-width trees; bands NULL from the row S hits 0
    Oracle("""WITH p AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |t13 AS (SELECT user_id, ts AS t13 FROM p WHERE rn = 13),
        |f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mt FROM events),
        |d AS (SELECT (CAST(floor(epoch(coalesce(t13, mt))) AS BIGINT)
        |      - CAST(floor(epoch(t0)) AS BIGINT)) // 3600 AS t,
        |    t13 IS NOT NULL AS obs
        |  FROM f LEFT JOIN t13 USING (user_id), mx),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    count(*) AS exits FROM d GROUP BY 1),
        |n0 AS (SELECT sum(exits) AS n0 FROM byt),
        |r AS (SELECT t, d, exits, n0 - coalesce(sum(exits) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt, n0),
        |e AS (SELECT t, n_risk, d,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(1 - CAST(d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
        |      ELSE NULL END AS term,
        |    CASE WHEN d < n_risk THEN CAST(round(CAST(d AS DOUBLE)
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE))
        |      * 1000000000000) AS BIGINT) ELSE NULL END AS gt
        |  FROM r WHERE d > 0),
        |w AS (SELECT t, n_risk, d,
        |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS hit0,
        |    sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS lns,
        |    sum(gt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cg
        |  FROM e),
        |z AS (SELECT t, n_risk, d, hit0, lns, cg,
        |    CASE WHEN hit0 = 1 THEN NULL
        |      ELSE CAST(round(exp(CAST(lns AS DOUBLE) / 1000000.0)
        |        * 1000000) AS BIGINT) END AS s_micros,
        |    CASE WHEN hit0 = 1 THEN NULL
        |      ELSE CAST(round(1.959964 * exp(CAST(lns AS DOUBLE)
        |          / 1000000.0)
        |        * sqrt(CAST(cg AS DOUBLE) / 1000000000000.0)
        |        * 1000000) AS BIGINT) END AS half
        |  FROM w)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
        |  s_micros,
        |  CASE WHEN half IS NULL THEN NULL
        |    ELSE greatest(0, s_micros - half) END AS lo_micros,
        |  CASE WHEN half IS NULL THEN NULL
        |    ELSE least(1000000, s_micros + half) END AS hi_micros
        |FROM z ORDER BY t""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("surv_competing_risks", (s, dir) => {
      import s.implicits._
      // Aalen-Johansen cumulative incidence with COMPETING causes:
      // time to the 13th purchase (cause 1) vs the 13th error
      // (cause 2), whichever strikes FIRST (ties to cause 1 by
      // convention), censored at corpus end — the estimator 1−KM
      // per cause overstates. Same duration construction as the KM
      // family; incidence increments pico-quantized off the
      // all-cause S(u⁻), truncating micro output.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      def t13(tpe: String, as: String) = ev
        .filter($"event_type" === tpe)
        .withColumn("__rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .filter($"__rn" === 13)
        .select($"user_id", $"ts".as(as))
      val first = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("__tn"))
        .localCheckpoint(true)
      val mx = first.agg(max($"__tn").as("__mt"))
      val d = first
        .join(t13("purchase", "tp"), Seq("user_id"), "left")
        .join(t13("error", "te"), Seq("user_id"), "left")
        .crossJoin(broadcast(mx)) // 1-row corpus end
        .selectExpr(
          "CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)" +
            " THEN tp WHEN te IS NOT NULL THEN te ELSE __mt END AS tev",
          "CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)" +
            " THEN 1 WHEN te IS NOT NULL THEN 2 ELSE NULL END AS cause",
          "t0")
        .selectExpr(
          "(unix_timestamp(tev) - unix_timestamp(t0)) div 3600 AS dur_h",
          "cause")
      graft.operators.Survival.competingRisks(d, $"dur_h", $"cause")
    },
    // Aalen-Johansen: all-cause S(u-) from the km micro-nat terms,
    // per-(time, cause) pico increments, truncating micro output
    Oracle("""WITH p AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |tp AS (SELECT user_id, ts AS tp FROM p WHERE rn = 13),
        |q AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'error'),
        |te AS (SELECT user_id, ts AS te FROM q WHERE rn = 13),
        |f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mt FROM events),
        |d AS (SELECT
        |    (CAST(floor(epoch(CASE WHEN tp IS NOT NULL
        |        AND (te IS NULL OR tp <= te) THEN tp
        |      WHEN te IS NOT NULL THEN te ELSE mt END)) AS BIGINT)
        |     - CAST(floor(epoch(t0)) AS BIGINT)) // 3600 AS t,
        |    CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
        |      THEN 1 WHEN te IS NOT NULL THEN 2 ELSE NULL END AS cause
        |  FROM f LEFT JOIN tp USING (user_id)
        |    LEFT JOIN te USING (user_id), mx),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN cause IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d,
        |    count(*) AS exits FROM d GROUP BY 1),
        |bytc AS (SELECT t, CAST(cause AS BIGINT) AS cause,
        |    CAST(count(*) AS BIGINT) AS dk
        |  FROM d WHERE cause IS NOT NULL GROUP BY 1, 2),
        |causes AS (SELECT DISTINCT CAST(cause AS BIGINT) AS cause
        |  FROM d WHERE cause IS NOT NULL),
        |n0 AS (SELECT sum(exits) AS n0 FROM byt),
        |r AS (SELECT t, d, exits, n0 - coalesce(sum(exits) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt, n0),
        |e AS (SELECT t, n_risk, d,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(1 - CAST(d AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
        |      ELSE NULL END AS term
        |  FROM r WHERE d > 0),
        |w AS (SELECT t, n_risk,
        |    coalesce(max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS hit0p,
        |    coalesce(sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS lnsp
        |  FROM e),
        |sp AS (SELECT t, n_risk, CASE WHEN hit0p = 1 THEN 0.0
        |    ELSE exp(CAST(lnsp AS DOUBLE) / 1000000.0) END AS s_prev
        |  FROM w),
        |g AS (SELECT sp.t, c.cause, sp.n_risk,
        |    coalesce(bytc.dk, CAST(0 AS BIGINT)) AS dk, sp.s_prev
        |  FROM sp CROSS JOIN causes c
        |  LEFT JOIN bytc ON bytc.t = sp.t AND bytc.cause = c.cause),
        |i AS (SELECT t, cause, n_risk, dk,
        |    CAST(round(s_prev * CAST(dk AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE) * 1000000000000) AS BIGINT) AS inc
        |  FROM g),
        |cum AS (SELECT t, cause, n_risk, dk,
        |    CAST(sum(inc) OVER (PARTITION BY cause ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumv
        |  FROM i)
        |SELECT t, cause, CAST(n_risk AS BIGINT) AS n_risk,
        |  dk AS n_events, CAST(cumv // 1000000 AS BIGINT) AS cif_micros
        |FROM cum ORDER BY cause, t""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("surv_logrank", (s, dir) => {
      import s.implicits._
      // Log-rank test of the time-to-13th-purchase curves by user
      // parity — the inferential companion to surv_kaplan_meier on
      // the SAME durations: hypergeometric O-E and variance as
      // pico-scaled exact integers per event time, ONE mirrored z
      // tree through the shared p polynomial. One row.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val t13 = ev.filter($"event_type" === "purchase")
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 13)
        .select($"user_id", $"ts".as("t13"))
      val first = ev.groupBy($"user_id")
        .agg(min($"ts").as("t0"), max($"ts").as("__tn"))
        .localCheckpoint(true)
      val mx = first.agg(max($"__tn").as("__mt"))
      val durations = first.join(t13, Seq("user_id"), "left")
        .crossJoin(broadcast(mx)) // 1-row corpus end
        .select(
          expr("(unix_timestamp(coalesce(t13, __mt)) - unix_timestamp(t0)) div 3600")
            .as("dur_h"),
          $"t13".isNotNull.as("observed"),
          (pmod($"user_id", lit(2)) === 0).as("grp"))
      graft.operators.Survival.logRank(durations, $"dur_h",
        $"observed", $"grp")
    },
    // same duration construction as surv_kaplan_meier; O-E and V as
    // pico-scaled truncating divisions per event time, order-free
    // HUGEINT sums, one mirrored z tree through the shared polynomial
    Oracle("""WITH p AS (SELECT user_id, ts, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |t13 AS (SELECT user_id, ts AS t13 FROM p WHERE rn = 13),
        |f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mt FROM events),
        |d AS (SELECT (CAST(floor(epoch(coalesce(t13, mt))) AS BIGINT)
        |      - CAST(floor(epoch(t0)) AS BIGINT)) // 3600 AS t,
        |    t13 IS NOT NULL AS obs, (user_id % 2 = 0) AS g
        |  FROM f LEFT JOIN t13 USING (user_id), mx),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN obs AND g THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT)
        |      AS exits1,
        |    CAST(count(*) AS BIGINT) AS exits
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(exits) AS BIGINT) AS n0,
        |    CAST(sum(exits1) AS BIGINT) AS n10 FROM byt),
        |r AS (SELECT byt.*, tot.n0, tot.n10,
        |    tot.n0 - coalesce(sum(exits) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n,
        |    tot.n10 - coalesce(sum(exits1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n1
        |  FROM byt, tot),
        |e AS (SELECT n0, n10, d1,
        |    (CAST(d AS HUGEINT) * n1 * 1000000000000) // n AS ee,
        |    CASE WHEN n > 1 THEN
        |      (CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d)
        |        * 1000000000000)
        |      // (CAST(n AS HUGEINT) * n * (n - 1))
        |    ELSE 0 END AS vv
        |  FROM r WHERE d > 0),
        |a AS (SELECT n0, n10, CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(ee) AS HUGEINT) AS ep,
        |    CAST(sum(vv) AS HUGEINT) AS vp
        |  FROM e GROUP BY 1, 2),
        |b AS (SELECT * FROM a
        |  WHERE n10 > 0 AND n0 > n10 AND vp > 0),
        |z AS (SELECT *,
        |    CAST(CAST(o1 AS HUGEINT) * 1000000000000 - ep AS DOUBLE)
        |      / (1000000.0 * sqrt(CAST(vp AS DOUBLE))) AS zz
        |  FROM b),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM z),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0)
        |SELECT n10 AS n_1, n0 - n10 AS n_2, o1 AS observed_1,
        |  CAST(ep // 1000000 AS BIGINT) AS expected_1_micros,
        |  CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round((tt * (0.254829592 + tt * (-0.284496736
        |    + tt * (1.421413741 + tt * (-1.453152027
        |    + tt * 1.061405429)))) * exp(-(x * x))) * 1000000)
        |    AS BIGINT) AS p_micros
        |FROM t0""".stripMargin),
    bench = true, eagerBuild = true),
  )
}
