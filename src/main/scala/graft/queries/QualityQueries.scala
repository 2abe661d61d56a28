package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Quality
import graft.sources.Csv

import Shared.{medicareCsv, tmpPath}

/** Data-quality queries: expectations, profiles, outliers, drift,
  * dependency and key discovery. */
object QualityQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("dq_invalid_codes", (s, dir) =>
      // Reference README.md:126-132 transplanted: Brand#N with a
      // single digit fails `Brand#\d{2}`; report counts per bad code.
      Quality.invalidCodeReport(Tables.part(s, dir), "p_brand",
        "^(Brand#\\d{2})$"),
    Oracle("""SELECT p_brand, count(*) AS n_invalid
        |FROM part
        |WHERE NULLIF(regexp_extract(p_brand, '^(Brand#\d{2})$', 1), '') IS NULL
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    bench = true),

    QuerySpec("dq_expectations", (s, dir) => {
      import graft.operators.Quality.Expectation
      import s.implicits._
      // Declarative expectation suite — the whole row-local set runs
      // in ONE scan (single hash-agg, per-rule rows from one explode);
      // the uniqueness rule adds its count-vs-distinct pass. The
      // l_orderkey uniqueness rule FAILS by design (lineitem has
      // multiple lines per order) — a suite that can't report a
      // failing rule proves nothing.
      Quality.expect(Tables.lineitem(s, dir), Seq(
          Expectation.notNull("l_orderkey"),
          Expectation.between("l_quantity", 1, 50),
          Expectation.inSet("l_returnflag", Seq("A", "N", "R")),
          Expectation.matches("l_linestatus", "(^[OF]$)"),
          Expectation.unique("l_orderkey"),
          Expectation.foreignKey("l_orderkey", "orders",
            Tables.orders(s, dir), "o_orderkey")))
        .orderBy($"rule")
    },
    // each rule replayed as its exact violation count; NULL counts as
    // a violation everywhere (the suite's documented null posture)
    Oracle("""WITH r AS (
        |  SELECT 'l_orderkey is not null' AS rule,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity between 1 and 50',
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |      OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag in {A,N,R}',
        |    CAST(sum(CASE WHEN l_returnflag IS NULL
        |      OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus matches (^[OF]$)',
        |    CAST(sum(CASE WHEN l_linestatus IS NULL
        |      OR NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey is unique',
        |    CAST(count(*) - count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey references orders.o_orderkey',
        |    CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_orderkey IS NOT NULL
        |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |SELECT rule, n_violations, n_violations = 0 AS passed
        |FROM r ORDER BY rule""".stripMargin),
    bench = true),

    QuerySpec("dq_profile", (s, dir) =>
      Quality.profile(Tables.customer(s, dir),
        Seq("c_custkey", "c_name", "c_mktsegment")),
    Oracle("""SELECT count(*) AS c_custkey_rows, count(CASE WHEN c_custkey IS NULL THEN 1 END) AS c_custkey_nulls,
        |  count(DISTINCT c_custkey) AS c_custkey_distinct,
        |  count(*) AS c_name_rows, count(CASE WHEN c_name IS NULL THEN 1 END) AS c_name_nulls,
        |  count(CASE WHEN c_name = '' THEN 1 END) AS c_name_empty,
        |  count(DISTINCT c_name) AS c_name_distinct,
        |  count(*) AS c_mktsegment_rows, count(CASE WHEN c_mktsegment IS NULL THEN 1 END) AS c_mktsegment_nulls,
        |  count(CASE WHEN c_mktsegment = '' THEN 1 END) AS c_mktsegment_empty,
        |  count(DISTINCT c_mktsegment) AS c_mktsegment_distinct
        |FROM customer""".stripMargin),
    bench = true),

    QuerySpec("dq_outliers", (s, dir) => {
      import s.implicits._
      // Tukey-fence outlier report per order priority: robust IQR
      // fences (quartiles + 1.5*IQR), counted per group. The oracle
      // recomputes fences with quantile_cont (same interpolation as
      // Spark's percentile) and replays the flag.
      Quality.tagOutliers(Tables.orders(s, dir), "o_orderpriority",
          $"o_totalprice")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(when($"is_outlier", 1L).otherwise(0L)).cast("bigint")
            .as("n_outliers"))
        .orderBy($"o_orderpriority")
    },
    Oracle("""WITH f AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o.o_totalprice < q1 - 1.5 * (q3 - q1)
        |             OR o.o_totalprice > q3 + 1.5 * (q3 - q1)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM orders o JOIN f USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_outliers_mad", (s, dir) => {
      import s.implicits._
      // median/MAD robust outliers per priority — the heavy-tail-safe
      // twin of dq_outliers (a fat tail inflates the IQR and hides
      // its own outliers; MAD doesn't). Both chained medians are
      // order statistics the oracle replays with quantile_cont.
      Quality.tagOutliersMad(Tables.orders(s, dir), "o_orderpriority",
          $"o_totalprice")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(when($"is_outlier", 1L).otherwise(0L)).cast("bigint")
            .as("n_outliers"))
        .orderBy($"o_orderpriority")
    },
    Oracle("""WITH m AS (
        |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT o.o_orderpriority, o.o_totalprice, m.med
        |  FROM orders o JOIN m USING (o_orderpriority)),
        |md AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(abs(o_totalprice - med), 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN md.mad > 0
        |      AND abs(d.o_totalprice - d.med) > 3.5 * 1.4826 * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_psi", (s, dir) => {
      import s.implicits._
      // Population Stability Index between the click and purchase
      // value distributions: exact integer bucketing, add-one
      // smoothing, per-bucket contributions in micro-units — DuckDB
      // replays contributions AND the implied score value-for-value.
      val ev = Tables.events(s, dir)
      Quality.psiReport(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "purchase"),
        round($"value" * 100), lo = 0L, width = 1000L, nBuckets = 10)
    },
    // bucketing is integer div; add-one smoothing keeps the log total;
    // contributions quantize to micro-units the unigramNll way
    Oracle("""WITH ca AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_a
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'click') GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_b
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'purchase') GROUP BY 1),
        |grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(-1, 10)),
        |j AS (SELECT g.bucket, coalesce(ca.n_a, 0) AS n_a,
        |    coalesce(cb.n_b, 0) AS n_b
        |  FROM grid g LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j)
        |SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a = 0 AND n_b = 0 THEN 0 ELSE CAST(round(
        |    ((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 11 AS DOUBLE)) -
        |     (CAST(n_b + 1 AS DOUBLE) / CAST(tb + 11 AS DOUBLE))) *
        |    ln(CAST(CAST(n_a + 1 AS HUGEINT) * (tb + 11) AS DOUBLE) /
        |       CAST(CAST(n_b + 1 AS HUGEINT) * (ta + 11) AS DOUBLE)) *
        |    1000000) AS BIGINT) END AS psi_micros
        |FROM j, t ORDER BY bucket""".stripMargin),
    bench = true),

    QuerySpec("dq_woe", (s, dir) => {
      import s.implicits._
      // WOE/IV of the value distribution against the error outcome —
      // the credit-scoring feature screen on the PSI machinery; both
      // statistics replay in exact micro-nats.
      Quality.woeReport(Tables.events(s, dir), round($"value" * 100),
        $"event_type" === "error", lo = 0L, width = 1000L, nBuckets = 10)
    },
    // WOE is PSI's log term over (good, bad); identical replay shape
    Oracle("""WITH cg AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_good
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type <> 'error') GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_bad
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'error') GROUP BY 1),
        |grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(-1, 10)),
        |j AS (SELECT g.bucket, coalesce(cg.n_good, 0) AS n_good,
        |    coalesce(cb.n_bad, 0) AS n_bad
        |  FROM grid g LEFT JOIN cg USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM j),
        |r AS (SELECT bucket, n_good, n_bad,
        |  ln(CAST(CAST(n_good + 1 AS HUGEINT) * (tb + 11) AS DOUBLE) /
        |     CAST(CAST(n_bad + 1 AS HUGEINT) * (tg + 11) AS DOUBLE)) AS lnr,
        |  tg, tb FROM j, t)
        |SELECT bucket, CAST(n_good AS BIGINT) AS n_good,
        |  CAST(n_bad AS BIGINT) AS n_bad,
        |  CASE WHEN n_good = 0 AND n_bad = 0 THEN 0
        |    ELSE CAST(round(lnr * 1000000) AS BIGINT) END AS woe_micros,
        |  CASE WHEN n_good = 0 AND n_bad = 0 THEN 0 ELSE CAST(round(
        |    (CAST(n_good + 1 AS DOUBLE) / CAST(tg + 11 AS DOUBLE) -
        |     CAST(n_bad + 1 AS DOUBLE) / CAST(tb + 11 AS DOUBLE)) *
        |    lnr * 1000000) AS BIGINT) END AS iv_micros
        |FROM r ORDER BY bucket""".stripMargin),
    bench = true),

    QuerySpec("dq_psi_timeline", (s, dir) => {
      import s.implicits._
      // The drift TRAJECTORY dq_psi's one pairwise score cannot show:
      // PSI of each week's value distribution against the FIRST week
      // — the monitoring table that says when the population started
      // moving, in the exact psiReport conventions (same buckets,
      // same add-one smoothing, both-empty buckets contribute exactly
      // 0, per-bucket micro terms summed order-free per week).
      val ev = Tables.events(s, dir)
        .select(date_trunc("week", $"ts").cast("date").as("wk"),
          round($"value" * 100).cast("long").as("v"))
        .select($"wk", Quality.bucketOf("v", 0L, 1000L, 10).as("bucket"))
      val counts = ev.groupBy($"wk", $"bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // weeks + baseline + grid consumers
      val weeks = counts.select($"wk").distinct()
      val bwk = weeks.agg(min($"wk").as("bwk"))
      val buckets = s.range(-1, 10).select($"id".as("bucket"))
      val bl = counts.crossJoin(broadcast(bwk)) // 1-row baseline week
        .filter($"wk" === $"bwk").select($"bucket", $"n".as("nb0"))
      val tb = bl.agg(sum($"nb0").as("tb"))
      val full = weeks.crossJoin(buckets)
        .join(counts, Seq("wk", "bucket"), "left")
        .join(bl, Seq("bucket"), "left")
        .select($"wk", $"bucket", coalesce($"n", lit(0L)).as("n_a"),
          coalesce($"nb0", lit(0L)).as("n_b"))
      val ta = full.groupBy($"wk").agg(sum($"n_a").as("ta"))
      val (gap, lnRatio) = Quality.smoothed($"n_a", $"n_b", $"ta", $"tb", 11)
      full.join(ta, "wk").crossJoin(broadcast(tb)) // 1-row baseline total
        .withColumn("__term",
          Quality.smoothedMicros($"n_a", $"n_b", gap * lnRatio))
        .groupBy($"wk")
        .agg(sum($"n_a").cast("bigint").as("n_rows"),
          sum($"__term").cast("bigint").as("psi_micros"))
        .orderBy($"wk")
    },
    // PSI per week vs the first week, same smoothing conventions,
    // per-bucket micro terms summed per week
    Oracle("""WITH r AS (SELECT date_trunc('week', ts)::DATE AS wk,
        |    CASE WHEN v IS NULL THEN -1
        |      ELSE least(greatest(v // 1000, 0), 9) END AS bucket
        |  FROM (SELECT ts, CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events)),
        |c AS (SELECT wk, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2),
        |wks AS (SELECT DISTINCT wk FROM c),
        |bw AS (SELECT min(wk) AS bwk FROM wks),
        |grid AS (SELECT CAST(range AS BIGINT) AS bucket
        |  FROM range(-1, 10)),
        |bl AS (SELECT bucket, n AS nb0 FROM c, bw WHERE wk = bwk),
        |tbt AS (SELECT sum(nb0) AS tb FROM bl),
        |fl AS (SELECT w.wk, g.bucket,
        |    coalesce(c.n, 0) AS n_a, coalesce(bl.nb0, 0) AS n_b
        |  FROM wks w CROSS JOIN grid g
        |  LEFT JOIN c ON c.wk = w.wk AND c.bucket = g.bucket
        |  LEFT JOIN bl ON bl.bucket = g.bucket),
        |tat AS (SELECT wk, sum(n_a) AS ta FROM fl GROUP BY 1),
        |terms AS (SELECT f.wk, f.n_a,
        |    CASE WHEN f.n_a = 0 AND f.n_b = 0 THEN 0 ELSE CAST(round(
        |      ((CAST(f.n_a + 1 AS DOUBLE) / CAST(tat.ta + 11 AS DOUBLE))
        |       - (CAST(f.n_b + 1 AS DOUBLE)
        |          / CAST(tbt.tb + 11 AS DOUBLE))) *
        |      ln(CAST(CAST(f.n_a + 1 AS HUGEINT) * (tbt.tb + 11)
        |            AS DOUBLE) /
        |         CAST(CAST(f.n_b + 1 AS HUGEINT) * (tat.ta + 11)
        |            AS DOUBLE)) *
        |      1000000) AS BIGINT) END AS term
        |  FROM fl f JOIN tat ON tat.wk = f.wk, tbt)
        |SELECT wk, CAST(sum(n_a) AS BIGINT) AS n_rows,
        |  CAST(sum(term) AS BIGINT) AS psi_micros
        |FROM terms GROUP BY 1 ORDER BY wk""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_ks", (s, dir) => {
      import s.implicits._
      // Exact two-sample Kolmogorov-Smirnov distance between returned
      // ('R') and intact ('N') lineitems' price distributions — the
      // scale-free escalation test for the binned drift family (no
      // grid to choose). Integer cross-multiplied sup over distinct
      // values via the two-phase prefix sum; one row, micro-quantized.
      graft.operators.OrderedStats.ksTest(
        Tables.lineitem(s, dir).filter($"l_returnflag".isin("R", "N")),
        $"l_extendedprice", $"l_returnflag" === "R")
    },
    // KS distance replayed exactly: DuckDB's window cumsum over
    // distinct values mirrors the two-phase prefix sum, HUGEINT
    // cross-products mirror the DECIMAL(38,0) widening, one double
    // division, micro-unit round
    Oracle("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    (l_returnflag = 'R') AS t
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cb) OVER (ORDER BY v) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b FROM c)
        |SELECT tot.n_a, tot.n_b,
        |  CAST(round(
        |    CAST(max(abs(cum_a * tot.n_b - cum_b * tot.n_a)) AS DOUBLE)
        |    / CAST(CAST(tot.n_a AS HUGEINT) * tot.n_b AS DOUBLE)
        |    * 1000000) AS BIGINT) AS d_micros
        |FROM cc, tot GROUP BY tot.n_a, tot.n_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_chi2", (s, dir) => {
      import s.implicits._
      // Pearson chi-square association screen: order priority x order
      // status over the complete 5x3 grid (zero cells included) —
      // per-cell contributions in exact micro-units, the categorical
      // member of the PSI/WOE screening family.
      Quality.chiSquare(Tables.orders(s, dir),
          $"o_orderpriority", $"o_orderstatus")
        .orderBy($"x", $"y")
    },
    // chi-square cells replayed exactly: HUGEINT d = n·N − r·c, the
    // split (d/N)·(d/(r·c)) tree mirrored (never squares an integer)
    Oracle("""WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
        |    count(*) AS n FROM orders GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ys AS (SELECT y, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
        |SELECT xs.x, ys.y, CAST(coalesce(cells.n, 0) AS BIGINT) AS n,
        |  CAST(round(
        |    (CAST(coalesce(cells.n, 0) * t.nn - xs.r * ys.c AS DOUBLE)
        |      / CAST(t.nn AS DOUBLE)) *
        |    (CAST(coalesce(cells.n, 0) * t.nn - xs.r * ys.c AS DOUBLE)
        |      / CAST(xs.r * ys.c AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS chi2_micros
        |FROM xs CROSS JOIN ys
        |  LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y, t
        |ORDER BY xs.x, ys.y""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_k_anonymity", (s, dir) => {
      import s.implicits._
      // k-anonymity profile of the (nation, segment) quasi-identifier
      // over customers: the equivalence-class-size histogram (one row
      // per distinct size, risky = size < 10) — quantifies
      // re-identification exposure without publishing the rare
      // combinations themselves.
      Quality.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)
    },
    // the class-size histogram replays as plain integer aggregation
    Oracle("""WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS class_size,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  n < 10 AS risky
        |FROM cls GROUP BY n ORDER BY class_size""".stripMargin),
    bench = true),

    QuerySpec("dq_l_diversity", (s, dir) => {
      import s.implicits._
      // Distinct l-diversity of the same quasi-identifier: per
      // (nation, segment) class, how many DISTINCT account-balance
      // thousands-buckets appear — a large class with one sensitive
      // value is k-anonymous and still fully disclosed; the histogram
      // quantifies that without publishing the classes.
      Quality.lDiversity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"),
        floor($"c_acctbal" / 1000.0), l = 3L)
    },
    // distinct-count-plus-has-null per class then a diversity
    // histogram; the thousands-bucket floors identically on both
    // engines
    Oracle("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
        |      + max(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS d,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(d AS BIGINT) AS diversity,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  d < 3 AS risky
        |FROM cls GROUP BY d ORDER BY diversity""".stripMargin),
    bench = true),

    QuerySpec("dq_fd_violations", (s, dir) => {
      import s.implicits._
      // Functional-dependency profiler on two candidates at once: the
      // key FD p_partkey→p_name HOLDS (contributes zero rows — the
      // proof), while p_brand→p_type is heavily violated (every brand
      // sells many types); the violating groups with their row and
      // distinct-dependent counts are the constraint-validation
      // report. One hash-agg per candidate, union'd.
      val part = Tables.part(s, dir)
      val held = Quality.fdViolations(part, Seq("p_partkey"), $"p_name")
        .select(lit("p_partkey->p_name").as("fd"),
          $"p_partkey".cast("string").as("det"),
          $"n_rows", $"n_distinct_dep")
      val viol = Quality.fdViolations(part, Seq("p_brand"), $"p_type")
        .select(lit("p_brand->p_type").as("fd"),
          $"p_brand".cast("string").as("det"),
          $"n_rows", $"n_distinct_dep")
      held.unionByName(viol).orderBy($"fd", $"det")
    },
    // NULL dependents count as a value via the has-null flag, the
    // l-diversity convention; a held FD contributes zero rows
    Oracle("""WITH f1 AS (
        |  SELECT 'p_partkey->p_name' AS fd,
        |    CAST(p_partkey AS VARCHAR) AS det, count(*) AS n_rows,
        |    count(DISTINCT p_name)
        |      + max(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END) AS nd
        |  FROM part GROUP BY 1, 2
        |  HAVING count(DISTINCT p_name)
        |    + max(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END) > 1),
        |f2 AS (
        |  SELECT 'p_brand->p_type' AS fd, p_brand AS det,
        |    count(*) AS n_rows,
        |    count(DISTINCT p_type)
        |      + max(CASE WHEN p_type IS NULL THEN 1 ELSE 0 END) AS nd
        |  FROM part GROUP BY 1, 2
        |  HAVING count(DISTINCT p_type)
        |    + max(CASE WHEN p_type IS NULL THEN 1 ELSE 0 END) > 1)
        |SELECT fd, det, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(nd AS BIGINT) AS n_distinct_dep
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
        |ORDER BY fd, det""".stripMargin),
    bench = true),

    QuerySpec("dq_fd_discovery", (s, dir) => {
      import s.implicits._
      // FD DISCOVERY — dq_fd_violations checks a dependency someone
      // already suspects; this SEARCHES a candidate panel: all 12
      // ordered pairs over (partkey, brand, type, size) with the
      // exact g3 error each. The key column makes its three outgoing
      // dependencies hold at exactly zero (the proof rows) while
      // every other pair carries its true deletion count.
      graft.operators.Quality.fdDiscovery(Tables.part(s, dir),
        Seq("p_partkey", "p_brand", "p_type", "p_size"))
    },
    // the g3 block stamped per ordered panel pair — generated
    Oracle(fdDiscoveryOracleSql),
    bench = true),

    QuerySpec("dq_null_correlation", (s, dir) => {
      import s.implicits._
      // Missingness CO-OCCURRENCE — what goes missing TOGETHER: a
      // planted panel where carrier_id's nulls (every 6th event) are
      // a strict subset of ship_val's (every 3rd) -> lift 3e6 ppm
      // (whole segments fail, not independent fields), while scan_ts
      // (every 5th) is near-independent of both -> lift ~1e6. The
      // oracle replays the conditional census from the raw ids.
      val ev = Tables.events(s, dir).select($"event_id",
        when($"event_id" % 3 =!= 0, $"value").as("ship_val"),
        when($"event_id" % 6 =!= 0, $"user_id").as("carrier_id"),
        when($"event_id" % 5 =!= 0, $"ts").as("scan_ts"))
      Quality.nullCorrelation(ev,
        Seq("ship_val", "carrier_id", "scan_ts"))
    },
    // the planted-missingness census restated from raw ids: one
    // conditional-count pass, lift/jaccard as truncating HUGEINT
    // divisions, NULL when a side has no nulls
    Oracle("""WITH e AS (SELECT (event_id % 3 = 0) AS sv,
        |    (event_id % 6 = 0) AS ci, (event_id % 5 = 0) AS st
        |  FROM events),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN sv THEN 1 ELSE 0 END) AS BIGINT) AS nsv,
        |    CAST(sum(CASE WHEN ci THEN 1 ELSE 0 END) AS BIGINT) AS nci,
        |    CAST(sum(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS nst,
        |    CAST(sum(CASE WHEN sv AND ci THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_sv_ci,
        |    CAST(sum(CASE WHEN sv AND st THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_sv_st,
        |    CAST(sum(CASE WHEN ci AND st THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_ci_st
        |  FROM e),
        |p AS (
        |  SELECT 'ship_val' AS col_a, 'carrier_id' AS col_b, n,
        |    nsv AS n_a_null, nci AS n_b_null, b_sv_ci AS n_both_null
        |  FROM m
        |  UNION ALL
        |  SELECT 'ship_val', 'scan_ts', n, nsv, nst, b_sv_st FROM m
        |  UNION ALL
        |  SELECT 'carrier_id', 'scan_ts', n, nci, nst, b_ci_st FROM m)
        |SELECT col_a, col_b, n AS n_rows, n_a_null, n_b_null,
        |  n_both_null,
        |  CAST(CAST(n_both_null AS HUGEINT) * n * 1000000
        |    // nullif(CAST(n_a_null AS HUGEINT) * n_b_null, 0)
        |    AS BIGINT) AS lift_ppm,
        |  CAST(CAST(n_both_null AS HUGEINT) * 1000000
        |    // nullif(n_a_null + n_b_null - n_both_null, 0)
        |    AS BIGINT) AS jaccard_ppm
        |FROM p ORDER BY col_a, col_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_key_discovery", (s, dir) => {
      import s.implicits._
      // KEY discovery — the uniqueness face of dq_fd_discovery over
      // the same panel: every single column and unordered pair gets
      // its exact distinct census, duplicate-row mass, uniqueness
      // ppm, and key verdict; p_partkey proves is_key, its pairs
      // prove NON-minimality (a superkey of a key is noise), and the
      // attribute pairs carry their true duplicate counts.
      // SIDE-EFFECTING (panel-scale single-key lookup).
      graft.operators.Quality.keyDiscovery(Tables.part(s, dir),
        Seq("p_partkey", "p_brand", "p_type", "p_size"))
    },
    // the distinct-census block stamped per candidate — generated
    Oracle(keyDiscoveryOracleSql),
    bench = true, eagerBuild = true),

    QuerySpec("dq_js_divergence", (s, dir) => {
      import s.implicits._
      // Jensen-Shannon drift between click and purchase value
      // distributions over the PSI bucketing: symmetric, bounded by
      // ln 2, finite on one-sided empty buckets without smoothing.
      val ev = Tables.events(s, dir)
      Quality.jsDivergence(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "purchase"),
        round($"value" * 100), lo = 0L, width = 1000L, nBuckets = 10)
    },
    // same buckets as dq_psi; per-term mixture ratio of HUGEINT-exact
    // integers, clamp each KL component, truncating divisions
    Oracle("""WITH ca AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_a
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'click') GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_b
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'purchase') GROUP BY 1),
        |grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(-1, 10)),
        |j AS (SELECT g.bucket, coalesce(ca.n_a, 0) AS n_a,
        |    coalesce(cb.n_b, 0) AS n_b
        |  FROM grid g LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
        |p AS (SELECT
        |    CASE WHEN n_a > 0 THEN CAST(n_a AS HUGEINT) *
        |      CAST(round(ln(
        |        CAST(2 * CAST(n_a AS HUGEINT) * tb AS DOUBLE) /
        |        CAST(CAST(n_a AS HUGEINT) * tb
        |          + CAST(n_b AS HUGEINT) * ta AS DOUBLE)) * 1000000)
        |        AS BIGINT) ELSE 0 END AS term_a,
        |    CASE WHEN n_b > 0 THEN CAST(n_b AS HUGEINT) *
        |      CAST(round(ln(
        |        CAST(2 * CAST(n_b AS HUGEINT) * ta AS DOUBLE) /
        |        CAST(CAST(n_b AS HUGEINT) * ta
        |          + CAST(n_a AS HUGEINT) * tb AS DOUBLE)) * 1000000)
        |        AS BIGINT) ELSE 0 END AS term_b
        |  FROM j, t)
        |SELECT CAST(t.ta AS BIGINT) AS n_a_total,
        |  CAST(t.tb AS BIGINT) AS n_b_total,
        |  CASE WHEN t.ta = 0 OR t.tb = 0 THEN NULL
        |    ELSE CAST(greatest(sum(term_a), 0) // (2 * t.ta)
        |      + greatest(sum(term_b), 0) // (2 * t.tb) AS BIGINT)
        |  END AS js_micros
        |FROM p, t GROUP BY t.ta, t.tb""".stripMargin),
    bench = true),

    QuerySpec("dq_type_inference", (s, dir) => {
      import s.implicits._
      // Schema inference over the RAW all-string CSV read (the step
      // BEFORE csv_medicare_ingest's declared schema exists): one
      // scan counts int/decimal/currency parses per column; a type is
      // inferred only on total coverage. DROPMALFORMED mirrors the
      // oracle's ignore_errors on the copyright header line.
      val strSchema = org.apache.spark.sql.types.StructType(
        Csv.medicareSchema.fields.map(f =>
          org.apache.spark.sql.types.StructField(f.name,
            org.apache.spark.sql.types.StringType)))
      val raw = s.read.schema(strSchema)
        .option("quote", "\"").option("escape", "\"")
        .option("mode", "DROPMALFORMED")
        .csv(medicareCsv)
      Quality.inferTypes(raw, Seq("npi", "nppes_provider_zip",
          "nppes_provider_city", "hcpcs_code", "line_srvc_cnt",
          "average_medicare_allowed_amt", "stdev_submitted_chrg_amt"))
        .orderBy($"column")
    },
    // all-varchar read (ignore_errors drops the copyright line like
    // DROPMALFORMED); anchored RE2 classes evaluate identically
    Oracle {
      val all = Seq("npi", "nppes_provider_last_org_name",
        "nppes_provider_first_name", "nppes_provider_mi",
        "nppes_credentials", "nppes_provider_gender", "nppes_entity_code",
        "nppes_provider_street1", "nppes_provider_street2",
        "nppes_provider_city", "nppes_provider_zip", "nppes_provider_state",
        "nppes_provider_country", "provider_type",
        "medicare_participation_indicator", "places_of_service",
        "hcpcs_code", "hcpcs_description", "hcpcs_drug_indicator",
        "line_srvc_cnt", "bene_unique_cnt", "bene_day_srvc_cnt",
        "average_medicare_allowed_amt", "average_submitted_chrg_amt",
        "stdev_submitted_chrg_amt", "average_medicare_payment_amt",
        "stdev_medicare_payment_amt")
      val colsSpec = all.map(c => s"'$c':'VARCHAR'").mkString(", ")
      def sel(c: String) =
        s"""SELECT '$c' AS col, count($c) AS nv,
           |  sum(CASE WHEN $c IS NOT NULL AND
           |    regexp_matches($c, '^[+-]?[0-9]+$$') THEN 1 ELSE 0 END)
           |    AS ni,
           |  sum(CASE WHEN $c IS NOT NULL AND
           |    regexp_matches($c, '^[+-]?[0-9]*\\.[0-9]+$$')
           |    THEN 1 ELSE 0 END) AS nd,
           |  sum(CASE WHEN $c IS NOT NULL AND
           |    regexp_matches($c, '^\\$$[0-9]+(\\.[0-9]+)?$$')
           |    THEN 1 ELSE 0 END) AS nm
           |FROM t""".stripMargin
      val union = Seq("npi", "nppes_provider_zip", "nppes_provider_city",
        "hcpcs_code", "line_srvc_cnt", "average_medicare_allowed_amt",
        "stdev_submitted_chrg_amt").map(sel).mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT * FROM read_csv('$medicareCsv', header=false,
         |    delim=',', quote='"', escape='"', nullstr='',
         |    auto_detect=false, ignore_errors=true,
         |    columns={$colsSpec})),
         |u AS (
         |$union)
         |SELECT col AS "column", CAST(nv AS BIGINT) AS n_values,
         |  CAST(ni AS BIGINT) AS n_int, CAST(nd AS BIGINT) AS n_decimal,
         |  CAST(nm AS BIGINT) AS n_money,
         |  CASE WHEN nv = 0 THEN 'empty'
         |    WHEN ni = nv THEN 'int'
         |    WHEN ni + nd = nv THEN 'decimal'
         |    WHEN nm = nv THEN 'money'
         |    ELSE 'string' END AS inferred
         |FROM u ORDER BY "column"""".stripMargin
    },
    bench = true),

    QuerySpec("dq_corr_matrix", (s, dir) => {
      import s.implicits._
      // One-scan correlation matrix of four lineitem numerics
      // (quantized to integers upstream, the house rule): 6 exact
      // pairwise correlations from a single aggregate pass.
      // Tables.wide: the 10-term partial-moment map pass over 600k
      // rows dominates a single-task scan (r21 A/B: +0.90 s win)
      Quality.corrMatrix(Tables.wide(Tables.lineitem(s, dir)), Seq(
          ("quantity", $"l_quantity"),
          ("price_cents", round($"l_extendedprice" * 100)),
          ("discount_bp", round($"l_discount" * 10000)),
          ("tax_bp", round($"l_tax" * 10000))))
        .orderBy($"col_a", $"col_b")
    },
    // every moment HUGEINT-exact from one scan; each corr is the
    // cov/(sqrt*sqrt) tree of exact integers, token-for-token
    Oracle("""WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS x0,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 10000) AS BIGINT) AS x2,
        |    CAST(round(l_tax * 10000) AS BIGINT) AS x3
        |  FROM lineitem),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x0 AS HUGEINT)) AS s0, sum(CAST(x1 AS HUGEINT)) AS s1,
        |    sum(CAST(x2 AS HUGEINT)) AS s2, sum(CAST(x3 AS HUGEINT)) AS s3,
        |    sum(CAST(x0 AS HUGEINT) * x0) AS q0,
        |    sum(CAST(x1 AS HUGEINT) * x1) AS q1,
        |    sum(CAST(x2 AS HUGEINT) * x2) AS q2,
        |    sum(CAST(x3 AS HUGEINT) * x3) AS q3,
        |    sum(CAST(x0 AS HUGEINT) * x1) AS p01,
        |    sum(CAST(x0 AS HUGEINT) * x2) AS p02,
        |    sum(CAST(x0 AS HUGEINT) * x3) AS p03,
        |    sum(CAST(x1 AS HUGEINT) * x2) AS p12,
        |    sum(CAST(x1 AS HUGEINT) * x3) AS p13,
        |    sum(CAST(x2 AS HUGEINT) * x3) AS p23
        |  FROM v),
        |pairs AS (
        |  SELECT 'quantity' AS col_a, 'price_cents' AS col_b,
        |    n * p01 - s0 * s1 AS cov, n * q0 - s0 * s0 AS va,
        |    n * q1 - s1 * s1 AS vb FROM m
        |  UNION ALL SELECT 'quantity', 'discount_bp',
        |    n * p02 - s0 * s2, n * q0 - s0 * s0, n * q2 - s2 * s2 FROM m
        |  UNION ALL SELECT 'quantity', 'tax_bp',
        |    n * p03 - s0 * s3, n * q0 - s0 * s0, n * q3 - s3 * s3 FROM m
        |  UNION ALL SELECT 'price_cents', 'discount_bp',
        |    n * p12 - s1 * s2, n * q1 - s1 * s1, n * q2 - s2 * s2 FROM m
        |  UNION ALL SELECT 'price_cents', 'tax_bp',
        |    n * p13 - s1 * s3, n * q1 - s1 * s1, n * q3 - s3 * s3 FROM m
        |  UNION ALL SELECT 'discount_bp', 'tax_bp',
        |    n * p23 - s2 * s3, n * q2 - s2 * s2, n * q3 - s3 * s3 FROM m)
        |SELECT col_a, col_b,
        |  CASE WHEN va <= 0 OR vb <= 0 THEN NULL
        |    ELSE CAST(round(CAST(cov AS DOUBLE)
        |      / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE)))
        |      * 1000000) AS BIGINT) END AS corr_micros
        |FROM pairs ORDER BY col_a, col_b""".stripMargin),
    bench = true),

    QuerySpec("dq_duplicate_rows", (s, dir) => {
      import s.implicits._
      // Full-row duplicate census over lineitem — the load-bug
      // detector (a re-run ingest doubles rows bit-identically; no
      // key-based check sees it). Fingerprint-first: a 128-bit
      // xxhash64 pair (distinct salts) plus an explicit null-position
      // BITMASK — Spark's multi-column hash SKIPS null operands, so
      // without the mask (NULL,'a') and ('a',NULL) would collide; the
      // mask restores the distinction row-locally with no string
      // serialization (an earlier md5(to_json) form was 10× slower —
      // native codegen hashing is the point). The census aggregates
      // multiplicities on the ~24-byte key: at 100 TB the exchange
      // carries fingerprints + partial counts, never the full row
      // width (the Dedup.exact posture). One summary row, exact
      // integers; identical output to the group-by-every-column plan
      // up to a 2^-64 birthday bound.
      val li = Tables.lineitem(s, dir)
      val cols = li.columns.map(col)
      val nullMask = li.columns.zipWithIndex.map { case (c, i) =>
        when(col(c).isNull, lit(1L << i)).otherwise(0L) }
        .reduce(_ + _)
      li.select(xxhash64(cols: _*).as("__h1"),
          xxhash64(lit("dq2") +: cols: _*).as("__h2"),
          nullMask.as("__nm"))
        .groupBy($"__h1", $"__h2", $"__nm")
        .agg(count(lit(1)).as("__c"))
        .agg(sum($"__c").cast("bigint").as("n_rows"),
          count(lit(1)).cast("bigint").as("n_distinct"),
          sum($"__c" - 1L).cast("bigint").as("dup_rows"),
          max($"__c").cast("bigint").as("max_multiplicity"))
    },
    // group by every column; the multiplicity tail is the census
    Oracle("""WITH g AS (SELECT count(*) AS c FROM lineitem
        |  GROUP BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |    l_quantity, l_extendedprice, l_discount, l_tax,
        |    l_returnflag, l_linestatus, l_shipdate)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c - 1) AS BIGINT) AS dup_rows,
        |  CAST(max(c) AS BIGINT) AS max_multiplicity
        |FROM g""".stripMargin),
    bench = true),

    QuerySpec("dq_aggregate_consistency", (s, dir) => {
      import s.implicits._
      // Cross-table AGGREGATE consistency audit — dq_referential
      // checks that children have parents; this checks that the
      // parent's denormalized total still equals the sum of its
      // lines (the invariant ETL bugs silently break): per order,
      // recompute round(extprice*(1-disc)*(1+tax)*100) cents per
      // line (order-free integer sum), compare against the stored
      // total. One summary row.
      val li = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount)" +
          " * (1 + l_tax) * 100) AS BIGINT)")).as("__rc"))
      Tables.orders(s, dir)
        .join(li, $"o_orderkey" === $"l_orderkey")
        .withColumn("__gap",
          abs(expr("CAST(round(o_totalprice * 100) AS BIGINT)") -
            $"__rc"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(when($"__gap" === 0L, 1L).otherwise(0L)).cast("bigint")
            .as("n_exact"),
          sum(when($"__gap" <= 100L, 1L).otherwise(0L)).cast("bigint")
            .as("n_within_dollar"),
          max($"__gap").cast("bigint").as("max_gap_cents"))
    },
    // per-line cents re-rounded identically; integer gap summary
    Oracle("""WITH li AS (SELECT l_orderkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount)
        |      * (1 + l_tax) * 100) AS BIGINT)) AS rc
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT
        |    abs(CAST(round(o_totalprice * 100) AS BIGINT) - rc) AS gap
        |  FROM orders JOIN li ON o_orderkey = l_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(sum(CASE WHEN gap <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_within_dollar,
        |  CAST(max(gap) AS BIGINT) AS max_gap_cents
        |FROM j""".stripMargin),
    bench = true),

    QuerySpec("dq_overdispersion", (s, dir) => {
      import s.implicits._
      // Poisson overdispersion of hourly event counts per event type
      // — is a var=mean rate alert even calibratable on this stream?
      // Exact cross-multiplied D per type, mirrored Wilson-Hilferty
      // upper tail. One row per event type.
      val hourly = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("x"))
      Quality.overdispersion(hourly, $"event_type", $"x")
    },
    // exact cross-multiplied dispersion (nQ - S^2)/S per group;
    // Wilson-Hilferty upper tail via the shared polynomial
    Oracle("""WITH hourly AS (SELECT event_type AS g,
        |    date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        |  FROM hourly WHERE x >= 0 GROUP BY 1),
        |f AS (SELECT *, ((CAST(n AS HUGEINT) * q - s * s) * 1000000)
        |    // s AS dm
        |  FROM m WHERE n > 1 AND s > 0),
        |z AS (SELECT *, CAST(n - 1 AS DOUBLE) AS d,
        |    CASE WHEN dm > 0
        |      THEN CAST(dm AS DOUBLE) / 1000000.0 / CAST(n - 1 AS DOUBLE)
        |    END AS u
        |  FROM f),
        |zw AS (SELECT *, (exp(ln(u) / 3.0) - (1.0 - 2.0 / (9.0 * d)))
        |    / sqrt(2.0 / (9.0 * d)) AS zz FROM z),
        |x0 AS (SELECT *, abs(zz) / 1.4142135623730951 AS x FROM zw),
        |t0 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM x0),
        |p AS (SELECT *, (tt * (0.254829592 + tt * (-0.284496736
        |      + tt * (1.421413741 + tt * (-1.453152027
        |      + tt * 1.061405429)))) * exp(-(x * x))) AS p2
        |  FROM t0)
        |SELECT g AS grp, n,
        |  CAST((s * 1000000) // n AS BIGINT) AS mean_micros,
        |  CAST(dm AS BIGINT) AS dispersion_micros,
        |  CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
        |  CAST(round((CASE WHEN dm <= 0 THEN 1.0
        |    WHEN zz >= 0.0 THEN p2 / 2.0
        |    ELSE 1.0 - p2 / 2.0 END) * 1000000) AS BIGINT) AS p_micros
        |FROM p ORDER BY g""".stripMargin),
    bench = true),

    QuerySpec("dq_mutual_info", (s, dir) => {
      import s.implicits._
      // Mutual information priority x status in exact micro-nats:
      // per-cell PMI micro-rounded, weighted integer sum, ONE final
      // floor-div by N — the information-theoretic screen next to
      // chi-square/V.
      Quality.mutualInformation(Tables.orders(s, dir),
        $"o_orderpriority", $"o_orderstatus")
    },
    // observed cells only (zero cells contribute 0); HUGEINT weighted
    // sum, clamp, one truncating division
    Oracle("""WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
        |    count(*) AS n FROM orders GROUP BY 1, 2),
        |xs AS (SELECT x, sum(n) AS r FROM cells GROUP BY 1),
        |ys AS (SELECT y, sum(n) AS c FROM cells GROUP BY 1),
        |t AS (SELECT sum(n) AS nn FROM cells),
        |p AS (SELECT cells.n,
        |    CAST(round(ln(CAST(cells.n * t.nn AS DOUBLE)
        |      / CAST(xs.r * ys.c AS DOUBLE)) * 1000000) AS BIGINT) AS pmi
        |  FROM cells JOIN xs USING (x) JOIN ys USING (y), t)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(greatest(sum(n * pmi), 0) // (SELECT nn FROM t)
        |    AS BIGINT) AS mi_micros
        |FROM p""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_cramers_v", (s, dir) => {
      import s.implicits._
      // Cramér's V effect size over the chi-square grid: priority x
      // status association strength in [0,1] micro-units — the
      // N-invariant number the raw statistic isn't.
      Quality.cramersV(Tables.orders(s, dir),
        $"o_orderpriority", $"o_orderstatus")
    },
    // the dq_chi2 grid aggregated to one effect-size row; sqrt on the
    // single final double agrees between engines
    Oracle("""WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
        |    count(*) AS n FROM orders GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ys AS (SELECT y, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
        |g AS (SELECT xs.x, ys.y, CAST(coalesce(cells.n, 0) AS BIGINT) AS n,
        |  CAST(round(
        |    (CAST(coalesce(cells.n, 0) * t.nn - xs.r * ys.c AS DOUBLE)
        |      / CAST(t.nn AS DOUBLE)) *
        |    (CAST(coalesce(cells.n, 0) * t.nn - xs.r * ys.c AS DOUBLE)
        |      / CAST(xs.r * ys.c AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS chi2_micros
        |  FROM xs CROSS JOIN ys
        |    LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y, t)
        |SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_x,
        |  CAST(count(DISTINCT y) AS BIGINT) AS n_y,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(chi2_micros) AS BIGINT) AS chi2_micros,
        |  CASE WHEN least(count(DISTINCT x), count(DISTINCT y)) <= 1
        |      OR sum(n) = 0 THEN NULL
        |    ELSE CAST(round(sqrt(
        |      (CAST(sum(chi2_micros) AS DOUBLE) / 1000000)
        |      / (CAST(sum(n) AS DOUBLE)
        |        * CAST(least(count(DISTINCT x), count(DISTINCT y)) - 1
        |          AS DOUBLE))) * 1000000) AS BIGINT) END AS v_micros
        |FROM g""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_benford", (s, dir) => {
      import s.implicits._
      // Benford first-digit screen over order totals in cents (a
      // genuinely multi-magnitude money column): string-extracted
      // digits, integer shares, ppm-quantized expectation — replays
      // exactly.
      Quality.benfordReport(Tables.orders(s, dir),
        round($"o_totalprice" * 100))
    },
    // digit is string-extracted, shares integer div, expectation a
    // mirrored ppm constant
    Oracle("""WITH d AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |        FROM orders) WHERE v > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |grid AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
        |j AS (SELECT g.digit, coalesce(c.n, 0) AS n
        |  FROM grid g LEFT JOIN c USING (digit)),
        |t AS (SELECT sum(n) AS tot FROM j)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_ppm,
        |  CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |    * 1000000) AS BIGINT) AS expected_ppm,
        |  CAST(abs(CAST(CAST(n AS HUGEINT) * 1000000 // tot AS BIGINT) -
        |    CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |      * 1000000) AS BIGINT)) AS BIGINT) AS dev_ppm
        |FROM j, t ORDER BY digit""".stripMargin),
    bench = true),

    QuerySpec("dq_winsorize", (s, dir) => {
      import s.implicits._
      // Rank-based winsorization (percentile_disc bounds are ACTUAL
      // data values — no interpolation arithmetic, so the clipped
      // column is bit-exact on both engines).
      Quality.winsorize(Tables.orders(s, dir), "o_orderpriority",
          "o_totalprice")
        .select($"o_orderkey", $"o_orderpriority",
          $"o_totalprice_wins", $"o_totalprice_clipped")
        .orderBy($"o_orderkey")
    },
    // rank-based bounds are actual data values — clipping is pure
    // comparison, no arithmetic to drift
    Oracle("""WITH b AS (
        |  SELECT o_orderpriority,
        |    quantile_disc(o_totalprice, 0.05) AS lo,
        |    quantile_disc(o_totalprice, 0.95) AS hi
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderpriority,
        |  least(greatest(o.o_totalprice, b.lo), b.hi) AS o_totalprice_wins,
        |  (o.o_totalprice < b.lo OR o.o_totalprice > b.hi)
        |    AS o_totalprice_clipped
        |FROM orders o JOIN b USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_drift", (s, dir) => {
      import s.implicits._
      // Two-sample drift monitor, graded on BOTH verdicts: an
      // even/odd orderkey split of l_quantity must show NO drifted
      // bucket (binomial share noise is ~9σ below the 5% threshold
      // even at sf0.001), while a q <= 25 truncation of sample B must
      // drift EVERY bucket (halves below 25 double their share, those
      // above vanish). Counts and verdicts are exact integers, so the
      // oracle replays rows and booleans value-for-value.
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity".cast("int").as("q"))
      val a = li.filter(pmod($"l_orderkey", lit(2)) === 0)
      val b = li.filter(pmod($"l_orderkey", lit(2)) === 1)
      val stable = Quality.driftReport(a, b, $"q",
          lo = 1, width = 5, nBuckets = 10)
        .withColumn("pair", lit("split"))
      val shifted = Quality.driftReport(a, b.filter($"q" <= 25), $"q",
          lo = 1, width = 5, nBuckets = 10)
        .withColumn("pair", lit("truncated"))
      stable.unionByName(shifted)
        .select($"pair", $"bucket", $"n_a", $"n_b", $"drifted")
        .orderBy($"pair", $"bucket")
    },
    // same fixed bucketing, totals, and cross-multiplied integer
    // verdict — every row and boolean replays exactly
    Oracle("""WITH li AS (SELECT l_orderkey, CAST(l_quantity AS INT) AS q
        |  FROM lineitem),
        |ca AS (SELECT CASE WHEN q IS NULL THEN -1
        |      ELSE least(greatest((q - 1) // 5, 0), 9) END AS bucket,
        |    count(*) AS n FROM li WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |cb AS (SELECT CASE WHEN q IS NULL THEN -1
        |      ELSE least(greatest((q - 1) // 5, 0), 9) END AS bucket,
        |    count(*) AS n FROM li WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |ct AS (SELECT CASE WHEN q IS NULL THEN -1
        |      ELSE least(greatest((q - 1) // 5, 0), 9) END AS bucket,
        |    count(*) AS n FROM li WHERE l_orderkey % 2 = 1 AND q <= 25
        |    GROUP BY 1),
        |g AS (SELECT range AS bucket FROM range(-1, 10)),
        |u AS (
        |  SELECT 'split' AS pair, g.bucket,
        |    coalesce(ca.n, 0) AS n_a, coalesce(cb.n, 0) AS n_b
        |  FROM g LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)
        |  UNION ALL
        |  SELECT 'truncated' AS pair, g.bucket,
        |    coalesce(ca.n, 0) AS n_a, coalesce(ct.n, 0) AS n_b
        |  FROM g LEFT JOIN ca USING (bucket) LEFT JOIN ct USING (bucket)),
        |t AS (SELECT pair, sum(n_a) AS ta, sum(n_b) AS tb
        |  FROM u GROUP BY pair)
        |SELECT u.pair, u.bucket, CAST(u.n_a AS BIGINT) AS n_a,
        |  CAST(u.n_b AS BIGINT) AS n_b,
        |  abs(CAST(u.n_a AS HUGEINT) * t.tb -
        |      CAST(u.n_b AS HUGEINT) * t.ta) * 1000000 >
        |    50000 * CAST(t.ta AS HUGEINT) * t.tb AS drifted
        |FROM u JOIN t USING (pair) ORDER BY pair, bucket""".stripMargin)),

    QuerySpec("dq_drift_categorical", (s, dir) => {
      import s.implicits._
      // Categorical composition drift (source mix — the corpus check
      // between pipeline snapshots). Split by doc_id div 20 parity:
      // source IS doc_id % 20 in the testdata, so block-alternation
      // gives every source an EXACTLY equal share in both halves
      // (zero drift, deterministically), while additionally dropping
      // the 11 'src1*' sources from B must drift every key — dropped
      // ones to zero, survivors inflated past the 2% threshold.
      val docs = Tables.documents(s, dir).select($"doc_id", $"source")
      val a = docs.filter(pmod(expr("doc_id div 20"), lit(2)) === 0)
      val b = docs.filter(pmod(expr("doc_id div 20"), lit(2)) === 1)
      val stable = Quality.driftReportCategorical(a, b, $"source",
          thresholdPpm = 20000L)
        .withColumn("pair", lit("split"))
      val shifted = Quality.driftReportCategorical(a,
          b.filter(!$"source".startsWith("src1")), $"source",
          thresholdPpm = 20000L)
        .withColumn("pair", lit("narrowed"))
      stable.unionByName(shifted)
        .select($"pair", $"key".as("cat"), $"n_a", $"n_b", $"drifted")
        .orderBy($"pair", $"cat")
    },
    // categorical twin: full-joined per-source counts, same
    // cross-multiplied integer verdict
    Oracle("""WITH a AS (SELECT source, count(*) AS n FROM documents
        |  WHERE (doc_id // 20) % 2 = 0 GROUP BY 1),
        |b AS (SELECT source, count(*) AS n FROM documents
        |  WHERE (doc_id // 20) % 2 = 1 GROUP BY 1),
        |c AS (SELECT source, count(*) AS n FROM documents
        |  WHERE (doc_id // 20) % 2 = 1 AND source NOT LIKE 'src1%'
        |  GROUP BY 1),
        |u AS (
        |  SELECT 'split' AS pair, coalesce(a.source, b.source) AS cat,
        |    coalesce(a.n, 0) AS n_a, coalesce(b.n, 0) AS n_b
        |  FROM a FULL JOIN b ON a.source IS NOT DISTINCT FROM b.source
        |  UNION ALL
        |  SELECT 'narrowed' AS pair, coalesce(a.source, c.source) AS cat,
        |    coalesce(a.n, 0) AS n_a, coalesce(c.n, 0) AS n_b
        |  FROM a FULL JOIN c ON a.source IS NOT DISTINCT FROM c.source),
        |t AS (SELECT pair, sum(n_a) AS ta, sum(n_b) AS tb
        |  FROM u GROUP BY pair)
        |SELECT u.pair, u.cat, CAST(u.n_a AS BIGINT) AS n_a,
        |  CAST(u.n_b AS BIGINT) AS n_b,
        |  abs(CAST(u.n_a AS HUGEINT) * t.tb -
        |      CAST(u.n_b AS HUGEINT) * t.ta) * 1000000 >
        |    20000 * CAST(t.ta AS HUGEINT) * t.tb AS drifted
        |FROM u JOIN t USING (pair) ORDER BY pair, cat""".stripMargin)),

    QuerySpec("dq_drift_stream", (s, dir) => {
      import s.implicits._
      // Streaming drift monitor graded end-to-end: the reference
      // histogram is frozen from the even-orderkey half; the odd half
      // arrives as three deterministic micro-batches folded into a
      // versioned count snapshot, then batch 1 is REDELIVERED
      // (restart semantics — the rewrite must be a no-op, not a
      // double-count). The accumulated report must equal the batch
      // driftReport over the same split, which the oracle restates in
      // SQL (same grid, NULL bucket, and exact cross-multiplied
      // verdict as dq_drift).
      import graft.streaming.DriftStreams
      val base = tmpPath("dstream", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // stale prior runs
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity".cast("int").as("q"))
      val ref = Quality.bucketCounts(li.filter(pmod($"l_orderkey", lit(2)) === 0),
        $"q", lo = 1, width = 5, nBuckets = 10, out = "n_a")
      val b = li.filter(pmod($"l_orderkey", lit(2)) === 1)
      def slice(i: Int) = b.filter(pmod($"l_orderkey", lit(3)) === i)
      for (i <- 0 until 3)
        DriftStreams.applyDriftBatch(base, i.toLong, slice(i), $"q",
          lo = 1, width = 5, nBuckets = 10)
      // redelivery: deterministic rewrite of v=1 from v=0, no double-count
      DriftStreams.applyDriftBatch(base, 1L, slice(1), $"q",
        lo = 1, width = 5, nBuckets = 10)
      DriftStreams.driftAgainstReference(s, base, ref, nBuckets = 10)
    },
    // the accumulated stream report equals the batch drift report
    // over the same even/odd split — same grid, NULL bucket, and
    // exact integer verdict as dq_drift
    Oracle("""WITH li AS (SELECT l_orderkey, CAST(l_quantity AS INT) AS q
        |  FROM lineitem),
        |ca AS (SELECT CASE WHEN q IS NULL THEN -1
        |      ELSE least(greatest((q - 1) // 5, 0), 9) END AS bucket,
        |    count(*) AS n FROM li WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |cb AS (SELECT CASE WHEN q IS NULL THEN -1
        |      ELSE least(greatest((q - 1) // 5, 0), 9) END AS bucket,
        |    count(*) AS n FROM li WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |g AS (SELECT range AS bucket FROM range(-1, 10)),
        |u AS (SELECT g.bucket, coalesce(ca.n, 0) AS n_a,
        |    coalesce(cb.n, 0) AS n_b
        |  FROM g LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM u)
        |SELECT u.bucket, CAST(u.n_a AS BIGINT) AS n_a,
        |  CAST(u.n_b AS BIGINT) AS n_b,
        |  abs(CAST(u.n_a AS HUGEINT) * t.tb -
        |      CAST(u.n_b AS HUGEINT) * t.ta) * 1000000 >
        |    50000 * CAST(t.ta AS HUGEINT) * t.tb AS drifted
        |FROM u, t ORDER BY bucket""".stripMargin),
    eagerBuild = true),

    QuerySpec("dq_impute", (s, dir) => {
      import s.implicits._
      // Median imputation: deterministically null out %13 keys, fill
      // with the priority-group median of the surviving values. The
      // oracle recomputes the same interpolated median
      // (quantile_cont == Spark percentile) and the same fill set.
      val base = Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority",
        when($"o_orderkey" % 13 === 0, lit(null)).otherwise($"o_totalprice")
          .as("p"))
      Quality.imputeWithGroupMedian(base, "o_orderpriority", "p")
        .filter($"p_was_null")
        .select($"o_orderkey", $"p_imputed")
        .orderBy($"o_orderkey")
    },
    Oracle("""WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |         ELSE o_totalprice END AS p
        |  FROM orders),
        |m AS (
        |  SELECT o_orderpriority, quantile_cont(p, 0.5) AS med
        |  FROM base GROUP BY 1)
        |SELECT o_orderkey, med AS p_imputed
        |FROM base JOIN m USING (o_orderpriority)
        |WHERE p IS NULL ORDER BY o_orderkey""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_histogram", (s, dir) => {
      import s.implicits._
      // 20-bin equi-width histogram of order totals, empty bins
      // explicit; the oracle replays the identical IEEE bucket
      // arithmetic, so counts AND bin edges hash-match.
      Quality.equiWidthHistogram(Tables.orders(s, dir), $"o_totalprice", 20)
        .orderBy($"bin")
    },
    // identical IEEE bucket arithmetic, complete grid via
    // generate_series, zero-filled empty bins
    Oracle("""WITH mm AS (
        |  SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |    CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders),
        |c AS (
        |  SELECT least(CAST(floor((o_totalprice - lo) * 20 / (hi - lo))
        |      AS BIGINT), 19) AS bin, count(*) AS n
        |  FROM orders, mm GROUP BY 1),
        |g AS (SELECT unnest(generate_series(0, 19)) AS bin, lo, hi FROM mm)
        |SELECT g.bin, g.lo + (g.hi - g.lo) * g.bin / 20 AS bin_lo,
        |  g.lo + (g.hi - g.lo) * (g.bin + 1) / 20 AS bin_hi,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM g LEFT JOIN c USING (bin) ORDER BY g.bin""".stripMargin),
    bench = true),

    QuerySpec("dq_histogram_depth", (s, dir) => {
      import s.implicits._
      // Equi-DEPTH histogram (quartile bins): boundaries from the
      // exact interpolated percentile array — the scale path (one
      // aggregate + row-local ladder), never a global ntile window.
      // Counts per bin differ from n/4 exactly by boundary ties —
      // which is what the oracle replays.
      val o = Tables.orders(s, dir)
      val qs = o.agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))")
        .as("__q"))
      o.crossJoin(broadcast(qs)) // 1-row boundary array
        .withColumn("bin",
          when($"o_totalprice" <= $"__q".getItem(0), 1L)
            .when($"o_totalprice" <= $"__q".getItem(1), 2L)
            .when($"o_totalprice" <= $"__q".getItem(2), 3L)
            .otherwise(4L))
        .groupBy($"bin").agg(count(lit(1)).cast("bigint").as("n"))
        .orderBy($"bin")
    },
    Oracle("""WITH q AS (
        |  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.5) AS q2,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders)
        |SELECT CASE WHEN o_totalprice <= q1 THEN 1
        |            WHEN o_totalprice <= q2 THEN 2
        |            WHEN o_totalprice <= q3 THEN 3
        |            ELSE 4 END AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders, q GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("dq_wasserstein", (s, dir) => {
      import s.implicits._
      // Binned W1 (earth-mover) distance between click and purchase
      // value distributions — same grid as dq_psi, but the answer is
      // in the value's own units ("the distribution moved X cents");
      // no per-term rounding, one division from exact integers.
      val ev = Tables.events(s, dir)
      Quality.wassersteinBinned(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "purchase"),
        round($"value" * 100), lo = 0L, width = 1000L, nBuckets = 10)
    },
    // cumulative gaps summed as exact integers, ONE division, then
    // width/micro scaling — no per-term rounding anywhere
    Oracle("""WITH ca AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_a
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'click') GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN v IS NULL THEN -1
        |    ELSE least(greatest(v // 1000, 0), 9) END AS bucket,
        |    count(*) AS n_b
        |  FROM (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events WHERE event_type = 'purchase') GROUP BY 1),
        |g AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 10)),
        |j AS (SELECT g.bucket, coalesce(ca.n_a, 0) AS n_a,
        |    coalesce(cb.n_b, 0) AS n_b
        |  FROM g LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
        |c AS (SELECT bucket, n_a, n_b,
        |    sum(n_a) OVER (ORDER BY bucket) AS cuma,
        |    sum(n_b) OVER (ORDER BY bucket) AS cumb FROM j),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |    CAST(sum(n_b) AS BIGINT) AS tb FROM j)
        |SELECT t.ta AS n_a, t.tb AS n_b,
        |  CAST(round(CAST(sum(abs(cuma * t.tb - cumb * t.ta)) AS DOUBLE)
        |    / CAST(CAST(t.ta AS HUGEINT) * t.tb AS DOUBLE)
        |    * 1000 * 1000000) AS BIGINT) AS w1_micros
        |FROM c, t GROUP BY t.ta, t.tb""".stripMargin),
    bench = true),

    QuerySpec("dq_t_closeness", (s, dir) => {
      import s.implicits._
      // t-closeness privacy audit: per order-priority QI group, the
      // binned W1 distance between the group's total-price
      // distribution and the GLOBAL one — the leak k-anonymity and
      // l-diversity cannot see (a k-anonymous group whose sensitive
      // values all sit in one bracket still discloses). $20k-wide
      // cents grid, 32 buckets, t = $500 (500_00_000000 value
      // micros... t expressed in the value's own micro-units, the
      // wassersteinBinned convention).
      graft.operators.Quality.tCloseness(Tables.orders(s, dir),
          "o_orderpriority", round($"o_totalprice" * 100).cast("long"),
          lo = 0L, width = 2000000L, nBuckets = 32,
          tMicros = 50000000000L)
        .orderBy($"o_orderpriority")
    },
    // the wasserstein machinery per QI group against the GLOBAL
    // cumulative: |cum_g*N - cum_global*n_g| summed exactly, one
    // mirrored division per group
    Oracle("""WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |b AS (SELECT g,
        |    least(greatest((v - 0) // 2000000, 0), 31) AS bucket
        |  FROM v),
        |bc AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT gg.g, CAST(r.range AS BIGINT) AS bucket
        |  FROM (SELECT DISTINCT g FROM bc) gg, range(0, 32) r),
        |f AS (SELECT grid.g, grid.bucket, coalesce(bc.n, 0) AS n
        |  FROM grid LEFT JOIN bc
        |  ON bc.g = grid.g AND bc.bucket = grid.bucket),
        |cum AS (SELECT g, bucket, n,
        |    CAST(sum(n) OVER (PARTITION BY g ORDER BY bucket)
        |      AS BIGINT) AS cumv
        |  FROM f),
        |gl AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS gn
        |  FROM f GROUP BY 1),
        |glc AS (SELECT bucket,
        |    CAST(sum(gn) OVER (ORDER BY bucket) AS BIGINT) AS gcum
        |  FROM gl),
        |ng AS (SELECT g, CAST(sum(n) AS BIGINT) AS ngv FROM f
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM f),
        |t AS (SELECT cum.g, ng.ngv, tot.nn,
        |    abs(CAST(cum.cumv AS HUGEINT) * tot.nn
        |      - CAST(glc.gcum AS HUGEINT) * ng.ngv) AS d
        |  FROM cum JOIN glc USING (bucket)
        |  JOIN ng ON ng.g = cum.g, tot),
        |s AS (SELECT g, ngv, nn, sum(d) AS sd FROM t GROUP BY 1, 2, 3)
        |SELECT o_orderpriority, n, w1_micros,
        |  w1_micros > 50000000000 AS breached
        |FROM (SELECT g AS o_orderpriority, ngv AS n,
        |    CAST(round(CAST(sd AS DOUBLE) / CAST(ngv * nn AS DOUBLE)
        |      * 2000000 * 1000000) AS BIGINT) AS w1_micros
        |  FROM s) z
        |ORDER BY o_orderpriority""".stripMargin),
    bench = true),

    QuerySpec("dq_completeness", (s, dir) => {
      import s.implicits._
      // Per-column completeness census in long format — the
      // column-grain companion to dq_profile's one-row header: NULL
      // and blank-string counts plus null ppm for every orders
      // column, from ONE scan (conditional sums, then a stack
      // unpivot of the 9-column aggregate row).
      val o = Tables.orders(s, dir)
      val cols = o.schema.fieldNames.toSeq
      val aggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
          sum(when(col(c).cast("string") === "", 1L).otherwise(0L))
            .as(s"__b_$c"))
      }
      val stackArgs = cols.map(c => s"'$c', __n_$c, __b_$c")
        .mkString(", ")
      o.agg(count(lit(1)).as("__t"), aggs: _*)
        .selectExpr("__t",
          s"stack(${cols.size}, $stackArgs)" +
            " AS (column_name, n_null, n_blank)")
        .selectExpr("column_name", "CAST(n_null AS BIGINT) AS n_null",
          "CAST(n_blank AS BIGINT) AS n_blank",
          "CAST(CAST(n_null AS DECIMAL(38,0)) * 1000000 div __t" +
            " AS BIGINT) AS null_ppm")
        .orderBy($"column_name")
    },
    // conditional sums per column, unpivoted; blank test on the
    // string rendering like the engine
    Oracle("""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN CAST(o_orderkey AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN CAST(o_custkey AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN CAST(o_orderstatus AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b3,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b4,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |  CAST(sum(CASE WHEN CAST(o_orderdate AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b5,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n6,
        |  CAST(sum(CASE WHEN CAST(o_orderpriority AS VARCHAR) = '' THEN 1 ELSE 0 END) AS BIGINT) AS b6
        |  FROM orders),
        |u AS (
        |  SELECT 'o_orderkey' AS column_name, n1 AS n_null, b1 AS n_blank, t FROM a
        |  UNION ALL SELECT 'o_custkey', n2, b2, t FROM a
        |  UNION ALL SELECT 'o_orderstatus', n3, b3, t FROM a
        |  UNION ALL SELECT 'o_totalprice', n4, b4, t FROM a
        |  UNION ALL SELECT 'o_orderdate', n5, b5, t FROM a
        |  UNION ALL SELECT 'o_orderpriority', n6, b6, t FROM a)
        |SELECT column_name, n_null, n_blank,
        |  CAST((CAST(n_null AS HUGEINT) * 1000000) // t AS BIGINT)
        |    AS null_ppm
        |FROM u ORDER BY column_name""".stripMargin),
    bench = true),

    QuerySpec("dq_sequence_gaps", (s, dir) => {
      import s.implicits._
      // Sequence-integrity audit of the order-key space — the
      // event-stream loader check dq_referential can't do: a
      // monotone id column with HOLES means dropped batches, with
      // DUPLICATES means replayed ones. One row: row/distinct
      // counts, id range, missing-id and duplicate-row censuses,
      // and the largest single gap (WHERE the hole is starts there).
      // All exact integers; the ordered lag pass runs on the
      // distinct-id table.
      val ids = Tables.orders(s, dir)
        .select($"o_orderkey".cast("long").as("id"))
      val d = ids.distinct()
      val gap = d
        .withColumn("__prev", lag($"id", 1).over(Window.orderBy($"id")))
        .agg(max($"id" - $"__prev").as("max_gap"))
      ids.agg(count(lit(1)).as("n_rows"), min($"id").as("min_id"),
          max($"id").as("max_id"))
        .crossJoin(d.agg(count(lit(1)).as("n_distinct")))
        .crossJoin(gap)
        .select($"n_rows".cast("long").as("n_rows"),
          $"n_distinct".cast("long").as("n_distinct"),
          $"min_id", $"max_id",
          ($"max_id" - $"min_id" + 1L - $"n_distinct").as("n_missing"),
          ($"n_rows" - $"n_distinct").as("n_dup_rows"),
          $"max_gap".cast("long").as("max_gap"))
    },
    // exact integer censuses over the id space; the lag pass runs on
    // the distinct-id table
    Oracle("""WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS id
        |  FROM orders),
        |d AS (SELECT DISTINCT id FROM ids),
        |g AS (SELECT max(id - prev) AS max_gap FROM
        |  (SELECT id, lag(id, 1) OVER (ORDER BY id) AS prev FROM d) z),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    min(id) AS min_id, max(id) AS max_id FROM ids),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct FROM d)
        |SELECT n_rows, n_distinct, min_id, max_id,
        |  max_id - min_id + 1 - n_distinct AS n_missing,
        |  n_rows - n_distinct AS n_dup_rows,
        |  CAST(max_gap AS BIGINT) AS max_gap
        |FROM t, nd, g""".stripMargin),
    bench = true),

    QuerySpec("dq_referential", (s, dir) => {
      import s.implicits._
      // FK orphan census over three relations: two clean TPC-H keys
      // (the proof the joins are safe) and one deliberately-broken
      // parent (customers with custkey % 7 == 0 removed) whose
      // orphan counts must surface exactly. One left join per
      // relation against the distinct parent keys; all counts exact.
      val q = graft.operators.Quality
      val orders = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      q.referentialOrphans(Tables.lineitem(s, dir), $"l_orderkey",
          orders, $"o_orderkey", "lineitem.l_orderkey->orders.o_orderkey")
        .unionByName(q.referentialOrphans(orders, $"o_custkey", cust,
          $"c_custkey", "orders.o_custkey->customer.c_custkey"))
        .unionByName(q.referentialOrphans(orders, $"o_custkey",
          cust.filter(pmod($"c_custkey", lit(7)) =!= 0), $"c_custkey",
          "orders.o_custkey->customer[c_custkey%7!=0]"))
        .orderBy($"relation")
    },
    // the A&S erfc polynomial mirrored token-for-token on identical
    // doubles from exact counts; every BH verdict is the
    // cross-multiplied integer comparison p*m <= rank*alpha
    // one left join per relation against distinct parent keys; NULL
    // FKs reported separately, never as orphans; exact counts + one
    // truncating ppm division
    Oracle("""WITH p1 AS (SELECT DISTINCT o_orderkey AS pk FROM orders
        |    WHERE o_orderkey IS NOT NULL),
        |j1 AS (SELECT c.l_orderkey AS k, p1.pk FROM lineitem c
        |  LEFT JOIN p1 ON c.l_orderkey = p1.pk),
        |s1 AS (SELECT 'lineitem.l_orderkey->orders.o_orderkey'
        |    AS relation,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_rows,
        |    CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(DISTINCT CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN k END) AS BIGINT) AS n_orphan_keys
        |  FROM j1),
        |p2 AS (SELECT DISTINCT c_custkey AS pk FROM customer
        |    WHERE c_custkey IS NOT NULL),
        |j2 AS (SELECT c.o_custkey AS k, p2.pk FROM orders c
        |  LEFT JOIN p2 ON c.o_custkey = p2.pk),
        |s2 AS (SELECT 'orders.o_custkey->customer.c_custkey'
        |    AS relation,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_rows,
        |    CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(DISTINCT CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN k END) AS BIGINT) AS n_orphan_keys
        |  FROM j2),
        |p3 AS (SELECT DISTINCT c_custkey AS pk FROM customer
        |    WHERE c_custkey IS NOT NULL
        |      AND ((c_custkey % 7) + 7) % 7 <> 0),
        |j3 AS (SELECT c.o_custkey AS k, p3.pk FROM orders c
        |  LEFT JOIN p3 ON c.o_custkey = p3.pk),
        |s3 AS (SELECT 'orders.o_custkey->customer[c_custkey%7!=0]'
        |    AS relation,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_rows,
        |    CAST(sum(CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(DISTINCT CASE WHEN k IS NOT NULL AND pk IS NULL
        |      THEN k END) AS BIGINT) AS n_orphan_keys
        |  FROM j3),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3)
        |SELECT relation, n_rows, n_null_rows, n_orphan_rows,
        |  n_orphan_keys,
        |  CAST(CAST(n_orphan_rows AS HUGEINT) * 1000000
        |    // nullif(n_rows - n_null_rows, 0) AS BIGINT) AS orphan_ppm
        |FROM u ORDER BY relation""".stripMargin),
    bench = true),

    QuerySpec("dq_cvm", (s, dir) => {
      import s.implicits._
      // Cramér–von Mises distance between returned and intact
      // lineitems' price distributions — the whole-distribution
      // companion to dq_ks over the SAME split: the squared CDF gap
      // INTEGRATED over the pooled sample (a thin drift across the
      // whole range accumulates where KS's single sup is blind),
      // exact integer numerator, one final division. One row.
      graft.operators.OrderedStats.cramerVonMises(
        Tables.lineitem(s, dir).filter($"l_returnflag".isin("R", "N")),
        $"l_extendedprice", $"l_returnflag" === "R")
    },
    // squared CDF gap integrated over the pooled sample: exact
    // HUGEINT numerator sum(c*delta^2), ONE final double division
    Oracle("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    (l_returnflag = 'R') AS t
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cb) OVER (ORDER BY v) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b FROM c),
        |a AS (SELECT tot.n_a, tot.n_b,
        |    sum(CAST(ca + cb AS HUGEINT)
        |      * (CAST(cum_a AS HUGEINT) * tot.n_b
        |        - CAST(cum_b AS HUGEINT) * tot.n_a)
        |      * (CAST(cum_a AS HUGEINT) * tot.n_b
        |        - CAST(cum_b AS HUGEINT) * tot.n_a)) AS num
        |  FROM cc, tot WHERE tot.n_a > 0 AND tot.n_b > 0
        |  GROUP BY 1, 2),
        |f AS (SELECT n_a, n_b,
        |    CAST(round(CAST(num AS DOUBLE)
        |      / CAST(CAST(n_a + n_b AS HUGEINT) * (n_a + n_b)
        |        * n_a * n_b AS DOUBLE)
        |      * 1000000) AS BIGINT) AS t_micros
        |  FROM a)
        |SELECT n_a, n_b, t_micros, t_micros > 461000 AS drifted
        |FROM f""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_ad", (s, dir) => {
      import s.implicits._
      // Anderson-Darling distance between returned and intact
      // lineitems' prices — the TAIL-weighted member of the drift
      // trio next to dq_ks (sup) and dq_cvm (uniform integral): the
      // screen for a drifting p99. Exact pico-scaled terms off the
      // prefix sum, one final division. One row.
      graft.operators.OrderedStats.andersonDarling(
        Tables.lineitem(s, dir).filter($"l_returnflag".isin("R", "N")),
        $"l_extendedprice", $"l_returnflag" === "R")
    },
    // tail-weighted squared CDF gaps: exact pico-scaled truncating
    // terms over interior distinct values, one final division
    Oracle("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    (l_returnflag = 'R') AS t
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |c AS (SELECT v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |cc AS (SELECT v, ca, cb,
        |    sum(ca) OVER (ORDER BY v) AS cum_a,
        |    sum(cb) OVER (ORDER BY v) AS cum_b FROM c),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b FROM c),
        |t AS (SELECT tot.n_a, tot.n_b,
        |    ((CAST(ca + cb AS HUGEINT)
        |      * (CAST(cum_a AS HUGEINT) * (tot.n_a + tot.n_b)
        |        - CAST(tot.n_a AS HUGEINT) * (cum_a + cum_b))
        |      * (CAST(cum_a AS HUGEINT) * (tot.n_a + tot.n_b)
        |        - CAST(tot.n_a AS HUGEINT) * (cum_a + cum_b))
        |      * 1000000000000)
        |     // (CAST(cum_a + cum_b AS HUGEINT)
        |        * (tot.n_a + tot.n_b - cum_a - cum_b))) AS tt
        |  FROM cc, tot
        |  WHERE tot.n_a > 0 AND tot.n_b > 0
        |    AND cum_a + cum_b < tot.n_a + tot.n_b),
        |a AS (SELECT n_a, n_b, CAST(sum(tt) AS HUGEINT) AS s
        |  FROM t GROUP BY 1, 2)
        |SELECT n_a, n_b,
        |  CAST(s // (CAST(n_a AS HUGEINT) * n_b * 1000000) AS BIGINT)
        |    AS a2_micros
        |FROM a""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dq_drift_fdr", (s, dir) => {
      import s.implicits._
      // The production drift pipeline composed end-to-end: a
      // per-metric KS sweep (value-cents and hour-of-day
      // distributions per event type, early vs late half of the
      // month) -> one-term Kolmogorov-tail p-values -> BH-FDR
      // verdict set. D is integer cross-multiplied per metric, the
      // p trees mirror token-for-token, and every rejection is the
      // cross-multiplied integer comparison.
      val e = Tables.events(s, dir)
      val tag = $"ts" < lit("2024-01-16").cast("timestamp")
      val bv = graft.operators.OrderedStats.ksBattery(e,
        concat($"event_type", lit(":value")),
        round($"value" * 100).cast("long"), tag)
      val bh = graft.operators.OrderedStats.ksBattery(e,
        concat($"event_type", lit(":hour")), hour($"ts").cast("long"),
        tag)
      graft.operators.Quality.bhFdr(
          bv.unionByName(bh).select($"metric", $"p_micros"),
          "metric", $"p_micros")
        .orderBy($"rank")
    },
    // two KS batteries over one UNION ALL, per-metric integer sup,
    // the mirrored one-term tail, then the integer BH step-up
    Oracle("""WITH s AS (SELECT event_type || ':value' AS metric,
        |    CAST(round(value * 100) AS BIGINT) AS v,
        |    (ts < TIMESTAMP '2024-01-16') AS t FROM events
        |  UNION ALL
        |  SELECT event_type || ':hour' AS metric,
        |    CAST(hour(ts) AS BIGINT) AS v,
        |    (ts < TIMESTAMP '2024-01-16') AS t FROM events),
        |c AS (SELECT metric, v,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1, 2),
        |cc AS (SELECT metric, v, ca, cb,
        |    sum(ca) OVER (PARTITION BY metric ORDER BY v) AS cum_a,
        |    sum(cb) OVER (PARTITION BY metric ORDER BY v) AS cum_b,
        |    CAST(sum(ca) OVER (PARTITION BY metric) AS BIGINT) AS n_a,
        |    CAST(sum(cb) OVER (PARTITION BY metric) AS BIGINT) AS n_b
        |  FROM c),
        |d AS (SELECT metric, n_a, n_b,
        |    max(abs(CAST(cum_a AS HUGEINT) * n_b
        |      - CAST(cum_b AS HUGEINT) * n_a)) AS dnum
        |  FROM cc WHERE n_a > 0 AND n_b > 0 GROUP BY 1, 2, 3),
        |pv AS (SELECT metric,
        |    CAST(round(least(1.0, 2.0 * exp(-2.0
        |      * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(dnum AS DOUBLE)
        |        / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE))
        |      * (CAST(dnum AS DOUBLE)
        |        / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE))))
        |      * 1000000) AS BIGINT) AS p_micros
        |  FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
        |r AS (SELECT metric, p_micros,
        |    CAST(row_number() OVER (ORDER BY p_micros, metric)
        |      AS BIGINT) AS rank, m
        |  FROM pv, t),
        |q AS (SELECT metric, p_micros, rank, m,
        |    max(CASE WHEN p_micros * m <= rank * 50000
        |      THEN rank ELSE 0 END) OVER () AS mq
        |  FROM r)
        |SELECT metric, p_micros, rank,
        |  CAST(rank * 50000 // m AS BIGINT) AS bh_cut_micros,
        |  rank <= mq AS rejected
        |FROM q ORDER BY rank""".stripMargin),
    bench = true, eagerBuild = true),
  )

  /** Generated dq_key_discovery oracle: per candidate (singles +
    * unordered pairs of the same panel the query declares) the exact
    * distinct-combination census via DISTINCT subqueries (which keep
    * the NULL group, matching the engine's group-count semantics);
    * a pair is minimal only if neither member is a key alone. */
  private lazy val keyDiscoveryOracleSql: String = {
    val cols = Seq("p_partkey", "p_brand", "p_type", "p_size")
    def nd(cs: Seq[String]) =
      s"(SELECT CAST(count(*) AS BIGINT) FROM " +
        s"(SELECT DISTINCT ${cs.mkString(", ")} FROM part))"
    def block(cs: Seq[String], minimalSql: String) =
      s"""SELECT '${cs.mkString(",")}' AS key_cols,
         |  CAST(${cs.size} AS BIGINT) AS width, t.n AS n_rows,
         |  ${nd(cs)} AS n_distinct,
         |  t.n - ${nd(cs)} AS dup_rows,
         |  CAST(${nd(cs)} * 1000000 // t.n AS BIGINT)
         |    AS uniqueness_ppm,
         |  t.n = ${nd(cs)} AS is_key,
         |  $minimalSql AS is_minimal
         |FROM tot t""".stripMargin
    val singles = cols.map(c => block(Seq(c), s"t.n = ${nd(Seq(c))}"))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield {
      val p = Seq(cols(i), cols(j))
      block(p, s"t.n = ${nd(p)} AND NOT (t.n = ${nd(Seq(cols(i)))}" +
        s" OR t.n = ${nd(Seq(cols(j)))})")
    }
    s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part)
       |SELECT * FROM (
       |${(singles ++ pairs).mkString("\nUNION ALL\n")}
       |) ORDER BY width, key_cols""".stripMargin
  }

  /** Generated dq_fd_discovery oracle: the g3 block
    * `n − Σ_a max_b count(a,b)` stamped per ordered pair of the
    * panel — pair list generated from the same Seq the query uses. */
  private lazy val fdDiscoveryOracleSql: String = {
    val cols = Seq("p_partkey", "p_brand", "p_type", "p_size")
    val pairs = for (a <- cols; b <- cols if a != b) yield
      s"""SELECT '$a' AS lhs, '$b' AS rhs, t.n AS n_rows,
         |  t.n - k.keep AS n_violations, t.n = k.keep AS holds
         |FROM tot t, (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS keep
         |  FROM (SELECT max(c) AS m FROM (
         |    SELECT $a AS a, $b AS b, CAST(count(*) AS BIGINT) AS c
         |    FROM part GROUP BY 1, 2) GROUP BY a)) k""".stripMargin
    s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part)
       |SELECT * FROM (
       |${pairs.mkString("\nUNION ALL\n")}
       |) ORDER BY lhs, rhs""".stripMargin
  }
}
