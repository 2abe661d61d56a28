package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Quality
import graft.streaming.EventStreams

import Shared.{replaySealed, revenue, setsEqual, tmpPath, typedEvents}

/** Event streams in batch form: windows, sessions, funnels, retention,
  * attribution, growth accounting. */
object EventQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("evt_stickiness", (s, dir) => {
      import s.implicits._
      // DAU/MAU stickiness per month in exact ppm — the engagement
      // ratio: sum of daily distinct users over days*monthly distinct,
      // all integer counts, one division.
      val d = Tables.events(s, dir)
        .select(to_date($"ts").as("day"), $"user_id")
      val dau = d.groupBy($"day")
        .agg(countDistinct($"user_id").as("dau"))
        .withColumn("month", date_trunc("month", $"day").cast("date"))
        .groupBy($"month")
        .agg(count(lit(1)).as("n_days"), sum($"dau").as("sum_dau"))
      val mau = d.withColumn("month", date_trunc("month", $"day").cast("date"))
        .groupBy($"month").agg(countDistinct($"user_id").as("mau"))
      dau.join(mau, Seq("month"))
        .select($"month", $"n_days".cast("bigint").as("n_days"),
          $"mau".cast("bigint").as("mau"),
          $"sum_dau".cast("bigint").as("sum_dau"),
          expr("""CAST(CAST(sum_dau AS DECIMAL(38,0)) * 1000000
            div (n_days * mau) AS BIGINT)""").as("stickiness_ppm"))
        .orderBy($"month")
    },
    // integer counts end-to-end; one division per month
    Oracle("""WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau
        |  FROM d GROUP BY 1),
        |bm AS (SELECT CAST(date_trunc('month', day) AS DATE) AS month,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(dau) AS BIGINT) AS sum_dau
        |  FROM dau GROUP BY 1),
        |mau AS (SELECT CAST(date_trunc('month', day) AS DATE) AS month,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM d GROUP BY 1)
        |SELECT bm.month, bm.n_days, mau.mau, bm.sum_dau,
        |  CAST(CAST(bm.sum_dau AS HUGEINT) * 1000000
        |    // (bm.n_days * mau.mau) AS BIGINT) AS stickiness_ppm
        |FROM bm JOIN mau USING (month) ORDER BY month""".stripMargin),
    bench = true),

    QuerySpec("evt_gini", (s, dir) => {
      import s.implicits._
      // Gini concentration of purchase revenue across users — the
      // whale-dependence number: exact integer rank sums over the
      // total (cents, user) order, one final integer division.
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(round($"value" * 100).cast("long")).as("cents"))
      val ranked = rev.withColumn("i",
        row_number().over(Window.orderBy($"cents", $"user_id"))
          .cast("long"))
      ranked.agg(count(lit(1)).as("__n"),
          sum($"cents").cast("decimal(38,0)").as("__sx"),
          sum($"i".cast("decimal(38,0)") * $"cents").as("__sxy"))
        .select($"__n".cast("bigint").as("n_users"),
          $"__sx".cast("bigint").as("total_cents"),
          expr("""CAST((2 * __sxy - (__n + 1) * __sx) * 1000000
            div (__n * __sx) AS BIGINT)""").as("gini_ppm"))
    },
    // exact integer rank sums; numerator non-negative by the sorted
    // order, one truncating division
    Oracle("""WITH rev AS (SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |rk AS (SELECT cents, CAST(row_number() OVER (
        |    ORDER BY cents, user_id) AS HUGEINT) AS i FROM rev),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(cents AS HUGEINT)) AS sx,
        |    sum(i * cents) AS sxy FROM rk)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(sx AS BIGINT)
        |    AS total_cents,
        |  CAST((2 * sxy - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
        |    AS gini_ppm
        |FROM m""".stripMargin),
    bench = true),

    QuerySpec("evt_hill_tail", (s, dir) => {
      import s.implicits._
      // Hill tail-index of the order-value distribution — the ONE
      // number behind "is this heavy-tailed, and how heavy" that
      // gini/lorenz (concentration) don't give: α̂ over the top
      // k = 100 order statistics; α ≤ 2 means infinite variance
      // (plan capacity for extremes), α large means the tail is
      // tame. Each log micro-rounded BEFORE differencing (order-free
      // sums), truncating integer mean, α one mirrored division.
      // Rank ties break by order key — fully deterministic.
      import org.apache.spark.sql.expressions.Window
      val k = 100
      val v = Tables.orders(s, dir)
        .select($"o_orderkey",
          round($"o_totalprice" * 100).cast("long").as("c"))
        .filter($"c" > 0)
      val ranked = v.withColumn("__rn", row_number().over(
          Window.orderBy($"c".desc, $"o_orderkey")))
        .filter($"__rn" <= k)
        .withColumn("__ln", round(log($"c".cast("double")) * 1e6)
          .cast("long"))
      val xk = ranked.filter($"__rn" === k)
        .select($"c".as("__ck"), $"__ln".as("__lnk"))
      ranked.filter($"__rn" < k).crossJoin(broadcast(xk)) // 1-row x_(k)
        .agg(count(lit(1)).cast("bigint").as("n_tail"),
          max($"__ck").cast("bigint").as("threshold_cents"),
          sum($"__ln" - $"__lnk").as("__s"))
        .selectExpr("n_tail", "threshold_cents",
          "CASE WHEN __s div n_tail <= 0 THEN NULL ELSE" +
            " CAST(round(1000000000000 / CAST(__s div n_tail AS DOUBLE))" +
            " AS BIGINT) END AS alpha_micros")
    },
    // tie groups land whole via the last-cumulative-position decile;
    // logs micro-rounded BEFORE differencing, truncating mean,
    // alpha one mirrored division; (value desc, key) rank ties
    Oracle("""WITH v AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |r AS (SELECT c,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS lnv,
        |    row_number() OVER (ORDER BY c DESC, o_orderkey) AS rn
        |  FROM v),
        |xk AS (SELECT c AS ck, lnv AS lnk FROM r WHERE rn = 100),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
        |    CAST(max(ck) AS BIGINT) AS threshold_cents,
        |    CAST(sum(lnv - lnk) AS BIGINT) AS s
        |  FROM r, xk WHERE rn < 100)
        |SELECT n_tail, threshold_cents,
        |  CASE WHEN s // n_tail <= 0 THEN NULL ELSE
        |    CAST(round(1000000000000 / CAST(s // n_tail AS DOUBLE))
        |    AS BIGINT) END AS alpha_micros
        |FROM a""".stripMargin),
    bench = true),

    QuerySpec("evt_lorenz", (s, dir) => {
      import s.implicits._
      // Lorenz concentration curve of purchase activity — the decile
      // table behind evt_gini's single number: users ranked ascending
      // by purchase count, TIE GROUPS land whole in the decile of
      // their last cumulative position (the gainsTable device — no
      // arbitrary splits), cumulative event share per decile. The
      // cumulative windows run over the COUNT HISTOGRAM (distinct
      // activity levels), never the user stream.
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.events(s, dir)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(count(lit(1)).as("c"))
        .groupBy($"c").agg(count(lit(1)).as("nu"))
      val tot = hist.agg(sum($"nu").as("__n"),
        sum($"nu" * $"c").cast("decimal(38,0)").as("__e"))
      val wCum = Window.orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDec = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("__cu", sum($"nu").over(wCum))
        .crossJoin(broadcast(tot)) // 1-row totals
        .withColumn("decile",
          expr("CAST(__cu - 1 AS DECIMAL(38,0)) * 10 div __n")
            .cast("int"))
        .groupBy($"decile", $"__e")
        .agg(sum($"nu").cast("bigint").as("n_users"),
          sum($"nu" * $"c").cast("bigint").as("n_events"))
        .withColumn("cum_events_ppm",
          expr("CAST(CAST(sum(n_events) OVER (ORDER BY decile" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
            " AS DECIMAL(38,0)) * 1000000 div __e AS BIGINT)"))
        .select($"decile", $"n_users", $"n_events", $"cum_events_ppm")
        .orderBy($"decile")
    },
    // cumulative windows over the count histogram only
    Oracle("""WITH pc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |h AS (SELECT c, CAST(count(*) AS BIGINT) AS nu
        |  FROM pc GROUP BY 1),
        |t AS (SELECT CAST(sum(nu) AS BIGINT) AS n,
        |    CAST(sum(nu * c) AS HUGEINT) AS e FROM h),
        |cu AS (SELECT c, nu,
        |    sum(nu) OVER (ORDER BY c) AS cuu FROM h),
        |d AS (SELECT
        |    CAST((CAST(cuu - 1 AS HUGEINT) * 10) // t.n AS INT)
        |      AS decile,
        |    nu, nu * c AS ev, t.e
        |  FROM cu, t),
        |g AS (SELECT decile, e, CAST(sum(nu) AS BIGINT) AS n_users,
        |    CAST(sum(ev) AS BIGINT) AS n_events
        |  FROM d GROUP BY 1, 2)
        |SELECT decile, n_users, n_events,
        |  CAST((CAST(sum(n_events) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS HUGEINT) * 1000000) // e AS BIGINT) AS cum_events_ppm
        |FROM g ORDER BY decile""".stripMargin),
    bench = true),

    QuerySpec("evt_dau_wau_mau", (s, dir) => {
      import s.implicits._
      // The engagement header every product team publishes: per
      // observed day, DAU / trailing-7d WAU / trailing-28d MAU and
      // DAU/MAU stickiness. Each (user, day) contributes to the 7
      // (resp. 28) trailing windows by an EXPLODE into equi-join
      // keys — never a non-equi range join (a BNLJ at 100 TB), and
      // the distinct-user counts stay exact. Unobserved days carry
      // no row (the grid is the data's own days).
      val ud = Tables.events(s, dir)
        .select($"user_id", $"ts".cast("date").as("d")).distinct()
        .localCheckpoint(true) // three consumers
      val dg = ud.select($"d").distinct()
      val dau = ud.groupBy($"d").agg(count(lit(1)).as("dau"))
      def trailing(n: Int, out: String) = ud
        .withColumn("__i", explode(sequence(lit(0), lit(n - 1))))
        .select($"user_id", date_add($"d", $"__i").as("d"))
        .join(dg, Seq("d")) // only observed days
        .groupBy($"d").agg(countDistinct($"user_id").as(out))
      dau.join(trailing(7, "wau"), Seq("d"))
        .join(trailing(28, "mau"), Seq("d"))
        .select($"d".as("day"), $"dau".cast("bigint").as("dau"),
          $"wau".cast("bigint").as("wau"),
          $"mau".cast("bigint").as("mau"),
          expr("CAST(dau AS DECIMAL(38,0)) * 1000000 div mau")
            .cast("long").as("stickiness_ppm"))
        .orderBy($"day")
    },
    // trailing windows as a date range join (the oracle can afford
    // the non-equi form; the engine explodes to equi-keys)
    Oracle("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |dg AS (SELECT DISTINCT d FROM ud),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |wau AS (SELECT dg.d,
        |    CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
        |  FROM dg JOIN ud ON ud.d BETWEEN dg.d - 6 AND dg.d
        |  GROUP BY 1),
        |mau AS (SELECT dg.d,
        |    CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
        |  FROM dg JOIN ud ON ud.d BETWEEN dg.d - 27 AND dg.d
        |  GROUP BY 1)
        |SELECT dau.d AS day, dau.dau, wau.wau, mau.mau,
        |  CAST((CAST(dau.dau AS HUGEINT) * 1000000) // mau.mau
        |    AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
        |ORDER BY day""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("evt_cumulative_users", (s, dir) => {
      import s.implicits._
      // Cumulative-distinct growth curve: per day, users seen for the
      // FIRST time and the running total — the exact form of the
      // classic growth metric (first-seen reduction makes cumulative
      // distinct a plain cumulative SUM; no sketch needed).
      import org.apache.spark.sql.expressions.Window
      val firsts = Tables.events(s, dir)
        .groupBy($"user_id").agg(min(to_date($"ts")).as("day"))
      firsts.groupBy($"day").agg(count(lit(1)).cast("bigint").as("n_new"))
        .withColumn("cum_users",
          sum($"n_new").over(Window.orderBy($"day")).cast("bigint"))
        .orderBy($"day")
    },
    // first-seen reduction turns cumulative distinct into a plain
    // running sum over unique days
    Oracle("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM f GROUP BY 1)
        |SELECT day, n_new, CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin),
    bench = true),

    QuerySpec("cust_rfm", (s, dir) => {
      import s.implicits._
      // RFM segmentation — the classic CRM scoring: per customer,
      // recency (days from last order to corpus end), frequency,
      // monetary cents; quintile scores via ntile over a total
      // (metric, custkey) order so the cut replays exactly; rule-based
      // segment labels. The ntiles sort CUSTOMER-scale rows (one
      // row-scale hash-agg reduces first) — at larger scale swap in
      // the percentile-bucket family for the scoring step.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
      val mx = o.agg(max($"o_orderdate").as("__mx"))
      val per = o.groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("__last"),
          count(lit(1)).cast("bigint").as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).cast("bigint")
            .as("monetary_cents"))
      val base = per.crossJoin(broadcast(mx)) // 1-row corpus end
        .withColumn("recency_days",
          datediff($"__mx", $"__last").cast("bigint"))
      base
        .withColumn("r_score", ntile(5).over(
          Window.orderBy($"recency_days".desc, $"o_custkey")).cast("bigint"))
        .withColumn("f_score", ntile(5).over(
          Window.orderBy($"n_orders".asc, $"o_custkey")).cast("bigint"))
        .withColumn("m_score", ntile(5).over(
          Window.orderBy($"monetary_cents".asc, $"o_custkey")).cast("bigint"))
        .withColumn("segment",
          when($"r_score" >= 4 && $"f_score" >= 4 && $"m_score" >= 4,
            "champion")
            .when($"r_score" >= 4 && $"f_score" <= 2, "new")
            .when($"r_score" <= 2 && $"f_score" >= 4, "at_risk")
            .when($"r_score" <= 2 && $"m_score" <= 2, "hibernating")
            .otherwise("regular"))
        .select($"o_custkey", $"recency_days", $"n_orders",
          $"monetary_cents", $"r_score", $"f_score", $"m_score", $"segment")
        .orderBy($"o_custkey")
    },
    // ntile over a total (metric, custkey) order is the SQL-standard
    // quintile on both engines; date_diff mirrors datediff
    Oracle("""WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
        |per AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey,
        |    CAST(date_diff('day', CAST(last_order AS DATE),
        |      CAST(mxd AS DATE)) AS BIGINT) AS recency_days,
        |    n_orders, monetary_cents FROM per, mx),
        |sc AS (SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
        |      AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY n_orders ASC, o_custkey)
        |      AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, o_custkey)
        |      AS BIGINT) AS m_score
        |  FROM b)
        |SELECT o_custkey, recency_days, n_orders, monetary_cents,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |      THEN 'champion'
        |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
        |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |    WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
        |    ELSE 'regular' END AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin),
    bench = true),

    QuerySpec("evt_tumbling", (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select($"window.start".as("window_start"), $"event_type", $"n_events", $"sum_value")
        .orderBy($"window_start", $"event_type")
    },
    Oracle("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    bench = true),

    QuerySpec("evt_sliding", (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select($"window.start".as("window_start"), $"n_events")
        .orderBy($"window_start")
    },
    Oracle("""WITH starts AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events)
        |SELECT window_start, count(*) AS n_events
        |FROM starts GROUP BY window_start ORDER BY window_start""".stripMargin),
    bench = true),

    QuerySpec("evt_streaks", (s, dir) => {
      import s.implicits._
      // Longest consecutive-active-day streak per user — the classic
      // gaps-and-islands shape (day − dense index is constant within
      // a run): distinct active days, per-user index window, island
      // group-by, max run. Exact integer day arithmetic end to end.
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, dir)
        .select($"user_id", datediff($"ts".cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("d"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"d")
      days
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__isl", $"d" - $"__rn")
        .groupBy($"user_id", $"__isl")
        .agg(count(lit(1)).as("__len"))
        .groupBy($"user_id")
        .agg(max($"__len").cast("bigint").as("longest_streak"),
          sum($"__len").cast("bigint").as("n_active_days"),
          count(lit(1)).cast("bigint").as("n_streaks"))
        .orderBy($"user_id")
    },
    // gaps-and-islands: day - dense index constant within a run
    Oracle("""WITH days AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events),
        |idx AS (SELECT user_id, d,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS BIGINT) AS rn
        |  FROM days),
        |isl AS (SELECT user_id, d - rn AS g,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM idx GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks
        |FROM isl GROUP BY 1 ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("evt_entry_exit", (s, dir) => {
      import s.implicits._
      // Entry/exit event-type distribution over 30-min sessions —
      // which actions OPEN and CLOSE a visit (the landing/exit-page
      // product readout): first/last by the (ts, event_id) total
      // order per session; a single-event session is both its own
      // entry and exit. Shares as truncating ppm of session count.
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val secs = $"ts".cast("long")
      val sess = Tables.events(s, dir)
        .withColumn("prev_secs", lag(secs, 1).over(byUser))
        .withColumn("is_new",
          when($"prev_secs".isNull || (secs - $"prev_secs") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum($"is_new").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy($"user_id", $"session_id")
        .orderBy($"ts", $"event_id")
      val bySessDesc = Window.partitionBy($"user_id", $"session_id")
        .orderBy($"ts".desc, $"event_id".desc)
      val fl = sess
        .withColumn("__rf", row_number().over(bySess))
        .withColumn("__rl", row_number().over(bySessDesc))
        .filter($"__rf" === 1 || $"__rl" === 1)
      val tot = fl.agg(
        sum(when($"__rf" === 1, 1L).otherwise(0L)).as("__ns"))
      fl.groupBy($"event_type")
        .agg(sum(when($"__rf" === 1, 1L).otherwise(0L)).as("n_entries"),
          sum(when($"__rl" === 1, 1L).otherwise(0L)).as("n_exits"))
        .crossJoin(broadcast(tot)) // 1-row session count
        .select($"event_type",
          $"n_entries".cast("bigint").as("n_entries"),
          $"n_exits".cast("bigint").as("n_exits"),
          expr("CAST(n_entries AS DECIMAL(38,0)) * 1000000 div __ns")
            .cast("long").as("entry_share_ppm"),
          expr("CAST(n_exits AS DECIMAL(38,0)) * 1000000 div __ns")
            .cast("long").as("exit_share_ppm"))
        .orderBy($"event_type")
    },
    // same session construction as evt_sessionize; first/last by the
    // (ts, event_id) total order; single-event sessions count twice
    Oracle("""WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM marked),
        |fl AS (SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM sessions),
        |t AS (SELECT CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS ns FROM fl),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_entries,
        |    CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exits
        |  FROM fl WHERE rf = 1 OR rl = 1 GROUP BY 1)
        |SELECT event_type, n_entries, n_exits,
        |  CAST((CAST(n_entries AS HUGEINT) * 1000000) // ns AS BIGINT)
        |    AS entry_share_ppm,
        |  CAST((CAST(n_exits AS HUGEINT) * 1000000) // ns AS BIGINT)
        |    AS exit_share_ppm
        |FROM g, t ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("evt_sessionize", (s, dir) => {
      import s.implicits._
      // Classic gap-based sessionization (30 min) as window functions —
      // the batch twin of session_window (streaming module).
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val secs = $"ts".cast("long")
      Tables.events(s, dir)
        .withColumn("prev_secs", lag(secs, 1).over(byUser))
        .withColumn("is_new",
          when($"prev_secs".isNull || (secs - $"prev_secs") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum($"is_new").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        // second-truncated: ts has sub-microsecond precision in the raw
        // data that Spark timestamps cannot carry (see Tables.events)
        .agg(date_trunc("second", min($"ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy($"user_id", $"session_id")
    },
    Oracle("""WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, date_trunc('second', min(ts)) AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    bench = true),

    QuerySpec("evt_enrich_static", (s, dir) => {
      import s.implicits._
      // stream-static enrichment's batch twin: the same left join
      // (runs identically under readStream — StreamingSpec drives the
      // MemoryStream form); dim columns projected before the join so
      // the broadcast ships only what the output needs
      graft.streaming.EventStreams.enrichStatic(
          Tables.events(s, dir),
          Tables.customer(s, dir)
            .select($"c_custkey", $"c_mktsegment", $"c_nationkey"),
          "user_id", "c_custkey")
        .select($"event_id", $"user_id", $"c_mktsegment", $"c_nationkey")
        .orderBy($"event_id")
    },
    Oracle("""SELECT event_id, user_id, c_mktsegment, c_nationkey
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin),
    bench = true),

    QuerySpec("evt_stream_join", (s, dir) => {
      import s.implicits._
      // batch twin of EventStreams.purchaseAttribution (stream-stream
      // join with watermark-bounded state): purchases ⋈ signups of the
      // same user within the trailing 7 days
      val ev = Tables.events(s, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val signups = ev.filter($"event_type" === "signup")
      EventStreams.purchaseAttribution(purchases, signups)
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"),
          date_trunc("second", $"signup_ts").as("signup_ts_s"),
          $"signup_value")
        .orderBy($"event_id", $"signup_ts_s", $"signup_value")
    },
    Oracle("""SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS ts_s,
        |  date_trunc('second', s.ts) AS signup_ts_s, s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        | AND s.ts >= p.ts - INTERVAL 7 DAY
        |ORDER BY p.event_id, signup_ts_s, signup_value""".stripMargin),
    bench = true),

    QuerySpec("evt_stream_join_outer", (s, dir) => {
      import s.implicits._
      // LEFT-OUTER attribution twin: purchases with no signup in the
      // trailing 7 days survive NULL-extended — the row the streaming
      // form emits at state expiry (watermark passage). Same plan as
      // evt_stream_join otherwise, so the inner rows hash-match it.
      val ev = Tables.events(s, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val signups = ev.filter($"event_type" === "signup")
      EventStreams.purchaseAttribution(purchases, signups,
          joinType = "leftOuter")
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"),
          date_trunc("second", $"signup_ts").as("signup_ts_s"),
          $"signup_value")
        .orderBy($"event_id", $"signup_ts_s", $"signup_value")
    },
    Oracle("""SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS ts_s,
        |  date_trunc('second', s.ts) AS signup_ts_s, s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        | AND s.ts >= p.ts - INTERVAL 7 DAY
        |ORDER BY p.event_id, signup_ts_s, signup_value""".stripMargin),
    bench = true),

    QuerySpec("evt_stream_join_full", (s, dir) => {
      import s.implicits._
      // FULL-OUTER attribution twin: both unconverted signups AND
      // unattributed purchases survive NULL-extended — the audit view
      // (state-expiry emissions on BOTH sides in the streaming form).
      // event_id is the purchase id (NULL on signup-only rows), so
      // the signup identity columns disambiguate those rows.
      val ev = Tables.events(s, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val signups = ev.filter($"event_type" === "signup")
      EventStreams.purchaseAttribution(purchases, signups,
          joinType = "fullOuter")
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"),
          date_trunc("second", $"signup_ts").as("signup_ts_s"),
          $"signup_value")
        .orderBy($"event_id", $"user_id", $"signup_ts_s", $"signup_value")
    },
    Oracle("""SELECT p.event_id, coalesce(p.user_id, s.user_id) AS user_id,
        |  date_trunc('second', p.ts) AS ts_s,
        |  date_trunc('second', s.ts) AS signup_ts_s, s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        | AND s.ts >= p.ts - INTERVAL 7 DAY
        |ORDER BY p.event_id, user_id, signup_ts_s, signup_value""".stripMargin)),

    QuerySpec("evt_session_window", (s, dir) => {
      import s.implicits._
      EventStreams.sessionWindows(Tables.events(s, dir))
        .withColumn("session_start", date_trunc("second", $"session_start"))
        .orderBy($"user_id", $"session_start")
    },
    Oracle(
      // session_window closes a session when the inter-event gap is
      // >= 30 min (strict window-end semantics, unlike evt_sessionize's
      // floored-seconds > 1800)
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(epoch(ts), 1) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts), 1) OVER w >= 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, date_trunc('second', min(ts)) AS session_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin),
    bench = true),

    QuerySpec("evt_transitions", (s, dir) => {
      import s.implicits._
      // First-order event transition matrix (the Markov structure of
      // user journeys): count every consecutive (prev -> next) pair
      // per user in event-time order. One window + one agg, both
      // keyed on the user / pair — nothing wide.
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"prev", $"next")
    },
    Oracle("""WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events)
        |SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""".stripMargin),
    bench = true),

    QuerySpec("evt_top_paths", (s, dir) => {
      import s.implicits._
      // path discovery: each user's first 3 event types (event_id
      // breaks ts ties, so the path string is partition-order
      // independent), counted, top 20
      EventStreams.topPaths(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id", pathLen = 3, k = 20)
    },
    Oracle("""WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, ' > ' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path
        |LIMIT 20""".stripMargin),
    bench = true),

    QuerySpec("evt_retention", (s, dir) => {
      import s.implicits._
      // Cohort retention matrix: users bucketed by first-active week,
      // counted in each later week they return. Weeks are Monday-
      // truncated dates in both engines; offsets are exact multiples
      // of 7 days, so the integer week arithmetic replays anywhere.
      val ev = Tables.events(s, dir)
        .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
      val cohort = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
      ev.distinct().join(cohort, "user_id")
        .groupBy($"cohort_wk",
          (datediff($"wk", $"cohort_wk") / 7).cast("long").as("week_offset"))
        .agg(count_distinct($"user_id").as("n_users"))
        .orderBy($"cohort_wk", $"week_offset")
    },
    Oracle("""WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, wk FROM ev)
        |SELECT cohort_wk, CAST((wk - cohort_wk) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |GROUP BY cohort_wk, week_offset
        |ORDER BY cohort_wk, week_offset""".stripMargin),
    bench = true),

    QuerySpec("evt_funnel", (s, dir) => {
      import s.implicits._
      // view -> click -> purchase conversion funnel: earliest per-user
      // completion time of each stage, later stages NULL where the
      // funnel stalled. The min-chain semantics are pure inequalities,
      // so the oracle replays them with three chained CTEs.
      EventStreams.funnel(Tables.events(s, dir),
          steps = Seq("view", "click", "purchase"))
        .toDF("user_id", "t_view", "t_click", "t_purchase")
        .orderBy($"user_id")
    },
    Oracle("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t_view
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t_view, t_click, t_purchase
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin),
    bench = true),

    QuerySpec("evt_funnel_latency", (s, dir) => {
      import s.implicits._
      // HOW LONG each funnel stage takes, not just how many convert
      // (evt_funnel counts; a product team also sets SLAs on the
      // median and tail): per stage pair, converter count and the
      // p50/p90 latency in whole seconds — rank-based percentile_disc
      // returns ACTUAL data values, bit-exact on both engines, and
      // the latencies are exact floor-second differences off the
      // graded min-chain.
      val f = EventStreams.funnel(Tables.events(s, dir),
          steps = Seq("view", "click", "purchase"))
        .toDF("user_id", "t_view", "t_click", "t_purchase")
      def leg(name: String, from: String, to: String) = f
        .filter(col(to).isNotNull)
        .select(lit(name).as("step"),
          (unix_timestamp(col(to)) - unix_timestamp(col(from)))
            .as("lat"))
      leg("click_to_purchase", "t_click", "t_purchase")
        .unionByName(leg("view_to_click", "t_view", "t_click"))
        .groupBy($"step")
        .agg(count(lit(1)).cast("bigint").as("n"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat)")
            .cast("bigint").as("p50_s"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lat)")
            .cast("bigint").as("p90_s"))
        .orderBy($"step")
    },
    // the graded min-chain, then rank-based percentiles over exact
    // floor-second latencies — actual data values on both engines
    Oracle("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t_view
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
        |  GROUP BY e.user_id),
        |f AS (SELECT s1.user_id, t_view, t_click, t_purchase
        |  FROM s1 LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)),
        |legs AS (
        |  SELECT 'view_to_click' AS step,
        |    CAST(floor(epoch(t_click)) AS BIGINT)
        |      - CAST(floor(epoch(t_view)) AS BIGINT) AS lat
        |  FROM f WHERE t_click IS NOT NULL
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |    CAST(floor(epoch(t_purchase)) AS BIGINT)
        |      - CAST(floor(epoch(t_click)) AS BIGINT)
        |  FROM f WHERE t_purchase IS NOT NULL)
        |SELECT step, CAST(count(*) AS BIGINT) AS n,
        |  CAST(quantile_disc(lat, 0.5) AS BIGINT) AS p50_s,
        |  CAST(quantile_disc(lat, 0.9) AS BIGINT) AS p90_s
        |FROM legs GROUP BY 1 ORDER BY step""".stripMargin),
    bench = true),

    QuerySpec("evt_funnel_by_segment", (s, dir) => {
      import s.implicits._
      // The funnel SPLIT by experiment arm (user parity) — the table
      // an A/B readout actually consumes: per segment, users reaching
      // each stage plus stage-over-stage conversion ppm. Composes the
      // graded min-chain; counts exact, ratios truncating.
      val f = EventStreams.funnel(Tables.events(s, dir),
          steps = Seq("view", "click", "purchase"))
        .toDF("user_id", "t_view", "t_click", "t_purchase")
      f.groupBy(pmod($"user_id", lit(2)).cast("bigint").as("segment"))
        .agg(sum(when($"t_view".isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when($"t_click".isNotNull, 1L).otherwise(0L)).as("n_click"),
          sum(when($"t_purchase".isNotNull, 1L).otherwise(0L))
            .as("n_purchase"))
        .selectExpr("segment", "CAST(n_view AS BIGINT) AS n_view",
          "CAST(n_click AS BIGINT) AS n_click",
          "CAST(n_purchase AS BIGINT) AS n_purchase",
          "CAST(CAST(n_click AS DECIMAL(38,0)) * 1000000" +
            " div nullif(n_view, 0) AS BIGINT) AS click_ppm",
          "CAST(CAST(n_purchase AS DECIMAL(38,0)) * 1000000" +
            " div nullif(n_click, 0) AS BIGINT) AS purchase_ppm")
        .orderBy($"segment")
    },
    // the min-chain per segment; counts exact, truncating ppm ratios
    Oracle("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t_view
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
        |  GROUP BY e.user_id),
        |j AS (SELECT s1.user_id % 2 AS segment,
        |    s1.t_view, s2.t_click, s3.t_purchase
        |  FROM s1 LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)),
        |a AS (SELECT segment,
        |    CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchase
        |  FROM j GROUP BY 1)
        |SELECT CAST(segment AS BIGINT) AS segment, n_view, n_click,
        |  n_purchase,
        |  CAST((CAST(n_click AS HUGEINT) * 1000000)
        |    // nullif(n_view, 0) AS BIGINT) AS click_ppm,
        |  CAST((CAST(n_purchase AS HUGEINT) * 1000000)
        |    // nullif(n_click, 0) AS BIGINT) AS purchase_ppm
        |FROM a ORDER BY segment""".stripMargin),
    bench = true),

    QuerySpec("cohort_ltv", (s, dir) => {
      import s.implicits._
      // Cohort revenue triangle over customers' order months: rows =
      // one cohort's lifetime curve, diagonals = calendar months —
      // calendar-integer ages, exact cents.
      EventStreams.cohortRevenue(Tables.orders(s, dir), "o_custkey",
        "o_orderdate", round($"o_totalprice" * 100))
    },
    // calendar-integer ages; exact cents
    Oracle("""WITH um AS (SELECT o_custkey AS u,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT u, min(m) AS c FROM um GROUP BY 1)
        |SELECT c.c AS cohort_month,
        |  CAST((year(um.m) * 12 + month(um.m))
        |    - (year(c.c) * 12 + month(c.c)) AS INT) AS age_months,
        |  CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(um.rev) AS BIGINT) AS revenue
        |FROM um JOIN c USING (u) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true),

    QuerySpec("evt_weekend_lift", (s, dir) => {
      import s.implicits._
      // Weekend-vs-weekday volume lift per event type — the first
      // seasonality question an analyst asks of any metric, as exact
      // PER-DAY rates (weekend days and weekdays are 2:5, so raw
      // counts mislead): lift_ppm = (weekend count x weekday days x
      // 1e6) div (weekday count x weekend days), day counts from the
      // data's own calendar.
      val e = Tables.events(s, dir)
        .select($"event_type", $"ts".cast("date").as("d"),
          (dayofweek($"ts").isin(1, 7)).as("we"))
      val days = e.select($"d", $"we").distinct()
        .agg(sum(when($"we", 1L).otherwise(0L)).as("__wed"),
          sum(when(!$"we", 1L).otherwise(0L)).as("__wdd"))
      e.groupBy($"event_type")
        .agg(sum(when($"we", 1L).otherwise(0L)).as("__wec"),
          sum(when(!$"we", 1L).otherwise(0L)).as("__wdc"))
        .crossJoin(broadcast(days))
        .selectExpr("event_type", "CAST(__wec AS BIGINT) AS weekend_n",
          "CAST(__wdc AS BIGINT) AS weekday_n",
          "CAST(CAST(__wec AS DECIMAL(38,0)) * __wdd * 1000000" +
            " div nullif(__wdc * __wed, 0) AS BIGINT) AS lift_ppm")
        .orderBy($"event_type")
    },
    // exact per-day rate ratio; DuckDB dayofweek Sunday=0/Saturday=6
    Oracle("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    dayofweek(ts) IN (0, 6) AS we FROM events),
        |days AS (SELECT
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wed,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wdd
        |  FROM (SELECT DISTINCT d, we FROM e) z),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wec,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wdc
        |  FROM e GROUP BY 1)
        |SELECT event_type, wec AS weekend_n, wdc AS weekday_n,
        |  CAST((CAST(wec AS HUGEINT) * wdd * 1000000)
        |    // nullif(wdc * wed, 0) AS BIGINT) AS lift_ppm
        |FROM c, days ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("evt_hourly_profile", (s, dir) => {
      import s.implicits._
      // The seasonality heatmap table: volume by (day-of-week,
      // hour-of-day) with each cell's share of the week in exact ppm
      // — the profile every capacity plan and anomaly baseline reads
      // before any model. One group hash-agg + a broadcast 1-row
      // total. dayofweek is the Sunday=1 convention on both engines.
      val e = Tables.events(s, dir)
        .select(dayofweek($"ts").cast("long").as("dow"),
          hour($"ts").cast("long").as("hod"))
      val g = e.groupBy($"dow", $"hod").agg(count(lit(1)).as("n"))
      val t = g.agg(sum($"n").as("__t"))
      g.crossJoin(broadcast(t))
        .select($"dow", $"hod", $"n".cast("bigint").as("n"),
          expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div __t" +
            " AS BIGINT)").as("share_ppm"))
        .orderBy($"dow", $"hod")
    },
    // DuckDB dayofweek is Sunday=0; +1 mirrors Spark's Sunday=1
    Oracle("""WITH e AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hod FROM events),
        |g AS (SELECT dow, hod, CAST(count(*) AS BIGINT) AS n FROM e
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g)
        |SELECT dow, hod, n,
        |  CAST((CAST(n AS HUGEINT) * 1000000) // t AS BIGINT)
        |    AS share_ppm
        |FROM g, t ORDER BY dow, hod""".stripMargin),
    bench = true),

    QuerySpec("evt_seasonal_anomaly", (s, dir) => {
      import s.implicits._
      // Anomalies against the SEASONAL baseline, not the recent
      // window (win_rolling_zscore flags "unusual vs the last 24h";
      // Monday 9am must be compared to OTHER Monday 9ams or every
      // rush hour pages): per (type, dow, hod) cohort median and MAD
      // — both rank-based percentile_disc, ACTUAL integer data
      // values on both engines — flag hours where |x − med| > 3·MAD.
      // Degenerate cohorts (MAD = 0) flag nothing by convention.
      // Fully integer-exact: no floats anywhere.
      val hc = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("x"))
        .select($"event_type", $"hour", $"x",
          dayofweek($"hour").cast("long").as("dow"),
          hour($"hour").cast("long").as("hod"))
        .localCheckpoint(true) // med agg + dev join + mad agg
      val med = hc.groupBy($"event_type", $"dow", $"hod")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("med"))
      val dev = hc.join(med, Seq("event_type", "dow", "hod"))
        .withColumn("__dev", abs($"x" - $"med"))
      val mad = dev.groupBy($"event_type", $"dow", $"hod")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __dev)")
          .cast("long").as("mad"))
      dev.join(mad, Seq("event_type", "dow", "hod"))
        .filter($"mad" > 0L && $"__dev" > lit(3L) * $"mad")
        .select($"event_type", $"hour", $"x".cast("bigint").as("x"),
          $"med".cast("bigint").as("cohort_median"),
          $"mad".cast("bigint").as("cohort_mad"))
        .orderBy($"event_type", $"hour")
    },
    // cohort median/MAD both rank-based (actual integer values),
    // +1 mirrors DuckDB's Sunday=0 to Spark's Sunday=1
    Oracle("""WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |k AS (SELECT event_type, hour, x,
        |    CAST(dayofweek(hour) + 1 AS BIGINT) AS dow,
        |    CAST(hour(hour) AS BIGINT) AS hod FROM hc),
        |med AS (SELECT event_type, dow, hod,
        |    CAST(quantile_disc(x, 0.5) AS BIGINT) AS med
        |  FROM k GROUP BY 1, 2, 3),
        |dev AS (SELECT k.event_type, k.hour, k.x, k.dow, k.hod,
        |    med.med, abs(k.x - med.med) AS d
        |  FROM k JOIN med USING (event_type, dow, hod)),
        |mad AS (SELECT event_type, dow, hod,
        |    CAST(quantile_disc(d, 0.5) AS BIGINT) AS mad
        |  FROM dev GROUP BY 1, 2, 3)
        |SELECT dev.event_type, dev.hour, dev.x,
        |  dev.med AS cohort_median, mad.mad AS cohort_mad
        |FROM dev JOIN mad USING (event_type, dow, hod)
        |WHERE mad.mad > 0 AND dev.d > 3 * mad.mad
        |ORDER BY dev.event_type, dev.hour""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("evt_drift_fdr_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for the STREAMING drift->FDR battery:
      // the dq_drift_fdr monitoring panel (value-cents + hour-of-day
      // per event type, early/late split) arrives as three
      // deterministic micro-batches folded into a versioned
      // (metric, value) side-count snapshot — ksBattery's sufficient
      // statistic, additive per batch — then batch 1 is REDELIVERED
      // (restart semantics: the rewrite must be a no-op). The
      // trigger-time verdict set over the sealed window must equal
      // the batch bhFdr(ksBattery(...)) exactly — shared code
      // downstream of the count table makes the identity structural.
      // GATE-ONLY side effects (snapshot writes under tmpdir).
      import graft.streaming.DriftStreams
      val base = tmpPath("ksfdr", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // stale prior runs
      val e = Tables.events(s, dir)
      val tag = $"ts" < lit("2024-01-16").cast("timestamp")
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(concat($"event_type", lit(":value")).as("metric"),
            round($"value" * 100).cast("long").as("v"), tag.as("t"))
          .unionByName(
            df.select(concat($"event_type", lit(":hour")).as("metric"),
              hour($"ts").cast("long").as("v"), tag.as("t")))
      def slice(i: Int) = e.filter(pmod($"event_id", lit(3)) === i)
      for (i <- 0 until 3)
        DriftStreams.applyKsBatch(base, i.toLong, shaped(slice(i)))
      // redelivery: deterministic rewrite of v=1 from v=0
      DriftStreams.applyKsBatch(base, 1L, shaped(slice(1)))
      val stream = DriftStreams.ksFdrAgainstSealed(s, base)
      val batch = graft.operators.Quality.bhFdr(
        graft.operators.OrderedStats.ksBattery(e,
            concat($"event_type", lit(":value")),
            round($"value" * 100).cast("long"), tag)
          .unionByName(graft.operators.OrderedStats.ksBattery(e,
            concat($"event_type", lit(":hour")),
            hour($"ts").cast("long"), tag))
          .select($"metric", $"p_micros"),
        "metric", $"p_micros")
      val cols = Seq("metric", "p_micros", "rank", "bh_cut_micros",
        "rejected")
      stream.agg((count(lit(1)) > 0L).as("nonempty"))
        .crossJoin(setsEqual(stream.select(cols.map(col): _*),
          batch.select(cols.map(col): _*), cols, "stream_equals_batch"))
    },
    // stream == batch identity for the KS->FDR battery; booleans only
    Oracle("SELECT true AS nonempty, true AS stream_equals_batch"),
    eagerBuild = true),

    QuerySpec("evt_transition_entropy", (s, dir) => {
      import s.implicits._
      // Behavioral PREDICTABILITY — the entropy rate of the
      // event-type transition chain (evt_transitions counts the
      // edges; this says how RANDOM the walk is: 0 bits means the
      // next step is determined, log2(5) means anything goes):
      // per-from-state Shannon entropy in micro-nats from exact
      // transition counts, weighted by from-state mass. Per-row
      // micro-nat terms summed order-free, two truncating divisions.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("next", lead($"event_type", 1).over(w))
        .filter($"next".isNotNull)
        .groupBy($"event_type".as("from_t"), $"next".as("to_t"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // row totals + entropy terms
      val byFrom = tr.groupBy($"from_t").agg(sum($"c").as("tot"))
      val ent = tr.join(byFrom, "from_t")
        .withColumn("__term", (col("c").cast("double") /
          col("tot").cast("double") *
          log(col("tot").cast("double") / col("c").cast("double"))))
        .withColumn("__tq", round($"__term" * 1e6).cast("long"))
        .groupBy($"from_t")
        .agg(max($"tot").as("tot"), sum($"__tq").as("h_micros"))
      val total = ent.agg(sum($"tot").as("allm"))
      ent.crossJoin(broadcast(total)) // 1-row total mass
        .select($"from_t", $"tot".cast("bigint").as("n_transitions"),
          $"h_micros".cast("bigint").as("entropy_micronats"),
          expr("CAST(CAST(h_micros AS DECIMAL(38,0)) * tot div allm" +
            " AS BIGINT)").as("weighted_micronats"))
        .orderBy($"from_t")
    },
    // per-from-state Shannon entropy in micro-nats from exact
    // transition counts, weighted by from-state mass
    Oracle("""WITH tr AS (SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS next
        |  FROM events),
        |c AS (SELECT event_type AS from_t, next AS to_t,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM tr WHERE next IS NOT NULL GROUP BY 1, 2),
        |bf AS (SELECT from_t, CAST(sum(c) AS BIGINT) AS tot FROM c
        |  GROUP BY 1),
        |term AS (SELECT c.from_t, bf.tot,
        |    CAST(round(CAST(c.c AS DOUBLE) / CAST(bf.tot AS DOUBLE)
        |      * ln(CAST(bf.tot AS DOUBLE) / CAST(c.c AS DOUBLE))
        |      * 1000000) AS BIGINT) AS tq
        |  FROM c JOIN bf USING (from_t)),
        |ent AS (SELECT from_t, CAST(max(tot) AS BIGINT) AS tot,
        |    CAST(sum(tq) AS BIGINT) AS h FROM term GROUP BY 1),
        |al AS (SELECT CAST(sum(tot) AS BIGINT) AS allm FROM ent)
        |SELECT from_t, tot AS n_transitions, h AS entropy_micronats,
        |  CAST((CAST(h AS HUGEINT) * tot) // allm AS BIGINT)
        |    AS weighted_micronats
        |FROM ent, al ORDER BY from_t""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("growth_accounting", (s, dir) => {
      import s.implicits._
      // Monthly growth accounting of customers by order activity over
      // the 80-month span: new/retained/resurrected per active month,
      // churn attributed to the month a customer went dark — calendar
      // arithmetic only, replays exactly.
      EventStreams.growthAccounting(Tables.orders(s, dir),
        "o_custkey", "o_orderdate")
    },
    // calendar-month lag/lead classification; churn joined onto the
    // active grid — all date arithmetic, no epoch math
    Oracle("""WITH um AS (SELECT DISTINCT o_custkey AS u,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m
        |  FROM orders),
        |l AS (SELECT u, m,
        |    lag(m) OVER (PARTITION BY u ORDER BY m) AS prev,
        |    lead(m) OVER (PARTITION BY u ORDER BY m) AS next FROM um),
        |mx AS (SELECT max(m) AS maxm FROM um),
        |act AS (SELECT m,
        |    CASE WHEN prev IS NULL THEN 'new'
        |         WHEN CAST(prev + INTERVAL 1 MONTH AS DATE) = m
        |           THEN 'retained'
        |         ELSE 'resurrected' END AS st FROM l),
        |ch AS (SELECT CAST(m + INTERVAL 1 MONTH AS DATE) AS m,
        |    count(*) AS n_churned FROM l, mx
        |  WHERE CAST(m + INTERVAL 1 MONTH AS DATE) <= maxm
        |    AND (next IS NULL OR next <> CAST(m + INTERVAL 1 MONTH AS DATE))
        |  GROUP BY 1),
        |a AS (SELECT m,
        |    CAST(sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM act GROUP BY 1)
        |SELECT coalesce(a.m, ch.m) AS month,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
        |FROM a FULL JOIN ch ON ch.m = a.m ORDER BY month""".stripMargin),
    bench = true),

    QuerySpec("evt_incidents", (s, dir) => {
      import s.implicits._
      // Alarm-fatigue control: hours where volume exceeds 2x the
      // type's median are ALARMS; consecutive alarm hours within a
      // 2-hour cooldown merge into INCIDENTS (gaps-and-islands) —
      // the page-once-per-episode shape every on-call pipeline needs.
      // Exact: integer thresholds (percentile_disc = actual data
      // values), island ids by running sum over a keyed window.
      import org.apache.spark.sql.expressions.Window
      val hc = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("x"))
      val med = hc.groupBy($"event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .as("__med"))
      val w = Window.partitionBy($"event_type").orderBy($"hour")
      val alarms = hc.join(broadcast(med), Seq("event_type"))
        .filter($"x" > lit(2L) * $"__med")
        .withColumn("__sec", unix_timestamp($"hour"))
        .withColumn("__newi",
          when(($"__sec" - lag($"__sec", 1).over(w)) <= 7200L, 0L)
            .otherwise(1L))
        .withColumn("incident_id", sum($"__newi").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      alarms.groupBy($"event_type", $"incident_id")
        .agg(min($"hour").as("incident_start"),
          max($"hour").as("incident_end"),
          count(lit(1)).cast("bigint").as("n_alarm_hours"),
          max($"x").cast("bigint").as("peak_hourly"))
        .orderBy($"event_type", $"incident_id")
    },
    // per-type integer thresholds (quantile_disc), islands by running
    // sum over the lag gap test — every step integer-exact
    Oracle("""WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type,
        |    CAST(quantile_disc(x, 0.5) AS BIGINT) AS med
        |  FROM hc GROUP BY 1),
        |al AS (SELECT hc.event_type, hc.hour, hc.x,
        |    CAST(floor(epoch(hc.hour)) AS BIGINT) AS sec
        |  FROM hc JOIN med ON med.event_type = hc.event_type
        |  WHERE hc.x > 2 * med.med),
        |isl AS (SELECT event_type, hour, x,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY event_type
        |      ORDER BY hour) <= 7200 THEN 0 ELSE 1 END AS newi
        |  FROM al),
        |ids AS (SELECT event_type, hour, x,
        |    sum(newi) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS incident_id
        |  FROM isl)
        |SELECT event_type, CAST(incident_id AS BIGINT) AS incident_id,
        |  min(hour) AS incident_start, max(hour) AS incident_end,
        |  CAST(count(*) AS BIGINT) AS n_alarm_hours,
        |  CAST(max(x) AS BIGINT) AS peak_hourly
        |FROM ids GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true),

    QuerySpec("evt_incidents_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for STREAMING incident grouping: the
      // replaySealed protocol (in-window redelivery before the flush
      // sentinel, sealed redelivery after) over the hourly
      // count series, with SEALED per-type median thresholds (the
      // frozen-reference stance — a live monitor can't threshold on
      // a median it hasn't finished seeing). Identity is exact
      // integer equality through the shared fold. GATE-ONLY collect
      // (hour-scale series + a 5-row threshold table).
      val hc = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true)
      val medMap = hc.groupBy($"event_type")
        .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
          + " AS BIGINT)").as("__med"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val evs = hc.collect().map(r => EventStreams.Event(
        r.getTimestamp(1).getTime / 1000L, r.getTimestamp(1),
        0L, r.getString(0), r.getLong(2).toDouble)).toSeq
      val cols = Seq("event_type", "hour", "x", "incident_id")
      val stream = replaySealed(s, dir, "incidents", evs, flushHours = 3L)(
          EventStreams.incidentsStateful(_, medMap, 7200L))
        .select(cols.map(col): _*)
      val batch = EventStreams.incidentHours(evs.toDS(), medMap, 7200L)
        .toDF().select(cols.map(col): _*)
      stream.agg(count(lit(1)).cast("bigint").as("n_alarm_hours"))
        .crossJoin(stream.select($"event_type", $"incident_id")
          .distinct().agg(count(lit(1)).cast("bigint").as("n_incidents")))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.agg((count(lit(1)) > 0).as("found_incidents")))
    },
    // the alarm-hour and incident counts restated independently from
    // the hourly series + sealed medians; the identity booleans are
    // computed Spark-side
    Oracle("""WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type,
        |    CAST(quantile_disc(x, 0.5) AS BIGINT) AS m
        |  FROM hc GROUP BY 1),
        |al AS (SELECT hc.event_type, hc.hour, hc.x
        |  FROM hc JOIN med USING (event_type) WHERE hc.x > 2 * med.m),
        |ni AS (SELECT event_type, hour,
        |    CASE WHEN CAST(floor(epoch(hour)) AS BIGINT)
        |        - lag(CAST(floor(epoch(hour)) AS BIGINT)) OVER (
        |          PARTITION BY event_type ORDER BY hour) <= 7200
        |      THEN 0 ELSE 1 END AS nw
        |  FROM al)
        |SELECT CAST(count(*) AS BIGINT) AS n_alarm_hours,
        |  CAST(sum(nw) AS BIGINT) AS n_incidents,
        |  TRUE AS stream_equals_batch, TRUE AS found_incidents
        |FROM ni""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_bot_screen", (s, dir) => {
      import s.implicits._
      // Bot/automation screen: the 50 MOST-REGULAR active users by
      // interarrival coefficient of variation — humans are bursty
      // (CV near or above 1), schedulers are metronomes (CV near 0);
      // rate alone can't tell a power user from a cron job, cadence
      // regularity can. Exact integer gap moments per user, one
      // mirrored sqrt tree, TakeOrdered cut.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val d = Tables.events(s, dir)
        .withColumn("__sec", unix_timestamp($"ts"))
        .withColumn("__dt", $"__sec" - lag($"__sec", 1).over(w))
        .filter($"__dt".isNotNull)
      import graft.operators.Moments
      val aggs = Moments.sums("n", Seq("s" -> $"__dt"),
        Seq(("q", $"__dt", $"__dt")))
      val m = d.groupBy($"user_id")
        .agg(aggs.head, aggs.tail: _*)
        .filter($"n" >= 30L && $"s" > 0)
      val cv = sqrt(Moments.sampleVar($"n", $"s", $"q")) /
        Moments.mean($"s", $"n")
      m.select($"user_id", $"n".cast("bigint").as("n_gaps"),
          expr("CAST(s * 1000 div n AS BIGINT)").as("mean_gap_ms"),
          round(cv * 1e6).cast("long").as("cv_ppm"))
        .orderBy($"cv_ppm", $"user_id").limit(50)
    },
    // exact integer gap moments per user; cv through one mirrored
    // sqrt tree; truncating mean; deterministic TakeOrdered cut
    Oracle("""WITH t AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT)
        |    AS sec, ts, event_id FROM events),
        |d AS (SELECT user_id, sec - lag(sec) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS dt FROM t),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(dt AS HUGEINT)) AS s,
        |    sum(CAST(dt AS HUGEINT) * dt) AS q
        |  FROM d WHERE dt IS NOT NULL GROUP BY 1),
        |c AS (SELECT user_id, n, s,
        |    sqrt(CAST(n * q - s * s AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))
        |      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cv
        |  FROM m WHERE n >= 30 AND s > 0)
        |SELECT user_id, n AS n_gaps,
        |  CAST((s * 1000) // n AS BIGINT) AS mean_gap_ms,
        |  CAST(round(cv * 1000000) AS BIGINT) AS cv_ppm
        |FROM c ORDER BY cv_ppm, user_id LIMIT 50""".stripMargin),
    bench = true),

    QuerySpec("evt_interarrival", (s, dir) => {
      import s.implicits._
      // Per-type user cadence: inter-arrival gaps within each user's
      // stream of one event type (user-keyed window — parallel), then
      // per-type exact rank statistics of the gap in whole seconds
      // (percentile_disc = actual data values, engine-exact).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val gaps = Tables.events(s, dir)
        .withColumn("__prev", lag($"ts", 1).over(w))
        .filter($"__prev".isNotNull)
        .select($"event_type",
          (unix_timestamp($"ts") - unix_timestamp($"__prev")).as("gap_s"))
      gaps.groupBy($"event_type")
        .agg(count(lit(1)).cast("bigint").as("n_gaps"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s)")
            .cast("bigint").as("median_gap_s"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_s)")
            .cast("bigint").as("p90_gap_s"))
        .orderBy($"event_type")
    },
    // (ts, event_id) gap order is total; quantile_disc == Spark's
    // percentile_disc on integer seconds
    Oracle("""WITH g AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(lag(ts) OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id))) AS BIGINT) AS gap_s
        |  FROM events),
        |f AS (SELECT event_type, CAST(gap_s AS BIGINT) AS gap_s
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(quantile_disc(gap_s, 0.5) AS BIGINT) AS median_gap_s,
        |  CAST(quantile_disc(gap_s, 0.9) AS BIGINT) AS p90_gap_s
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("evt_set_completion", (s, dir) => {
      import s.implicits._
      // ANY-ORDER completion: did the user perform ALL of
      // {view, click, purchase} with first occurrences spanning at
      // most 6 hours? The unordered twin of the prescribed-order
      // funnel (real journeys reorder steps); per-user first-ts per
      // type + a greatest-least span test — exact timestamps, one
      // user-keyed aggregate. Output: per-cohort counts.
      val ev = Tables.events(s, dir)
      val firsts = ev.filter($"event_type".isin("view", "click", "purchase"))
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ts")).as("t_view"),
          min(when($"event_type" === "click", $"ts")).as("t_click"),
          min(when($"event_type" === "purchase", $"ts")).as("t_purchase"))
      firsts
        .withColumn("all_steps", $"t_view".isNotNull &&
          $"t_click".isNotNull && $"t_purchase".isNotNull)
        .withColumn("completed", $"all_steps" &&
          greatest($"t_view", $"t_click", $"t_purchase") <=
            least($"t_view", $"t_click", $"t_purchase") +
              expr("INTERVAL 21600 SECONDS"))
        .agg(count(lit(1)).cast("bigint").as("n_users"),
          sum(when($"all_steps", 1L).otherwise(0L)).cast("bigint")
            .as("n_all_steps"),
          sum(when($"completed", 1L).otherwise(0L)).cast("bigint")
            .as("n_completed_in_window"))
    },
    // any-order first-occurrence span test; Kleene false-AND-null
    // keeps incomplete users out of the window count in both engines
    Oracle("""WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1),
        |c AS (SELECT
        |    (tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL)
        |      AS all_steps,
        |    (tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL AND
        |     greatest(tv, tc, tp) <=
        |       least(tv, tc, tp) + INTERVAL 21600 SECONDS) AS completed
        |  FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN all_steps THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_all_steps,
        |  CAST(sum(CASE WHEN completed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_completed_in_window
        |FROM c""".stripMargin),
    bench = true),

    QuerySpec("evt_funnel_windowed", (s, dir) => {
      import s.implicits._
      // Entry-anchored time-bounded funnel: later stages must land
      // within 6 hours of the user's first view — the deadline real
      // funnel products enforce; same replayable min-chain.
      EventStreams.funnelWindowed(Tables.events(s, dir),
          Seq("view", "click", "purchase"), windowSeconds = 21600L)
        .toDF("user_id", "t_view", "t_click", "t_purchase")
        .orderBy($"user_id")
    },
    // the windowed min-chain adds one entry-anchored deadline
    // predicate per stage
    Oracle("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t_view
        |    AND e.ts <= s1.t_view + INTERVAL 21600 SECONDS
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
        |    AND e.ts <= s1.t_view + INTERVAL 21600 SECONDS
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, t_view, t_click, t_purchase
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin),
    bench = true),

    QuerySpec("evt_attribution", (s, dir) => {
      import s.implicits._
      // Multi-touch attribution of purchases to view/click/signup
      // touches in a 6-hour lookback — first/last/linear credited in
      // integer micro-units (linear's remainder goes to the last
      // touch, so per-conversion credit sums to exactly 10^6 and
      // every total replays in DuckDB).
      EventStreams.attribution(Tables.events(s, dir),
        Seq("view", "click", "signup"), "purchase",
        lookbackSeconds = 21600L)
    },
    // per-conversion micro-credits replay exactly: deterministic
    // (ts, event_id) touch order, integer div/mod linear split with
    // the remainder on the last touch
    Oracle("""WITH conv AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, ts AS touch_ts,
        |    event_id AS touch_id FROM events
        |  WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (SELECT conv.conv_id, t.channel, t.touch_ts, t.touch_id
        |  FROM conv JOIN t USING (user_id)
        |  WHERE t.touch_ts <= conv.conv_ts
        |    AND t.touch_ts > conv.conv_ts - INTERVAL 21600 SECONDS),
        |r AS (SELECT channel,
        |    count(*) OVER (PARTITION BY conv_id) AS k,
        |    row_number() OVER (PARTITION BY conv_id
        |      ORDER BY touch_ts, touch_id) AS rn
        |  FROM j)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1000000 ELSE 0 END) AS BIGINT)
        |    AS first_micros,
        |  CAST(sum(CASE WHEN rn = k THEN 1000000 ELSE 0 END) AS BIGINT)
        |    AS last_micros,
        |  CAST(sum(1000000 // k +
        |    CASE WHEN rn = k THEN 1000000 % k ELSE 0 END) AS BIGINT)
        |    AS linear_micros
        |FROM r GROUP BY channel ORDER BY channel""".stripMargin),
    bench = true),

    QuerySpec("evt_markov_attribution", (s, dir) => {
      import s.implicits._
      // Data-driven attribution: first-order journey chain, per-channel
      // removal effects + shares normalized to exactly 10^6. The
      // absorbing-chain solve has no SQL form — raw dump graded
      // rows-only, honesty carried by evt_markov_attribution_gate.
      EventStreams.markovAttribution(Tables.events(s, dir),
          Seq("view", "click", "signup"), "purchase")
        .orderBy($"channel")
    },
    Gate("evt_markov_attribution_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("evt_markov_attribution_gate", (s, dir) => {
      import s.implicits._
      // Deterministic companion for the Markov solve: channel set,
      // exact 10^6 share normalization, effects in range, and a
      // rerun-identity check (fixed state order + fixed pivoting =>
      // the solve is a pure function of the corpus).
      val run1 = EventStreams.markovAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup"), "purchase").cache()
      val run2 = EventStreams.markovAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup"), "purchase")
      run1.agg(count(lit(1)).cast("bigint").as("n_channels"),
          sum($"share_micros").cast("bigint").as("share_sum"),
          (min($"removal_effect_micros") >= 0L &&
            max($"removal_effect_micros") <= 1000000L).as("effects_in_range"))
        .crossJoin(setsEqual(run1, run2,
          Seq("channel", "n_visits", "removal_effect_micros",
            "share_micros"), "deterministic"))
    },
    Oracle("""SELECT CAST(3 AS BIGINT) AS n_channels,
        |  CAST(1000000 AS BIGINT) AS share_sum,
        |  TRUE AS effects_in_range, TRUE AS deterministic""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_attribution_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming attribution under the
      // replaySealed protocol: a slice REDELIVERS while still above
      // the watermark (the buffer must absorb it by event_id); a
      // far-future sentinel seals every conversion; a different slice
      // redelivers after the seal (dropped as stragglers). The sealed
      // per-channel credit totals must equal the batch twin EXACTLY —
      // same integer div/mod arithmetic, same (ts, event_id) touch
      // order. GATE-ONLY collect, same posture as evt_anomaly_replay.
      val evs = typedEvents(s, dir).collect().toSeq
      // the 9-hour flush clears the 2-hour watermark plus the 6-hour
      // lookback, sealing every conversion
      val stream = replaySealed(s, dir, "attrib", evs, flushHours = 9L)(
          EventStreams.attributionStateful(_,
            Seq("view", "click", "signup"), "purchase",
            lookbackSeconds = 21600L))
        .groupBy($"channel")
        .agg(count(lit(1)).cast("bigint").as("n_touches"),
          sum($"first_micros").cast("bigint").as("first_micros"),
          sum($"last_micros").cast("bigint").as("last_micros"),
          sum($"linear_micros").cast("bigint").as("linear_micros"))
      val batch = EventStreams.attribution(Tables.events(s, dir),
        Seq("view", "click", "signup"), "purchase",
        lookbackSeconds = 21600L)
      stream.agg((count(lit(1)) > 0).as("nonempty"))
        .crossJoin(setsEqual(stream, batch,
          Seq("channel", "n_touches", "first_micros", "last_micros",
            "linear_micros"), "stream_equals_batch"))
    },
    // stream == batch identity pinned in-plan; booleans only
    Oracle("SELECT true AS nonempty, true AS stream_equals_batch"),
    eagerBuild = true),

    QuerySpec("evt_funnel_stateful_replay", (s, dir) => {
      import s.implicits._
      // Driver-graded gate for the STREAMING funnel
      // (EventStreams.funnelStateful, previously spec-tested only):
      // feed the whole events table through a MemoryStream, advance
      // the watermark past every horizon with a far-future sentinel,
      // and emit the sealed rows. The 90-day horizon exceeds the
      // data's 30-day span, so every user is a single episode and the
      // sealed output must equal the batch min-chain funnel, which
      // the oracle replays in SQL. GATE-ONLY collect: bounded test
      // data feeding the in-memory source — production streams arrive
      // from a real source, never via collect.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = typedEvents(s, dir).collect().toSeq
      val sink = s"funnel_replay_${math.abs(dir.hashCode)}"
      s.catalog.dropTempView(sink)
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.funnelStateful(mem.toDS(),
          Seq("view", "click", "purchase"),
          horizonSeconds = 90L * 24 * 3600, watermark = "1 second")
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      try {
        mem.addData(evs)
        q.processAllAvailable()
        // sentinel from an unrelated user: wm -> 2035, sealing all
        mem.addData(EventStreams.Event(-1L,
          java.sql.Timestamp.valueOf("2035-01-01 00:00:00"), -1L, "view", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink).filter($"user_id" >= 0)
        .select($"user_id",
          $"steps_completed".cast("bigint").as("steps_completed"),
          $"first_step_ts")
        .orderBy($"user_id")
    },
    // the streaming funnel's sealed output == the batch min-chain (the
    // 90-day horizon covers the 30-day data span; first_step_ts is
    // ms-precision — java.sql.Timestamp.getTime — so truncate)
    Oracle("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CAST(1 + CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS steps_completed,
        |  date_trunc('milliseconds', s1.t1) AS first_step_ts
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_dedup_replay", (s, dir) => {
      import s.implicits._
      // Driver-graded gate for streaming stateful dedup
      // (EventStreams.dedupWithinWatermark, previously spec-tested
      // only): feed the events table through a MemoryStream, then
      // REDELIVER a tenth of it in a second micro-batch — the
      // at-least-once source behavior the operator exists to absorb.
      // Append-mode dropDuplicates emits each event_id exactly once,
      // so the sink must equal the batch table itself (event_id is
      // unique in the testdata), which the oracle states directly.
      // GATE-ONLY collect: bounded test data feeding the in-memory
      // source, same posture as evt_funnel_stateful_replay.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = typedEvents(s, dir).collect().toSeq
      val redelivered = evs.filter(_.event_id % 10 == 3)
      val sink = s"dedup_replay_${math.abs(dir.hashCode)}"
      s.catalog.dropTempView(sink)
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.dedupWithinWatermark(mem.toDS().toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      try {
        mem.addData(evs)
        q.processAllAvailable()
        mem.addData(redelivered) // at-least-once redelivery
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
        .select($"event_id", $"user_id", $"event_type",
          round($"value" * 100).cast("long").as("cents"))
        .orderBy($"event_id")
    },
    // the deduped stream equals the batch table itself: event_id is
    // unique in the testdata, so the redelivered tenth must vanish
    Oracle("""SELECT event_id, user_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_anomaly_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming EWMA anomaly scoring under
      // the replaySealed protocol: a tenth is REDELIVERED while its
      // events are still ABOVE the watermark (in-window duplicates —
      // the buffer must absorb them by event_id, not fold both
      // copies); then a far-future flush sentinel advances the
      // watermark to seal every corpus event, and a DIFFERENT tenth
      // is redelivered after the seal (sealed events are the fold's
      // past). Both redeliveries must be no-ops and the sink must
      // equal the batch twin BIT-FOR-BIT (same shared fold, same
      // (ts, event_id) order ⇒ identical IEEE doubles, compared at
      // micro-z quantization). GATE-ONLY collect, same posture as
      // evt_dedup_replay.
      def canon(df: DataFrame) = df.select($"event_id",
        round($"zscore" * 1e6).cast("long").as("z_micros"), $"is_anomaly")
      val stream = canon(replaySealed(s, dir, "anomaly",
        typedEvents(s, dir).collect().toSeq, flushHours = 3L)(
        EventStreams.ewmaAnomaliesStateful(_)))
      val batch = canon(
        EventStreams.ewmaAnomalies(typedEvents(s, dir)).toDF())
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch,
          Seq("event_id", "z_micros", "is_anomaly"), "stream_equals_batch"))
        .crossJoin(stream.filter($"is_anomaly")
          .agg((count(lit(1)) > 0).as("found_anomalies")))
    },
    // stream == batch identity + deterministic scored count; the EWMA
    // recurrence itself has no tractable SQL form (sequential fold) —
    // the oracle pins the counts and the contracts that must hold
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS found_anomalies
        |FROM events""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_cusum_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming CUSUM: the replaySealed
      // protocol (in-window redelivery BEFORE the flush
      // sentinel, sealed redelivery after), but the identity is pure
      // integer equality — the shared fold is long add/max, no IEEE
      // argument needed. Target sits below the corpus mean so the
      // positive accumulator genuinely alarms. GATE-ONLY collect.
      val (target, slack, thr) = (45000000L, 1000000L, 200000000L)
      val cols = Seq("event_id", "value_micros", "cusum_pos_micros",
        "cusum_neg_micros", "alarm")
      val stream = replaySealed(s, dir, "cusum",
          typedEvents(s, dir).collect().toSeq, flushHours = 3L)(
          EventStreams.cusumStateful(_, target, slack, thr))
        .select(cols.map(col): _*)
      val batch = EventStreams.cusumEvents(typedEvents(s, dir), target,
        slack, thr).toDF().select(cols.map(col): _*)
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.filter($"alarm")
          .agg((count(lit(1)) > 0).as("found_alarms")))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS found_alarms
        |FROM events""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_holt_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming Holt residuals: the
      // replaySealed protocol (in-window redelivery before the
      // flush sentinel, sealed redelivery after); identity is exact
      // integer equality through the shared fold. GATE-ONLY collect.
      val cols = Seq("event_id", "value_micros", "forecast_micros",
        "residual_micros")
      val stream = replaySealed(s, dir, "holt",
          typedEvents(s, dir).collect().toSeq, flushHours = 3L)(
          EventStreams.holtStateful(_))
        .select(cols.map(col): _*)
      val batch = EventStreams.holtResiduals(typedEvents(s, dir)).toDF()
        .select(cols.map(col): _*)
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.agg((coalesce(sum(when($"residual_micros" =!= 0L,
          1L).otherwise(0L)), lit(0L)) > 0L).as("residuals_nonzero")))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS residuals_nonzero
        |FROM events""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_ewm_vol_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming EWMA volatility: the
      // replaySealed protocol (in-window duplicate
      // tenth before the flush sentinel, sealed redelivery after);
      // identity is exact through the shared integer fold plus one
      // mirrored sqrt. GATE-ONLY collect.
      val cols = Seq("event_id", "x", "ret", "var_micros",
        "sigma_micros")
      val stream = replaySealed(s, dir, "ewm_vol",
          typedEvents(s, dir).collect().toSeq, flushHours = 3L)(
          EventStreams.ewmVolStateful(_))
        .select(cols.map(col): _*)
      val batch = EventStreams.ewmVolResiduals(typedEvents(s, dir)).toDF()
        .select(cols.map(col): _*)
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.agg((coalesce(sum(when($"var_micros" =!= 0L,
          1L).otherwise(0L)), lit(0L)) > 0L).as("variance_nonzero")))
    },
    // replay identity restated: every event scored once, booleans
    // pinned — the count is the oracle's independent restatement
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS variance_nonzero
        |FROM events""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_kalman_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for streaming Kalman local-level
      // filtering — the graded batch-replay twin every stateful op
      // carries: the replaySealed protocol (in-window duplicate
      // tenth before the flush sentinel, sealed
      // redelivery after); identity is exact through the shared pure-
      // integer fold. GATE-ONLY collect.
      val cols = Seq("event_id", "x", "innovation", "gain_ppm",
        "level", "p_var")
      val stream = replaySealed(s, dir, "kalman",
          typedEvents(s, dir).collect().toSeq, flushHours = 3L)(
          EventStreams.kalmanStateful(_))
        .select(cols.map(col): _*)
      val batch = EventStreams.kalmanResiduals(typedEvents(s, dir)).toDF()
        .select(cols.map(col): _*)
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.agg((coalesce(sum(when($"gain_ppm" =!= 0L,
          1L).otherwise(0L)), lit(0L)) > 0L).as("gain_nonzero")))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS gain_nonzero
        |FROM events""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_kalman_gaps_replay", (s, dir) => {
      import s.implicits._
      // Replay-identity gate for the streaming GAP-AWARE Kalman
      // filter: hourly per-type counts with a deterministic seventh
      // of the hours dropped (hour-index % 7 == 3, the ts_kalman_gaps
      // fixture) stream through kalmanGapsStateful — silent grid
      // points emit predict-only rows on event-time timeout, variance
      // growing online — under the replaySealed protocol
      // (in-window duplicate tenth before the flush sentinel, sealed
      // redelivery after). Sealed rows through each key's last
      // observation must equal the batch twin EXACTLY, gap rows
      // included (NULL innovation/gain coalesced to a sentinel for
      // the set compare — full-outer join keys never match on NULL).
      // GATE-ONLY collect (hourly cadence, group-scale).
      val hourlyDf = Tables.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).cast("double").as("value"))
        .withColumn("hid", expr("unix_timestamp(hour) div 3600"))
        .filter($"hid" % 7 =!= 3)
        .select($"hid".as("event_id"), $"hour".as("ts"),
          lit(0L).as("user_id"), $"event_type", $"value")
      val streamed = replaySealed(s, dir, "kalman_gaps",
        hourlyDf.as[EventStreams.Event].collect().toSeq, flushHours = 3L)(
        EventStreams.kalmanGapsStateful(_))
      // compare through each key's LAST OBSERVATION: past it the
      // stream honestly keeps predicting (no online operator can know
      // an observation was the last), which the batch form by design
      // does not emit
      val lastObs = hourlyDf.groupBy($"event_type")
        .agg(max($"ts").as("__last"))
      def cmp(df: DataFrame): DataFrame = df
        .join(broadcast(lastObs), "event_type")
        .filter($"ts" <= $"__last")
        .select($"event_type", unix_timestamp($"ts").as("o"),
          $"observed", $"event_id",
          coalesce($"x", lit(Long.MinValue)).as("x"),
          coalesce($"innovation", lit(Long.MinValue)).as("innovation"),
          coalesce($"gain_ppm", lit(Long.MinValue)).as("gain_ppm"),
          $"level", $"p_var")
      val cols = Seq("event_type", "o", "observed", "event_id", "x",
        "innovation", "gain_ppm", "level", "p_var")
      val stream = cmp(streamed)
      val batch = cmp(EventStreams.kalmanGapsResiduals(
        hourlyDf.as[EventStreams.Event]).toDF())
      stream.agg(count(lit(1)).cast("bigint").as("n_scored"))
        .crossJoin(setsEqual(stream, batch, cols, "stream_equals_batch"))
        .crossJoin(stream.agg((coalesce(sum(when(!$"observed", 1L)
          .otherwise(0L)), lit(0L)) > 0L).as("gaps_emitted")))
    },
    // the compared row count is one per grid point from each type's
    // first to last KEPT hour (a seventh dropped), restated from raw
    // events; booleans pinned
    Oracle("""WITH c AS (SELECT event_type AS k, date_trunc('hour', ts) AS h
        |  FROM events GROUP BY 1, 2),
        |obs AS (SELECT k, CAST(floor(epoch(h)) AS BIGINT) AS o FROM c
        |  WHERE (CAST(floor(epoch(h)) AS BIGINT) // 3600) % 7 <> 3),
        |kk AS (SELECT k, min(o) AS lo, max(o) AS hi FROM obs
        |  GROUP BY 1)
        |SELECT CAST(sum((hi - lo) // 3600 + 1) AS BIGINT) AS n_scored,
        |  TRUE AS stream_equals_batch, TRUE AS gaps_emitted
        |FROM kk""".stripMargin),
    eagerBuild = true),

    QuerySpec("evt_audited_sink", (s, dir) => {
      import s.implicits._
      // Driver-graded gate for the audited streaming sink
      // (AuditedSink.publishBatch, the foreachBatch core): three
      // deterministic micro-batches — clean, POISONED (NULL user_ids
      // appended), clean — then BOTH a committed and the quarantined
      // batch are REDELIVERED (restart semantics). Contracts: the
      // committed read is exactly the two clean batches (oracle
      // closed form over events), the poison never reaches readers,
      // and both redeliveries are settled no-ops.
      val base = tmpPath("asink", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // stale prior runs
      val ev = Tables.events(s, dir).select($"event_id", $"user_id", $"value")
      val rules = Seq(Quality.Expectation.notNull("user_id"),
        Quality.Expectation.notNull("event_id"))
      def b(i: Int) = ev.filter(pmod($"event_id", lit(3)) === i)
      val poisoned = b(1).unionByName(b(1).limit(7)
        .select(($"event_id" + 1000000000L).as("event_id"),
          lit(null).cast("bigint").as("user_id"), $"value"))
      import graft.streaming.AuditedSink
      val r0 = AuditedSink.publishBatch(b(0), base, 0L, rules)
      val r1 = AuditedSink.publishBatch(poisoned, base, 1L, rules)
      val r2 = AuditedSink.publishBatch(b(2), base, 2L, rules)
      val r0b = AuditedSink.publishBatch(b(0), base, 0L, rules)   // redelivery
      val r1b = AuditedSink.publishBatch(poisoned, base, 1L, rules) // redelivery
      AuditedSink.readCommitted(s, base)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"value" * 100).cast("long")).cast("bigint").as("cents"))
        .select($"n_rows", $"cents",
          lit(r0 == "published" && r2 == "published").as("clean_published"),
          lit(r1 == "quarantined").as("poison_quarantined"),
          lit(r0b == "replayed" && r1b == "replayed").as("replays_skipped"))
    },
    // audited sink: committed rows are exactly the two CLEAN batches;
    // the poisoned batch and both redeliveries leave no trace
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS clean_published, true AS poison_quarantined,
        |  true AS replays_skipped
        |FROM events WHERE event_id % 3 <> 1""".stripMargin),
    eagerBuild = true),
  )
}
