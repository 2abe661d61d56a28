package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared.revenue

/** TPC-H queries (Q1-Q22) and their `spark.sql` text-surface twins. */
object TpchQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q1_agg", (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          revenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Oracle("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    bench = true),

    QuerySpec("q3_shipping", (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey", $"o_orderdate")
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), $"o_orderkey")
        .limit(10)
    },
    Oracle("""SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    bench = true),

    QuerySpec("q4_priority", (s, dir) => {
      import s.implicits._
      // TPC-H Q4 adapted to this schema (no commitdate/receiptdate):
      // count orders per priority having at least one line item
      // shipped > 30 days after the order date — the EXISTS shape,
      // planned as a left-semi join (equi key + non-equi residual),
      // so the fact side dedups in the join, never via distinct.
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          $"o_orderkey" === $"l_orderkey" &&
            $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("order_count"))
        .orderBy($"o_orderpriority")
    },
    Oracle("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("q10_returns", (s, dir) => {
      import s.implicits._
      // TPC-H Q10 shape: revenue lost to returned items per customer,
      // top 20. Customer dim broadcasts; the orders⋈lineitem join
      // shuffles once on the order key.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, dir).filter($"l_returnflag" === "R"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"c_custkey", $"c_name")
        .agg(revenue.as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    },
    Oracle("""SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    bench = true),

    QuerySpec("q5_region_revenue", (s, dir) => {
      import s.implicits._
      // Dim side (region⋈nation⋈customer) is small → broadcast;
      // fact side joins without shuffling the dims at scale.
      val dims = Tables.customer(s, dir)
        .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
        .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(dims), $"o_custkey" === $"c_custkey")
        .groupBy($"r_name", $"n_name")
        .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    },
    Oracle("""SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),
    bench = true),

    QuerySpec("q7_volume_shipping", (s, dir) => {
      import s.implicits._
      // TPC-H Q7 shape: bilateral shipping volume between two nations
      // by ship year. Both nation-resolved dims are PRE-FILTERED to
      // the two nations BEFORE the broadcast joins, so ~(23/25) of the
      // fact rows die at the (broadcast) join probe instead of in a
      // post-join filter; only the same-nation residual evaluates
      // after. Two aliased reads of `nation` play TPC-H's n1/n2.
      val pair = Seq("NATION_1", "NATION_2")
      val supp = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir).filter($"n_name".isin(pair: _*)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(Tables.nation(s, dir).filter($"n_name".isin(pair: _*)),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .filter($"supp_nation" =!= $"cust_nation")
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").as("l_year"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },
    Oracle("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),
    bench = true),

    QuerySpec("q8_market_share", (s, dir) => {
      import s.implicits._
      // TPC-H Q8 shape: one nation's share of PROMO-part revenue to
      // ASIA customers, per order year. Part filter prunes to the
      // p_partkey column only (the probe needs nothing else); every
      // dim broadcasts; the share is ONE IEEE division of two exact
      // DECIMAL sums (the q14 convention — no round()).
      val rev = ($"l_extendedprice" * (lit(1.0d) - $"l_discount"))
        .cast("decimal(24,8)")
      val promoParts = Tables.part(s, dir)
        .filter($"p_type" === "PROMO").select($"p_partkey")
      val suppNation = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val asiaCust = Tables.customer(s, dir)
        .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
        .join(Tables.region(s, dir).filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey")
      Tables.lineitem(s, dir)
        .join(broadcast(promoParts), $"l_partkey" === $"p_partkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey")
        .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
        .groupBy(year($"o_orderdate").as("o_year"))
        .agg(
          sum(when($"supp_nation" === "NATION_3", rev)
            .otherwise(lit(0).cast("decimal(24,8)"))).as("nat_dec"),
          sum(rev).as("tot_dec"))
        .select($"o_year",
          ($"nat_dec".cast("double") / $"tot_dec".cast("double"))
            .as("mkt_share"))
        .orderBy($"o_year")
    },
    Oracle("""WITH j AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8)) AS rev,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |         ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE) AS mkt_share
        |FROM j
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),
    bench = true),

    QuerySpec("q13_custdist", (s, dir) => {
      import s.implicits._
      // TPC-H Q13: distribution of per-customer order counts with the
      // order predicate INSIDE the outer-join condition — customers
      // whose orders all fail it still count, at zero. Two cascaded
      // aggregations; the second one's input is |customer| rows of two
      // ints, so its shuffle is trivial at any scale.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter($"o_orderpriority" =!= "1-URGENT")
            .select($"o_custkey", $"o_orderkey"),
          $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },
    Oracle("""SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    bench = true),

    QuerySpec("q19_disjunctive", (s, dir) => {
      import s.implicits._
      // TPC-H Q19 shape: OR-of-ANDs spanning both join sides.
      // Catalyst's CNF conversion extracts the per-side implied
      // disjuncts (p_brand IN (...) AND p_size<=50 on part;
      // l_quantity<=30 on lineitem) and pushes them into the scans,
      // so both sides prune BEFORE the broadcast join and only the
      // cross-side residual evaluates after — the plan to want when
      // the disjunction is 1%-selective over 100 TB.
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          $"l_partkey" === $"p_partkey")
        .filter(
          ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) &&
            $"l_quantity".between(1, 11)) ||
          ($"p_brand" === "Brand#12" && $"p_size".between(10, 30) &&
            $"l_quantity".between(10, 20)) ||
          ($"p_brand" === "Brand#23" && $"p_size".between(20, 50) &&
            $"l_quantity".between(20, 30)))
        .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
    },
    Oracle("""SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    bench = true),

    QuerySpec("q21_late_suppliers", (s, dir) => {
      import s.implicits._
      // TPC-H Q21 shape, adapted to this schema (no commit/receipt
      // dates): "late" = shipped >60 days after the order date, on
      // finalized orders. The classic EXISTS / NOT-EXISTS pair of
      // correlated lineitem self-joins is DECORRELATED into ONE
      // per-order aggregate — (distinct suppliers, distinct LATE
      // suppliers) per order — and a late row qualifies iff its order
      // has >1 suppliers but exactly 1 late one (necessarily its
      // own). One keyed aggregation + one join replace two extra
      // shuffles of the full fact table at 100 TB.
      val withOrd = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .filter($"o_orderstatus" === "F")
            .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .withColumn("late",
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
      val perOrder = withOrd.groupBy($"l_orderkey".as("ok"))
        .agg(countDistinct($"l_suppkey").as("n_supps"),
          countDistinct(when($"late", $"l_suppkey")).as("n_late_supps"))
      withOrd.filter($"late")
        .join(perOrder, $"l_orderkey" === $"ok")
        .filter($"n_supps" > 1 && $"n_late_supps" === 1)
        .join(broadcast(Tables.supplier(s, dir)),
          $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(10)
    },
    Oracle("""SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin),
    bench = true),

    QuerySpec("q22_idle_balances", (s, dir) => {
      import s.implicits._
      // TPC-H Q22 shape, adapted (every synthetic customer has
      // orders, so the anti join excludes URGENT-order customers; the
      // phone-prefix grouping becomes the market segment). The
      // above-average test is EXACT decimal cross-multiplication —
      // bal*n > sum(bal) — so no float average can flip a row between
      // engines, and the threshold rides the plan as a LAZY scalar
      // subquery (Dataset.scalar), not a driver-side collect.
      val cust = Tables.customer(s, dir)
      val sn = cust.filter($"c_acctbal" > 0)
        .agg(struct(
          sum($"c_acctbal".cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("n")).as("sn"))
        .scalar()
      cust
        .filter($"c_acctbal".cast("decimal(18,2)") * sn.getField("n") >
          sn.getField("s"))
        .join(Tables.orders(s, dir)
            .filter($"o_orderpriority" === "1-URGENT")
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          sum($"c_acctbal".cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
        .orderBy($"c_mktsegment")
    },
    Oracle("""WITH sn AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c, sn
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    bench = true),

    QuerySpec("q9_profit", (s, dir) => {
      import s.implicits._
      // TPC-H Q9 shape, adapted to this schema (no partsupp: supply
      // cost is proxied by half the part's retail price — the SHAPE
      // is what matters: a name-substring part filter fans through
      // the whole fact table into a (supplier-nation, order-year)
      // profit rollup). Filtered part dim prunes to the two probe
      // columns and broadcasts; per-row profit is identical IEEE
      // double math on both engines, summed as DECIMAL so partition
      // order can't perturb the total.
      val boltParts = Tables.part(s, dir)
        .filter($"p_name".contains("bolt"))
        .select($"p_partkey", $"p_retailprice")
      val suppNation = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(boltParts), $"l_partkey" === $"p_partkey")
        .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
        .groupBy($"nation", year($"o_orderdate").as("o_year"))
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount") -
            $"p_retailprice" * lit(0.5) * $"l_quantity")
            .cast("decimal(24,8)")).cast("double").as("sum_profit"))
        .orderBy($"nation", $"o_year".desc)
    },
    Oracle("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - p_retailprice * 0.5 * l_quantity AS DECIMAL(24,8))) AS DOUBLE)
        |    AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin),
    bench = true),

    QuerySpec("q12_ship_priority", (s, dir) => {
      import s.implicits._
      // TPC-H Q12 shape, adapted (no shipmode/commit/receipt dates:
      // lines bucket by ship DELAY instead of mode — FAST <=30 days,
      // NORMAL <=60, else SLOW). The critical/non-critical CASE-sum
      // pair per bucket is Q12's exact aggregation form; one fact
      // shuffle on the order key, integer day arithmetic on both
      // engines (midnight-NTZ timestamps), nothing float anywhere.
      val delay = datediff($"l_shipdate", $"o_orderdate")
      val critical = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy(when(delay <= 30, "FAST").when(delay <= 60, "NORMAL")
          .otherwise("SLOW").as("delay_bucket"))
        .agg(
          sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy($"delay_bucket")
    },
    Oracle("""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
        |         THEN 'FAST'
        |       WHEN date_diff('day', o_orderdate, l_shipdate) <= 60
        |         THEN 'NORMAL'
        |       ELSE 'SLOW' END AS delay_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("q15_top_supplier", (s, dir) => {
      import s.implicits._
      // TPC-H Q15: revenue view over a 3-month ship window, then the
      // supplier(s) achieving max(total_revenue). The max rides the
      // plan as a LAZY scalar subquery over the (tiny) per-supplier
      // rollup — no driver collect — and the tie-safe equality
      // compares DECIMAL totals, so no float max can disagree
      // between engines; the supplier dim broadcasts for the name.
      val rev0 = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(24,8)")).as("rev_dec"))
      val maxRev = rev0.agg(max($"rev_dec")).scalar()
      rev0.filter($"rev_dec" === maxRev)
        .join(broadcast(Tables.supplier(s, dir)),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name",
          $"rev_dec".cast("double").as("total_revenue"))
        .orderBy($"s_suppkey")
    },
    Oracle("""WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(24,8))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    bench = true),

    QuerySpec("q16_supplier_cnt", (s, dir) => {
      import s.implicits._
      // TPC-H Q16 shape, adapted (no partsupp: lineitem plays the
      // part↔supplier association; the "Customer Complaints" NOT-IN
      // exclusion becomes negative-balance suppliers). Part predicate
      // set (brand<>, type<>, size IN) pushes into a broadcast dim;
      // excluded suppliers are a broadcast LEFT ANTI (the
      // decorrelated NOT IN); countDistinct dedupes the association
      // without a separate distinct pass.
      val parts = Tables.part(s, dir)
        .filter($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(1, 4, 7, 10, 15, 20, 25, 45))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      val badSupp = Tables.supplier(s, dir)
        .filter($"s_acctbal" < 0).select($"s_suppkey")
      Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_suppkey")
        .join(broadcast(parts), $"l_partkey" === $"p_partkey")
        .join(broadcast(badSupp), $"l_suppkey" === $"s_suppkey",
          "left_anti")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    },
    Oracle("""SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 15, 20, 25, 45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    bench = true),

    QuerySpec("q17_small_qty_revenue", (s, dir) => {
      import s.implicits._
      // TPC-H Q17: yearly revenue lost if small-quantity orders for
      // one brand's parts stopped. The correlated avg-quantity
      // subquery decorrelates into ONE per-part (sum, count) rollup
      // broadcast back; the 20%-of-average test cross-multiplies in
      // exact DECIMAL (5·qty·n < Σqty), so no engine's float
      // division picks the boundary differently.
      val brandParts = Tables.part(s, dir)
        .filter($"p_brand" === "Brand#13").select($"p_partkey")
      val li = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), $"l_partkey" === $"p_partkey")
      val perPart = li.groupBy($"p_partkey".as("pk"))
        .agg(sum($"l_quantity".cast("decimal(18,2)")).as("sq"),
          count(lit(1)).as("nq"))
      li.join(broadcast(perPart), $"p_partkey" === $"pk")
        .filter($"l_quantity".cast("decimal(18,2)") * 5 * $"nq" < $"sq")
        .agg((sum($"l_extendedprice".cast("decimal(24,8)"))
          .cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },
    Oracle("""WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#13'),
        |pp AS (
        |  SELECT l_partkey AS pk,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |    count(*) AS nq
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE)
        |    / 7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM li JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * nq < sq""".stripMargin),
    bench = true),

    QuerySpec("q18_large_orders", (s, dir) => {
      import s.implicits._
      // TPC-H Q18: orders whose total quantity exceeds 150 (the
      // HAVING pre-aggregates the fact table to per-order scale
      // BEFORE any dim join — at 100 TB the join input shrinks ~4×
      // first), top-100 by order value. Integral quantities sum as
      // DECIMAL and emit as BIGINT; (o_totalprice, o_orderkey)
      // makes the top-100 cut deterministic.
      val big = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey".as("lo"))
        .agg(sum($"l_quantity".cast("decimal(18,2)")).as("sum_qty_dec"))
        .filter($"sum_qty_dec" > 150)
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .join(big, $"o_orderkey" === $"lo")
        .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
          $"o_totalprice", $"sum_qty_dec".cast("bigint").as("sum_qty"))
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    },
    Oracle("""WITH big AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum_qty_dec AS BIGINT) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN big ON o_orderkey = l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),
    bench = true),

    QuerySpec("q2_min_cost_supplier", (s, dir) => {
      import s.implicits._
      // TPC-H Q2 shape, adapted (no partsupp: lineitem plays the
      // part↔supplier association, as in q16, and supply cost is the
      // pair's minimum observed unit price). The correlated
      // min-cost-in-region subquery DECORRELATES into a per-part min
      // over the already-aggregated pair costs — metadata-scale, so
      // it broadcasts back instead of re-shuffling the fact table.
      // Unit price is one IEEE division of the same parquet doubles
      // on both engines; min and the equality re-join are
      // order-insensitive, so no float summation can disagree.
      val euro = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(broadcast(Tables.region(s, dir)
              .filter($"r_name" === "EUROPE")),
              $"n_regionkey" === $"r_regionkey")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal",
          $"n_name".as("nation"))
      val parts = Tables.part(s, dir)
        .filter($"p_type" === "SMALL" && $"p_size" <= 15)
        .select($"p_partkey", $"p_name")
      val cost = Tables.lineitem(s, dir)
        .join(broadcast(parts.select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
        .join(broadcast(euro.select($"s_suppkey")),
          $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice" / $"l_quantity").as("cost"))
      val minCost = cost.groupBy($"l_partkey".as("mk"))
        .agg(min($"cost").as("min_cost"))
      cost
        .join(broadcast(minCost),
          $"l_partkey" === $"mk" && $"cost" === $"min_cost")
        .join(broadcast(parts), $"l_partkey" === $"p_partkey")
        .join(broadcast(euro), $"l_suppkey" === $"s_suppkey")
        .select($"s_acctbal", $"s_name", $"nation", $"p_partkey",
          $"p_name", $"cost")
        .orderBy($"s_acctbal".desc, $"nation", $"s_name", $"p_partkey")
    },
    Oracle("""WITH euro AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |parts AS (
        |  SELECT p_partkey, p_name FROM part
        |  WHERE p_type = 'SMALL' AND p_size <= 15),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem
        |  JOIN parts ON l_partkey = p_partkey
        |  JOIN euro ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, nation, p_partkey, p_name, cost
        |FROM cost
        |JOIN parts ON l_partkey = p_partkey
        |JOIN euro ON l_suppkey = s_suppkey
        |WHERE cost = (SELECT min(c2.cost) FROM cost c2
        |              WHERE c2.l_partkey = cost.l_partkey)
        |ORDER BY s_acctbal DESC, nation, s_name, p_partkey""".stripMargin),
    bench = true),

    QuerySpec("q11_important_parts", (s, dir) => {
      import s.implicits._
      // TPC-H Q11 shape, adapted (value of a part held by one
      // nation's suppliers = revenue shipped by them). The
      // fraction-of-global-total HAVING rides the plan as a LAZY
      // scalar subquery over the SAME per-part rollup — one fact
      // shuffle total, no driver collect. The classic fixed fraction
      // doesn't survive scale-factor changes (more parts → smaller
      // shares), so the threshold is scale-free: parts worth at
      // least TWICE the average, tested by exact-decimal
      // cross-multiplication (value·n > 2·Σvalue) so no float
      // division picks the boundary differently between engines.
      val val0 = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
            .filter($"s_nationkey" === 7).select($"s_suppkey")),
          $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey".as("partkey"))
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(24,8)")).as("value_dec"))
      val sn = val0.agg(struct(
          sum($"value_dec").as("s"),
          count(lit(1)).as("n")).as("sn"))
        .scalar()
      val0.filter($"value_dec" * sn.getField("n") > sn.getField("s") * 2)
        .select($"partkey", $"value_dec".cast("double").as("part_value"))
        .orderBy($"part_value".desc, $"partkey")
    },
    Oracle("""WITH val AS (
        |  SELECT l_partkey AS partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(24,8))) AS value_dec
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 7
        |  GROUP BY 1)
        |SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM val
        |WHERE value_dec * (SELECT count(*) FROM val)
        |  > (SELECT sum(value_dec) FROM val) * 2
        |ORDER BY part_value DESC, partkey""".stripMargin),
    bench = true),

    QuerySpec("q20_excess_shippers", (s, dir) => {
      import s.implicits._
      // TPC-H Q20 shape, adapted (no partsupp availqty: a supplier
      // "has excess stock" of a bolt part when their 1997 shipments
      // exceed half their 1998 shipments of it). The nested
      // IN-subqueries decorrelate the classic way: broadcast part
      // filter → ONE per-(part,supplier) conditional-sum rollup →
      // distinct supplier keys → LEFT SEMI into the supplier dim.
      // Integral quantities sum as exact DECIMAL and the half
      // threshold cross-multiplies (2·q97 > q98) — nothing float.
      val bolt = Tables.part(s, dir)
        .filter($"p_name".contains("bolt")).select($"p_partkey")
      val dec0 = lit(0).cast("decimal(18,2)")
      val excess = Tables.lineitem(s, dir)
        .join(broadcast(bolt), $"l_partkey" === $"p_partkey")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(
          sum(when(year($"l_shipdate") === 1997,
            $"l_quantity".cast("decimal(18,2)")).otherwise(dec0)).as("q97"),
          sum(when(year($"l_shipdate") === 1998,
            $"l_quantity".cast("decimal(18,2)")).otherwise(dec0)).as("q98"))
        .filter($"q97" > 0 && $"q97" * 2 > $"q98")
        .select($"l_suppkey").distinct()
      Tables.supplier(s, dir)
        .filter($"s_nationkey" === 3)
        .join(broadcast(excess), $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_name")
    },
    Oracle("""WITH bolt AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%'),
        |qty AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |      THEN CAST(l_quantity AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS q97,
        |    CAST(sum(CASE WHEN year(l_shipdate) = 1998
        |      THEN CAST(l_quantity AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS q98
        |  FROM lineitem JOIN bolt ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_nationkey = 3
        |  AND EXISTS (SELECT 1 FROM qty WHERE l_suppkey = s_suppkey
        |              AND q97 > 0 AND q97 * 2 > q98)
        |ORDER BY s_name""".stripMargin),
    bench = true),

    QuerySpec("q14_promo_revenue", (s, dir) => {
      import s.implicits._
      // TPC-H Q14 shape: promo revenue share over one shipdate month.
      // part is the dimension — broadcast, so the fact side never
      // shuffles; both revenue sums stay exact DECIMAL until the end,
      // and the percent is ONE IEEE division of the two exact sums
      // (engine-identical, no round()).
      val rev = ($"l_extendedprice" * (lit(1.0d) - $"l_discount"))
        .cast("decimal(24,8)")
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        .agg(
          sum(when($"p_type" === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(24,8)"))).as("promo_dec"),
          sum(rev).as("total_dec"))
        .select(
          $"promo_dec".cast("double").as("promo_revenue"),
          $"total_dec".cast("double").as("total_revenue"),
          ($"promo_dec".cast("double") * lit(100.0d) /
            $"total_dec".cast("double")).as("promo_pct"))
    },
    Oracle("""WITH j AS (
        |  SELECT CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8)) AS rev,
        |    p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |         ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |         ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE) * 100.0
        |    / CAST(sum(rev) AS DOUBLE) AS promo_pct
        |FROM j""".stripMargin),
    bench = true),

    QuerySpec("sql_q6_discount", (s, dir) => {
      Catalog.registerViews(s, dir)
      s.sql("""
        SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
      """)
    },
    Oracle("""SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin),
    bench = true),

    QuerySpec("sql_tablesample", (s, dir) => {
      import s.implicits._
      // SQL-text TABLESAMPLE surface (README.md:184-199): the parse
      // path, not new sampling semantics (those live in Sampling).
      // (n ROWS) yields exactly n; (PERCENT) REPEATABLE is gated by the
      // same 5σ bound as sample_gates.
      Catalog.registerViews(s, dir)
      val nRows = s.sql(
        "SELECT count(*) AS n_rows FROM lineitem TABLESAMPLE (1000 ROWS)")
      val pct = s.sql(
        "SELECT count(*) AS n_pct FROM lineitem TABLESAMPLE (20 PERCENT) REPEATABLE (42)")
      val total = s.sql("SELECT count(*) AS n_total FROM lineitem")
      nRows.crossJoin(pct).crossJoin(total)
        .select($"n_rows",
          (abs($"n_pct".cast("double") / $"n_total" - 0.2) <= 0.017).as("pct_ok"))
    },
    // SQL-text TABLESAMPLE gates: (1000 ROWS) is exact by contract;
    // the PERCENT arm is the same 5σ boolean as sample_gates
    Oracle("SELECT CAST(1000 AS BIGINT) AS n_rows, true AS pct_ok")),
  )
}
