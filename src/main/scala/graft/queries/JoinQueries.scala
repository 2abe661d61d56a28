package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, IntervalJoin, Merge}

import Shared.{revenue, tmpPath}

/** Joins: keyed, salted and Bloom-prefiltered joins, as-of and interval
  * joins, geo joins, the MERGE family, and fuzzy record linkage. */
object JoinQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("merge_survivorship", (s, dir) => {
      import s.implicits._
      // Golden-record construction per user: every field takes its
      // latest NON-NULL value by (ts desc, event_id desc) — the MDM
      // survivorship default; cents is deliberately NULL for
      // low-value events so the ignore-null rule is exercised.
      val ev = Tables.events(s, dir)
        .withColumn("cents",
          when($"value" >= 50.0, round($"value" * 100).cast("long")))
        .withColumn("etype", $"event_type")
      graft.operators.Linkage.survivorship(ev, "user_id", "ts",
          "event_id", Seq("cents", "etype"))
        .orderBy($"user_id")
    },
    // latest-non-null survivorship: (ts desc, event_id desc) is total,
    // IGNORE NULLS mirrors Spark's first(_, ignoreNulls)
    Oracle("""WITH ev AS (SELECT user_id, ts, event_id,
        |    event_type AS etype,
        |    CASE WHEN value >= 50.0
        |      THEN CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events),
        |r AS (SELECT user_id,
        |    first_value(cents IGNORE NULLS) OVER w AS golden_cents,
        |    first_value(etype IGNORE NULLS) OVER w AS golden_etype,
        |    count(*) OVER w AS n_members,
        |    max(ts) OVER w AS last_ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, golden_cents, golden_etype,
        |  CAST(n_members AS BIGINT) AS n_members, last_ts
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("geo_hotspot", (s, dir) => {
      import s.implicits._
      // Grid hotspot screen: every tenth customer sits in a 300x300
      // patch, the rest scatter modularly across the 100k plane —
      // the patch cells light up at z >> 2 while uniform scatter
      // stays dark. Exact cell counts, one mirrored z division,
      // 3x3 neighborhood counts riding along.
      val pts = Tables.customer(s, dir).select(
        when(pmod($"c_custkey", lit(10)) === 0,
            lit(500L) + pmod($"c_custkey", lit(300)))
          .otherwise(($"c_custkey" * 48271L) % 100000L).as("x"),
        when(pmod($"c_custkey", lit(10)) === 0,
            lit(700L) + pmod($"c_custkey", lit(300)))
          .otherwise(($"c_custkey" * 69621L) % 100000L).as("y"))
      graft.operators.Geo.hotspot(pts, "x", "y", cellSize = 1000L)
    },
    // the cell probe is exhaustive, so the brute-force cross join
    // filtered by the same exact integer predicate is the same set
    // exact cell counts over the bounding grid (empties via T);
    // one mirrored z division; 9-offset neighborhood sums
    Oracle("""WITH pts AS (SELECT
        |    CASE WHEN c_custkey % 10 = 0 THEN 500 + c_custkey % 300
        |         ELSE (c_custkey * 48271) % 100000 END AS x,
        |    CASE WHEN c_custkey % 10 = 0 THEN 700 + c_custkey % 300
        |         ELSE (c_custkey * 69621) % 100000 END AS y
        |  FROM customer),
        |cells AS (SELECT x // 1000 AS cx, y // 1000 AS cy,
        |    CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS q,
        |    CAST(max(cx) + 1 AS HUGEINT) * (max(cy) + 1) AS tc
        |  FROM cells),
        |nb AS (SELECT cells.cx + o1.o AS cx, cells.cy + o2.o AS cy, n
        |  FROM cells, (SELECT unnest([-1, 0, 1]) AS o) o1,
        |    (SELECT unnest([-1, 0, 1]) AS o) o2),
        |nbg AS (SELECT cx, cy, CAST(sum(n) AS BIGINT) AS n_nbhd
        |  FROM nb GROUP BY 1, 2),
        |z AS (SELECT c.cx, c.cy, c.n, g.n_nbhd,
        |    CAST(CAST(c.n AS HUGEINT) * t.tc - t.nn AS DOUBLE)
        |      / sqrt(CAST(t.tc * t.q
        |        - CAST(t.nn AS HUGEINT) * t.nn AS DOUBLE)) AS zz
        |  FROM cells c JOIN nbg g ON g.cx = c.cx AND g.cy = c.cy, t
        |  WHERE t.tc * t.q - CAST(t.nn AS HUGEINT) * t.nn > 0)
        |SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
        |  n, n_nbhd, CAST(round(zz * 1000000) AS BIGINT) AS z_micros
        |FROM z WHERE zz >= 2.0 ORDER BY cx, cy""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("geo_radius_join", (s, dir) => {
      import s.implicits._
      // Spatial radius join on an integer plane: customers and
      // suppliers placed at deterministic modular coordinates, all
      // pairs within 1500 units by the cell-bucketed 3x3 probe +
      // exact integer verify. The oracle brute-forces the same pairs
      // — the probe is exhaustive by construction, so the outputs
      // are identical sets, not approximations.
      val cust = Tables.customer(s, dir).select($"c_custkey",
        (($"c_custkey" * 48271L) % 100000L).as("x"),
        (($"c_custkey" * 69621L) % 100000L).as("y"))
      val supp = Tables.supplier(s, dir).select($"s_suppkey",
        (($"s_suppkey" * 16807L) % 100000L).as("x"),
        (($"s_suppkey" * 39373L) % 100000L).as("y"))
      graft.operators.Geo.radiusJoin(cust, "c_custkey", supp,
          "s_suppkey", "x", "y", radius = 1500L)
        .orderBy($"c_custkey", $"s_suppkey")
    },
    Oracle("""WITH c AS (SELECT c_custkey, (c_custkey * 48271) % 100000 AS x,
        |    (c_custkey * 69621) % 100000 AS y FROM customer),
        |s AS (SELECT s_suppkey, (s_suppkey * 16807) % 100000 AS x,
        |    (s_suppkey * 39373) % 100000 AS y FROM supplier)
        |SELECT c.c_custkey, s.s_suppkey,
        |  CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        |    AS BIGINT) AS dist2
        |FROM c, s
        |WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        |  <= 1500 * 1500
        |ORDER BY c_custkey, s_suppkey""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("geo_nearest", (s, dir) => {
      import s.implicits._
      // Nearest supplier within 1500 units per customer — the lookup
      // the radius-join pair dump doesn't answer: exact squared
      // distance, ties to the smallest supplier key, and an explicit
      // NULL row for customers with no supplier in range (isolated
      // points surface, not vanish). Oracle brute-forces the same
      // min per customer — the capped 3x3 probe is exhaustive by
      // construction, so the answers are identical.
      val cust = Tables.customer(s, dir).select($"c_custkey",
        (($"c_custkey" * 48271L) % 100000L).as("x"),
        (($"c_custkey" * 69621L) % 100000L).as("y"))
      val supp = Tables.supplier(s, dir).select($"s_suppkey",
        (($"s_suppkey" * 16807L) % 100000L).as("x"),
        (($"s_suppkey" * 39373L) % 100000L).as("y"))
      graft.operators.Geo.nearestNeighbor(cust, "c_custkey", supp,
          "s_suppkey", "x", "y", maxRadius = 1500L)
        .orderBy($"c_custkey")
    },
    // the brute nearest-per-customer min the capped 3x3 probe must
    // reproduce exactly; NULL row when nothing is in range
    Oracle("""WITH c AS (SELECT c_custkey, (c_custkey * 48271) % 100000 AS x,
        |    (c_custkey * 69621) % 100000 AS y FROM customer),
        |s AS (SELECT s_suppkey, (s_suppkey * 16807) % 100000 AS x,
        |    (s_suppkey * 39373) % 100000 AS y FROM supplier),
        |p AS (SELECT c.c_custkey, s.s_suppkey,
        |    CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        |      AS BIGINT) AS dist2
        |  FROM c, s
        |  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
        |    <= 1500 * 1500),
        |best AS (SELECT c_custkey, s_suppkey, dist2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY dist2, s_suppkey) AS rk FROM p) WHERE rk = 1)
        |SELECT c.c_custkey, b.s_suppkey, b.dist2,
        |  b.s_suppkey IS NOT NULL AS matched
        |FROM c LEFT JOIN best b ON c.c_custkey = b.c_custkey
        |ORDER BY c.c_custkey""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("link_fs_scores", (s, dir) => {
      import s.implicits._
      // Fellegi-Sunter probabilistic linkage over brand-blocked
      // candidate pairs (corrupted part names vs the catalog): three
      // fields — Jaro-Winkler name agreement, type, size — with ppm
      // m/u parameters; integer micro-nat weights, three-way
      // match/possible/non_match decision. Every score is a sum of
      // engine-identical constants selected by exact booleans.
      // Tables.wide: the brand-block join broadcasts, so the
      // Jaro-Winkler pair scoring runs at the SCAN's width — an
      // unspread scan of the 180 KB part table single-threads the
      // string compute (r21 A/B: +2.70 s win from this pin).
      val parts = Tables.wide(Tables.part(s, dir))
      val corrupted = parts.filter($"p_partkey" % 7 === 0)
        .select($"p_partkey".as("c_key"),
          concat(lit("x"), substring($"p_name", 2, 100)).as("c_name"),
          $"p_brand", $"p_type".as("c_type"), $"p_size".as("c_size"))
      val pairs = corrupted.join(
        parts.select($"p_partkey", $"p_name", $"p_brand", $"p_type",
          $"p_size"), "p_brand")
      import graft.operators.Linkage
      Linkage.fellegiSunter(pairs, Seq(
          Linkage.FsField("name",
            graft.functions.jaro_winkler($"c_name", $"p_name") >= 0.9,
            mPpm = 900000L, uPpm = 20000L),
          Linkage.FsField("type", $"c_type" === $"p_type",
            mPpm = 980000L, uPpm = 150000L),
          Linkage.FsField("size", $"c_size" === $"p_size",
            mPpm = 990000L, uPpm = 30000L)),
          upperMicros = 4000000L, lowerMicros = 0L)
        .select($"c_key", $"p_partkey", $"agree_name", $"agree_type",
          $"agree_size", $"match_weight_micros", $"decision")
        .orderBy($"c_key", $"p_partkey")
    },
    // weights are engine-identical constants (ln of ppm ratios)
    // selected by exact booleans; DuckDB's own jaro_winkler agrees on
    // ASCII names (the fuzzy_rank_names precedent)
    Oracle("""WITH c AS (SELECT p_partkey AS c_key,
        |    'x' || substring(p_name, 2) AS c_name, p_brand,
        |    p_type AS c_type, p_size AS c_size
        |  FROM part WHERE p_partkey % 7 = 0),
        |pair AS (SELECT c.c_key, pr.p_partkey,
        |    jaro_winkler_similarity(c.c_name, pr.p_name) >= 0.9 AS agree_name,
        |    c.c_type = pr.p_type AS agree_type,
        |    c.c_size = pr.p_size AS agree_size
        |  FROM c JOIN part pr USING (p_brand)),
        |w AS (SELECT *,
        |    (CASE WHEN agree_name
        |       THEN CAST(round(ln(900000.0 / 20000.0) * 1000000) AS BIGINT)
        |       ELSE CAST(round(ln(100000.0 / 980000.0) * 1000000) AS BIGINT)
        |     END) +
        |    (CASE WHEN agree_type
        |       THEN CAST(round(ln(980000.0 / 150000.0) * 1000000) AS BIGINT)
        |       ELSE CAST(round(ln(20000.0 / 850000.0) * 1000000) AS BIGINT)
        |     END) +
        |    (CASE WHEN agree_size
        |       THEN CAST(round(ln(990000.0 / 30000.0) * 1000000) AS BIGINT)
        |       ELSE CAST(round(ln(10000.0 / 970000.0) * 1000000) AS BIGINT)
        |     END) AS match_weight_micros
        |  FROM pair)
        |SELECT c_key, p_partkey, agree_name, agree_type, agree_size,
        |  match_weight_micros,
        |  CASE WHEN match_weight_micros >= 4000000 THEN 'match'
        |       WHEN match_weight_micros <= 0 THEN 'non_match'
        |       ELSE 'possible' END AS decision
        |FROM w ORDER BY c_key, p_partkey""".stripMargin),
    bench = true),

    QuerySpec("join_semi", (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Oracle("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    bench = true),

    QuerySpec("join_anti", (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Oracle("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    bench = true),

    QuerySpec("join_left_outer", (s, dir) => {
      import s.implicits._
      // LEFT OUTER with genuine null extension: every customer has
      // SOME order at this sf (join_anti is empty), so the right side
      // is restricted to urgent orders — customers without one keep a
      // null-extended row, COALESCEd to zero counts/sums.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey", $"c_name")
        .agg(count($"o_orderkey").as("n_urgent"),
          coalesce(sum($"o_totalprice".cast("decimal(18,2)")).cast("double"), lit(0.0))
            .as("sum_urgent"))
        .orderBy($"c_custkey")
    },
    Oracle("""SELECT c_custkey, c_name, count(o_orderkey) AS n_urgent,
        |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_urgent
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |  ON c_custkey = o.o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),

    QuerySpec("join_right_outer", (s, dir) => {
      import s.implicits._
      // RIGHT OUTER mirror: returned lineitems right-joined to part —
      // parts with no returns survive with zero counts
      Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
        .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey", "right_outer")
        .groupBy($"p_partkey", $"p_brand")
        .agg(count($"l_orderkey").as("n_returned"))
        .orderBy($"p_partkey")
    },
    Oracle("""SELECT p_partkey, p_brand, count(l_orderkey) AS n_returned
        |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R') l
        |RIGHT JOIN part ON l.l_partkey = p_partkey
        |GROUP BY p_partkey, p_brand ORDER BY p_partkey""".stripMargin)),

    QuerySpec("join_full_outer", (s, dir) => {
      import s.implicits._
      // FULL OUTER: per-customer urgent vs low-priority order counts —
      // most customers miss one side or the other, so both null
      // extensions are exercised; the key is COALESCEd explicitly
      val u = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
        .groupBy($"o_custkey".as("ck_u")).agg(count(lit(1)).as("n_urgent"))
      val lo = Tables.orders(s, dir).filter($"o_orderpriority" === "5-LOW")
        .groupBy($"o_custkey".as("ck_l")).agg(count(lit(1)).as("n_low"))
      u.join(lo, $"ck_u" === $"ck_l", "full_outer")
        .select(coalesce($"ck_u", $"ck_l").as("custkey"),
          coalesce($"n_urgent", lit(0L)).as("n_urgent"),
          coalesce($"n_low", lit(0L)).as("n_low"))
        .orderBy($"custkey")
    },
    Oracle("""WITH u AS (
        |  SELECT o_custkey AS ck_u, count(*) AS n_urgent FROM orders
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
        |lo AS (
        |  SELECT o_custkey AS ck_l, count(*) AS n_low FROM orders
        |  WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey)
        |SELECT COALESCE(ck_u, ck_l) AS custkey,
        |  COALESCE(n_urgent, 0) AS n_urgent, COALESCE(n_low, 0) AS n_low
        |FROM u FULL OUTER JOIN lo ON ck_u = ck_l
        |ORDER BY custkey""".stripMargin)),

    QuerySpec("join_salted", (s, dir) => {
      import s.implicits._
      // Skew-salted fact⋈fact join (operators.Scale.saltedJoin): the
      // oracle is the PLAIN join — salting must be invisible in the
      // result, it only re-shapes the shuffle for pathological keys.
      val ord = Tables.orders(s, dir)
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      graft.operators.Scale.saltedJoin(Tables.lineitem(s, dir), ord,
          "l_orderkey", salt = 8)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("int")).cast("bigint").as("sum_qty"))
        .orderBy($"o_orderpriority")
    },
    Oracle(
      // the oracle is the PLAIN join: salting must be result-invisible
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS INT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
    bench = true),

    QuerySpec("bucketed_join", (s, dir) => {
      import s.implicits._
      // co-located fact⋈fact join over bucketed tables: both sides
      // pre-bucketed on the join key, so the join runs shuffle-free
      // (ScaleSpec pins zero exchanges before the agg). Oracle = the
      // plain join; bucketing must be result-invisible.
      val suf = math.abs(dir.hashCode).toString
      graft.operators.Scale.writeBucketed(
        Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority"),
        s"orders_bq_$suf", "o_orderkey", buckets = 8)
      graft.operators.Scale.writeBucketed(
        Tables.lineitem(s, dir)
          .select($"l_orderkey".as("o_orderkey"), $"l_quantity"),
        s"lineitem_bq_$suf", "o_orderkey", buckets = 8)
      s.table(s"lineitem_bq_$suf").join(s.table(s"orders_bq_$suf"), "o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("int")).cast("bigint").as("sum_qty"))
        .orderBy($"o_orderpriority")
    },
    Oracle(
      // same result as join_salted's oracle: bucketing, like salting,
      // only re-shapes execution
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS INT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
    eagerBuild = true),

    QuerySpec("merge_upsert", (s, dir) => {
      import s.implicits._
      // SCD1 upsert: a deterministic changeset derived from the data —
      // keys %10==3 get price+1000 (those also %100==33 are deletes),
      // negated keys %10==4 are inserts. The oracle replays the same
      // anti-join-plus-union algebra in SQL.
      val base = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val upd = Tables.orders(s, dir).filter($"o_orderkey" % 10 === 3)
        .select($"o_orderkey", $"o_custkey",
          ($"o_totalprice" + 1000.0).as("o_totalprice"),
          ($"o_orderkey" % 100 === 33).as("is_delete"))
      val ins = Tables.orders(s, dir).filter($"o_orderkey" % 10 === 4)
        .select((-$"o_orderkey").as("o_orderkey"), $"o_custkey",
          $"o_totalprice", lit(false).as("is_delete"))
      Merge.upsert(base, upd.unionByName(ins), Seq("o_orderkey"),
          deleteCol = Some("is_delete"))
        .orderBy($"o_orderkey")
    },
    Oracle("""WITH changes AS (
        |  SELECT o_orderkey AS k, o_custkey AS c,
        |    o_totalprice + 1000 AS p, o_orderkey % 100 = 33 AS del
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT -o_orderkey, o_custkey, o_totalprice, false
        |  FROM orders WHERE o_orderkey % 10 = 4),
        |kept AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT k FROM changes))
        |SELECT * FROM kept
        |UNION ALL
        |SELECT k, c, p FROM changes WHERE NOT del
        |ORDER BY o_orderkey""".stripMargin),
    bench = true),

    QuerySpec("merge_diff", (s, dir) => {
      import s.implicits._
      // Snapshot reconciliation: diff(base, upsert(base, changes))
      // must recover exactly the changeset — deletes as `removed`,
      // updates as `changed` (with the column list), inserts as
      // `added`. The oracle states that recovery directly from the
      // changeset definition; array scalarized via concat_ws.
      val base = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val upd = Tables.orders(s, dir).filter($"o_orderkey" % 10 === 3)
        .select($"o_orderkey", $"o_custkey",
          ($"o_totalprice" + 1000.0).as("o_totalprice"),
          ($"o_orderkey" % 100 === 33).as("is_delete"))
      val ins = Tables.orders(s, dir).filter($"o_orderkey" % 10 === 4)
        .select((-$"o_orderkey").as("o_orderkey"), $"o_custkey",
          $"o_totalprice", lit(false).as("is_delete"))
      val after = Merge.upsert(base, upd.unionByName(ins), Seq("o_orderkey"),
        deleteCol = Some("is_delete"))
      Merge.diff(base, after, Seq("o_orderkey"))
        .select($"o_orderkey", $"change_type",
          concat_ws(",", $"changed_cols").as("changed_cols"))
        .orderBy($"o_orderkey")
    },
    // diff(base, upsert(base, changes)) recovers the changeset: the
    // oracle states that recovery straight from the change definition
    Oracle("""SELECT o_orderkey, 'removed' AS change_type, '' AS changed_cols
        |FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 = 33
        |UNION ALL
        |SELECT o_orderkey, 'changed', 'o_totalprice'
        |FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 33
        |UNION ALL
        |SELECT -o_orderkey, 'added', ''
        |FROM orders WHERE o_orderkey % 10 = 4
        |ORDER BY o_orderkey""".stripMargin),
    bench = true),

    QuerySpec("fuzzy_join_names", (s, dir) => {
      import s.implicits._
      // Edit-distance similarity join: deterministically corrupted
      // part names (first char -> 'x' on keys %7==0) matched back to
      // the catalog within distance 1 via FastSS deletion-neighborhood
      // blocking + exact levenshtein verify. The oracle is the naive
      // quadratic levenshtein join — blocking must be invisible
      // (complete). Plan never contains a cartesian (FuzzyJoinSpec).
      // No wide() pin: the r21 A/B measured the spread at +1.05 s TAX
      // here (the FastSS candidate build shuffles by deletion-key
      // immediately, so the scan exchange buys nothing).
      val parts = Tables.part(s, dir).select($"p_partkey", $"p_name")
      val corrupted = parts.filter($"p_partkey" % 7 === 0)
        .select($"p_partkey".as("c_key"),
          concat(lit("x"), substring($"p_name", 2, 100)).as("c_name"))
      operators.FuzzyJoin.joinWithinEditDistance(corrupted, parts,
          "c_key", "c_name", "p_partkey", "p_name", k = 1)
        .select($"l_id", $"r_id", $"edit_dist")
        .orderBy($"l_id", $"r_id")
    },
    // the naive quadratic form the blocked join must equal exactly
    Oracle("""WITH c AS (
        |  SELECT p_partkey AS l_id, 'x' || substr(p_name, 2) AS l_str
        |  FROM part WHERE p_partkey % 7 = 0)
        |SELECT l_id, p.p_partkey AS r_id,
        |  CAST(levenshtein(l_str, p.p_name) AS INT) AS edit_dist
        |FROM c JOIN part p ON levenshtein(l_str, p.p_name) <= 1
        |ORDER BY l_id, r_id""".stripMargin),
    bench = true),

    QuerySpec("fuzzy_rank_names", (s, dir) => {
      import s.implicits._
      // The fuzzy-join family's RANKER: same complete FastSS-blocked
      // candidates as fuzzy_join_names, ordered by Jaro-Winkler
      // (prefix-weighted typo tolerance — the name-matching metric
      // levenshtein membership lacks). The expression matches
      // DuckDB's jaro_winkler_similarity parameter-for-parameter;
      // ranking runs over the DECIMAL(10,6)-quantized score on BOTH
      // engines so ulp-level differences cannot flip a rank.
      // No wide() pin: see fuzzy_join_names (+0.97 s tax in the A/B).
      val parts = Tables.part(s, dir).select($"p_partkey", $"p_name")
      val corrupted = parts.filter($"p_partkey" % 7 === 0)
        .select($"p_partkey".as("c_key"),
          concat(lit("x"), substring($"p_name", 2, 100)).as("c_name"))
      operators.FuzzyJoin.joinWithinEditDistance(corrupted, parts,
          "c_key", "c_name", "p_partkey", "p_name", k = 1)
        .withColumn("jw", graft.functions
          .jaro_winkler($"l_str", $"r_str")
          .cast("decimal(10,6)").cast("double"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"l_id").orderBy($"jw".desc, $"r_id")))
        .select($"l_id", $"r_id", $"jw", $"rank")
        .orderBy($"l_id", $"rank")
    },
    // DuckDB's jaro_winkler_similarity IS the expression's definition
    // (canonical p=0.1, prefix cap 4, boost threshold 0.7); ranking
    // over the quantized score on both sides
    Oracle("""WITH c AS (
        |  SELECT p_partkey AS l_id, 'x' || substr(p_name, 2) AS l_str
        |  FROM part WHERE p_partkey % 7 = 0),
        |j AS (
        |  SELECT l_id, p.p_partkey AS r_id,
        |    CAST(CAST(jaro_winkler_similarity(l_str, p.p_name)
        |      AS DECIMAL(10,6)) AS DOUBLE) AS jw
        |  FROM c JOIN part p ON levenshtein(l_str, p.p_name) <= 1)
        |SELECT l_id, r_id, jw,
        |  CAST(row_number() OVER (PARTITION BY l_id
        |    ORDER BY jw DESC, r_id) AS INT) AS rank
        |FROM j ORDER BY l_id, rank""".stripMargin),
    bench = true),

    QuerySpec("merge_scd2", (s, dir) => {
      import s.implicits._
      // SCD2 history build over the events changelog: each user's
      // value-versions get [valid_from, valid_to) effective ranges,
      // open-ended (NULL) for the current one. (user_id, ts) is unique
      // in the data, so the ordering is total.
      Merge.scd2(Tables.events(s, dir)
            .select($"user_id", $"ts", $"value"),
          keyCols = Seq("user_id"), tsCol = "ts")
        .select($"user_id", $"valid_from", $"valid_to", $"is_current", $"value")
        .orderBy($"user_id", $"valid_from")
    },
    Oracle("""SELECT user_id, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current,
        |  value
        |FROM events
        |ORDER BY user_id, valid_from""".stripMargin),
    bench = true),

    QuerySpec("interval_coverage", (s, dir) => {
      import s.implicits._
      // Union length of overlapping intervals per user (each event
      // opens a 2-hour attention window): the classic interval-merge
      // — islands split where a start clears the running max end, an
      // island's coverage is its extent by construction. Exact
      // integer seconds end to end.
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.events(s, dir).select($"user_id",
        $"ts".cast("long").as("st"),
        ($"ts".cast("long") + 7200L).as("en"))
      val w = Window.partitionBy($"user_id").orderBy($"st", $"en")
      val prevMax = max($"en").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      iv.withColumn("__new",
          when(prevMax.isNull || $"st" > prevMax, 1).otherwise(0))
        .withColumn("__isl", sum($"__new").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"__isl")
        .agg(count(lit(1)).as("__n"), min($"st").as("__s"),
          max($"en").as("__e"))
        .groupBy($"user_id")
        .agg(sum($"__n").cast("bigint").as("n_intervals"),
          count(lit(1)).cast("bigint").as("n_islands"),
          sum($"__e" - $"__s").cast("bigint").as("covered_seconds"))
        .orderBy($"user_id")
    },
    // interval merge: island splits where a start clears the running
    // max end; island coverage = extent by construction
    Oracle("""WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS en
        |  FROM events),
        |m AS (SELECT user_id, st, en,
        |    CASE WHEN max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      IS NULL OR st > max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |isl AS (SELECT user_id, st, en,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM m),
        |agg AS (SELECT user_id, g, CAST(count(*) AS BIGINT) AS n,
        |    min(st) AS s, max(en) AS e
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(e - s) AS BIGINT) AS covered_seconds
        |FROM agg GROUP BY 1 ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("interval_concurrency", (s, dir) => {
      import s.implicits._
      // PEAK CONCURRENCY — the capacity question coverage/gaps can't
      // answer ("how many sessions were open AT ONCE?" sizes the
      // fleet; total covered time doesn't): classic sweep line over
      // the same 2-hour session intervals, +1 at open, −1 at close,
      // ends processed before starts at the same second (half-open
      // [st, en) semantics — touching sessions never double-count),
      // hourly max of the running count. Exact integers end to end;
      // within a tie group the prefix-sum multiset is order-free, so
      // the hourly max is deterministic. The running sum is one
      // global ordered window (shard by day first at corpus scale).
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.events(s, dir).select(
        $"ts".cast("long").as("st"),
        ($"ts".cast("long") + 7200L).as("en"))
      val evs = iv.select($"st".as("t"), lit(1L).as("d"))
        .unionByName(iv.select($"en".as("t"), lit(-1L).as("d")))
      val w = Window.orderBy($"t", $"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      evs.withColumn("__run", sum($"d").over(w))
        .groupBy(expr("t div 3600").as("hour_idx"))
        .agg(count(lit(1)).cast("bigint").as("n_boundaries"),
          max($"__run").cast("bigint").as("peak_concurrent"))
        .orderBy($"hour_idx")
    },
    // sweep line: +1/-1 boundaries, ends before starts at ties
    // (half-open intervals), hourly max of the running count
    Oracle("""WITH iv AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS en
        |  FROM events),
        |ev AS (SELECT st AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL SELECT en, CAST(-1 AS BIGINT) FROM iv),
        |r AS (SELECT t, d, sum(d) OVER (ORDER BY t, d ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM ev)
        |SELECT t // 3600 AS hour_idx,
        |  CAST(count(*) AS BIGINT) AS n_boundaries,
        |  CAST(max(run) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("interval_gaps", (s, dir) => {
      import s.implicits._
      // The COMPLEMENT of interval_coverage: the uncovered gaps
      // between a user's merged attention islands — the
      // downtime/absence report every uptime pipeline needs next to
      // the coverage number (total covered says how much; this says
      // how FRAGMENTED, and how long the longest outage ran). Same
      // island construction, one lag pass over the island table
      // (user-scale, not row-scale). Islands are disjoint by
      // construction, so every gap is strictly positive.
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.events(s, dir).select($"user_id",
        $"ts".cast("long").as("st"),
        ($"ts".cast("long") + 7200L).as("en"))
      val w = Window.partitionBy($"user_id").orderBy($"st", $"en")
      val prevMax = max($"en").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val isl = iv.withColumn("__new",
          when(prevMax.isNull || $"st" > prevMax, 1).otherwise(0))
        .withColumn("__isl", sum($"__new").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"__isl")
        .agg(min($"st").as("__s"), max($"en").as("__e"))
      val w2 = Window.partitionBy($"user_id").orderBy($"__s")
      isl.withColumn("__pe", lag($"__e", 1).over(w2))
        .groupBy($"user_id")
        .agg(count(lit(1)).cast("bigint").as("n_islands"),
          sum(when($"__pe".isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_gaps"),
          coalesce(sum($"__s" - $"__pe"), lit(0L)).cast("bigint")
            .as("gap_seconds"),
          coalesce(max($"__s" - $"__pe"), lit(0L)).cast("bigint")
            .as("max_gap_seconds"))
        .orderBy($"user_id")
    },
    // the island construction again, then one lag pass: gaps are
    // strictly positive because islands are disjoint by construction
    Oracle("""WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS en
        |  FROM events),
        |m AS (SELECT user_id, st, en,
        |    CASE WHEN max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      IS NULL OR st > max(en) OVER (PARTITION BY user_id
        |        ORDER BY st, en
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |isl AS (SELECT user_id, st, en,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM m),
        |agg AS (SELECT user_id, g, min(st) AS s, max(en) AS e
        |  FROM isl GROUP BY 1, 2),
        |lg AS (SELECT user_id, s, e,
        |    lag(e, 1) OVER (PARTITION BY user_id ORDER BY s) AS pe
        |  FROM agg)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(CASE WHEN pe IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gaps,
        |  CAST(coalesce(sum(s - pe), 0) AS BIGINT) AS gap_seconds,
        |  CAST(coalesce(max(s - pe), 0) AS BIGINT) AS max_gap_seconds
        |FROM lg GROUP BY 1 ORDER BY user_id""".stripMargin),
    bench = true),

    QuerySpec("asof_signup_value", (s, dir) => {
      import s.implicits._
      // for each purchase, the user's latest signup at-or-before it
      val ev = Tables.events(s, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("signup_ts"), $"value".as("signup_value"))
      AsOf.joinAsOf(purchases, signups, "user_id", "ts", "signup_ts",
          payload = Seq("signup_value"))
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"), $"signup_value")
        .orderBy($"event_id")
    },
    Oracle("""SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS ts_s,
        |  s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin),
    bench = true),

    QuerySpec("asof_bucketed", (s, dir) => {
      import s.implicits._
      // the skew escape hatch (time-sliced windows + boundary carry)
      // run over the SAME shape as asof_signup_value with daily
      // slices — the oracle is identical, pinning result-equality of
      // the bucketed form end-to-end at the driver
      val ev = Tables.events(s, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("signup_ts"), $"value".as("signup_value"))
      AsOf.joinAsOfBucketed(purchases, signups, "user_id", "ts",
          "signup_ts", payload = Seq("signup_value"),
          sliceSeconds = 24L * 3600)
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"), $"signup_value")
        .orderBy($"event_id")
    },
    // IDENTICAL oracle to asof_signup_value: the bucketed (skew
    // escape hatch) form must be result-invisible
    Oracle("""SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS ts_s,
        |  s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin)),

    QuerySpec("asof_next_purchase", (s, dir) => {
      import s.implicits._
      // forward as-of: for each signup, the user's EARLIEST purchase
      // at-or-after it (time-to-conversion analytics)
      val ev = Tables.events(s, dir)
      val signups = ev.filter($"event_type" === "signup")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("purchase_ts"), $"value".as("purchase_value"))
      AsOf.joinAsOf(signups, purchases, "user_id", "ts", "purchase_ts",
          payload = Seq("purchase_value"), direction = "forward")
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"), $"purchase_value")
        .orderBy($"event_id")
    },
    Oracle("""SELECT s.event_id, s.user_id, date_trunc('second', s.ts) AS ts_s,
        |  p.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id AND p.ts >= s.ts
        |ORDER BY s.event_id""".stripMargin),
    bench = true),

    QuerySpec("asof_nearest", (s, dir) => {
      import s.implicits._
      // nearest as-of: for each signup, the user's temporally
      // CLOSEST purchase either side (truncated-second distance,
      // ties go backward — the full pandas merge_asof surface).
      // Purchases pre-reduce to one row per (user_id, ts) with
      // min(value) so same-timestamp duplicates resolve the same way
      // on both engines (the window carry would otherwise pick an
      // arbitrary row among exact-ts ties).
      val ev = Tables.events(s, dir)
      val signups = ev.filter($"event_type" === "signup")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"ts".as("purchase_ts"))
        .agg(min($"value").as("purchase_value"))
      AsOf.joinAsOf(signups, purchases, "user_id", "ts", "purchase_ts",
          payload = Seq("purchase_value"), direction = "nearest")
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"), $"purchase_value")
        .orderBy($"event_id")
    },
    // the two directional candidates derived independently, then the
    // engine's pick: truncated-second distance, ties backward;
    // purchases pre-reduced to one row per (user_id, ts) by
    // min(value) so the payload join-back cannot fan out on
    // same-timestamp duplicates
    Oracle("""WITH s AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts AS pts, min(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (SELECT s.event_id, max(p.pts) AS bts
        |  FROM s JOIN p ON p.user_id = s.user_id AND p.pts <= s.ts
        |  GROUP BY 1),
        |f AS (SELECT s.event_id, min(p.pts) AS fts
        |  FROM s JOIN p ON p.user_id = s.user_id AND p.pts >= s.ts
        |  GROUP BY 1),
        |c AS (SELECT s.event_id, s.user_id, s.ts, b.bts, f.fts
        |  FROM s LEFT JOIN b USING (event_id)
        |  LEFT JOIN f USING (event_id)),
        |pick AS (SELECT *,
        |    CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
        |      abs(CAST(floor(epoch(ts)) AS BIGINT)
        |        - CAST(floor(epoch(bts)) AS BIGINT))
        |      <= abs(CAST(floor(epoch(fts)) AS BIGINT)
        |        - CAST(floor(epoch(ts)) AS BIGINT)))
        |    THEN bts ELSE fts END AS mts
        |  FROM c)
        |SELECT pick.event_id, pick.user_id,
        |  date_trunc('second', pick.ts) AS ts_s,
        |  p.value AS purchase_value
        |FROM pick LEFT JOIN p
        |  ON p.user_id = pick.user_id AND p.pts = pick.mts
        |ORDER BY pick.event_id""".stripMargin),
    bench = true),

    QuerySpec("asof_tolerance", (s, dir) => {
      import s.implicits._
      // Tolerance-bounded backward as-of: each signup takes the
      // user's latest purchase AT MOST 1 HOUR back — out-of-window
      // matches NULL out while the signup row survives (the pandas
      // merge_asof tolerance semantics; a stale quote is worse than
      // no quote). Purchases pre-reduce per (user_id, ts) by
      // min(value) — the asof_nearest tie discipline.
      val ev = Tables.events(s, dir)
      val signups = ev.filter($"event_type" === "signup")
        .select($"event_id", $"user_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"ts".as("purchase_ts"))
        .agg(min($"value").as("purchase_value"))
      AsOf.joinAsOf(signups, purchases, "user_id", "ts", "purchase_ts",
          payload = Seq("purchase_value"), direction = "backward",
          toleranceSeconds = Some(3600L))
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("ts_s"), $"purchase_value")
        .orderBy($"event_id")
    },
    // backward candidate then the tolerance gate in truncated seconds;
    // the same (user_id, ts)-deduped purchase side as asof_nearest
    Oracle("""WITH s AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts AS pts, min(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (SELECT s.event_id, max(p.pts) AS bts
        |  FROM s JOIN p ON p.user_id = s.user_id AND p.pts <= s.ts
        |  GROUP BY 1),
        |c AS (SELECT s.event_id, s.user_id, s.ts, b.bts
        |  FROM s LEFT JOIN b USING (event_id)),
        |j AS (SELECT c.event_id, c.user_id, c.ts, c.bts, p.value
        |  FROM c LEFT JOIN p
        |    ON p.user_id = c.user_id AND p.pts = c.bts)
        |SELECT event_id, user_id, date_trunc('second', ts) AS ts_s,
        |  CASE WHEN bts IS NOT NULL
        |      AND CAST(floor(epoch(ts)) AS BIGINT)
        |        - CAST(floor(epoch(bts)) AS BIGINT) <= 3600
        |    THEN value END AS purchase_value
        |FROM j ORDER BY event_id""".stripMargin),
    bench = true),

    QuerySpec("interval_join_promo", (s, dir) => {
      import s.implicits._
      // Keyed point-in-interval join (operators.IntervalJoin): every
      // 97th order anchors a 45-day per-customer promo window; count
      // the customer's orders landing inside each window. The oracle
      // is the naive BETWEEN join — bucketing must be invisible. The
      // production plan is a shuffled equi-join on (custkey, 30-day
      // bucket), never a BroadcastNestedLoopJoin (PlanSpec-pinned).
      val ords = Tables.orders(s, dir)
      val anchors = ords.filter($"o_orderkey" % 97 === 0)
        .select($"o_custkey", $"o_orderkey".as("promo_id"),
          $"o_orderdate".as("promo_start"),
          ($"o_orderdate" + expr("INTERVAL 45 DAYS")).as("promo_end"))
      val points = ords.select($"o_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice")
      IntervalJoin.pointInInterval(points, anchors, "o_orderdate",
          "promo_start", "promo_end", keys = Seq("o_custkey"),
          bucketSeconds = 30L * 86400)
        .groupBy($"promo_id")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy($"promo_id")
    },
    Oracle("""SELECT a.o_orderkey AS promo_id, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(p.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders a JOIN orders p ON p.o_custkey = a.o_custkey
        |  AND p.o_orderdate BETWEEN a.o_orderdate
        |                        AND a.o_orderdate + INTERVAL 45 DAY
        |WHERE a.o_orderkey % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("interval_join_incidents", (s, dir) => {
      import s.implicits._
      // KEYLESS range join — the case naive Spark can only plan as a
      // BroadcastNestedLoopJoin: the 20 highest-value events spawn
      // ±30-minute incident windows; count events and integer-cents
      // value mass inside each. Joined on the time bucket alone.
      val ev = Tables.events(s, dir)
      val incidents = ev.orderBy($"value".desc, $"event_id").limit(20)
        .select($"event_id".as("incident_id"),
          ($"ts" - expr("INTERVAL 30 MINUTES")).as("w_start"),
          ($"ts" + expr("INTERVAL 30 MINUTES")).as("w_end"))
      val points = ev.select($"event_id", $"ts", $"value")
      IntervalJoin.pointInInterval(points, incidents, "ts",
          "w_start", "w_end", keys = Nil, bucketSeconds = 1800L)
        .groupBy($"incident_id")
        .agg(count(lit(1)).as("n_events"),
          sum(round($"value" * 100).cast("long")).as("value_cents"))
        .orderBy($"incident_id")
    },
    Oracle("""WITH inc AS (
        |  SELECT event_id AS incident_id,
        |    ts - INTERVAL 30 MINUTE AS w_start,
        |    ts + INTERVAL 30 MINUTE AS w_end
        |  FROM events ORDER BY value DESC, event_id LIMIT 20)
        |SELECT i.incident_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events e JOIN inc i ON e.ts BETWEEN i.w_start AND i.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("interval_overlap_campaigns", (s, dir) => {
      import s.implicits._
      // Interval x interval overlap join: two anchor families of
      // promo windows (every 89th order: 30 days; every 97th: 45
      // days); emit each overlapping (a, b) window pair exactly once.
      // Keyless — the worst case for naive planning — bucketized on
      // 30-day grains instead.
      val ords = Tables.orders(s, dir)
      val a = ords.filter($"o_orderkey" % 89 === 0)
        .select($"o_orderkey".as("a_id"), $"o_orderdate".as("a_start"),
          ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("a_end"))
      val b = ords.filter($"o_orderkey" % 97 === 0)
        .select($"o_orderkey".as("b_id"), $"o_orderdate".as("b_start"),
          ($"o_orderdate" + expr("INTERVAL 45 DAYS")).as("b_end"))
      IntervalJoin.intervalOverlap(a, b, "a_start", "a_end",
          "b_start", "b_end", keys = Nil, bucketSeconds = 30L * 86400)
        .select($"a_id", $"b_id")
        .orderBy($"a_id", $"b_id")
    },
    Oracle("""WITH a AS (
        |  SELECT o_orderkey AS a_id, o_orderdate AS a_start,
        |    o_orderdate + INTERVAL 30 DAY AS a_end
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |b AS (
        |  SELECT o_orderkey AS b_id, o_orderdate AS b_start,
        |    o_orderdate + INTERVAL 45 DAY AS b_end
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT a_id, b_id FROM a JOIN b
        |  ON a_start <= b_end AND b_start <= a_end
        |ORDER BY a_id, b_id""".stripMargin),
    bench = true),

    QuerySpec("join_bloom_prefilter", (s, dir) => {
      import s.implicits._
      // Runtime-filter join: the urgent-orders dim's keys become ONE
      // Bloom sketch probed at the fact scan, so non-matching fact
      // rows die before the join's exchange — the oracle is the PLAIN
      // join (the prefilter must be result-invisible; the exact join
      // clears false positives).
      val dim = Tables.orders(s, dir)
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_orderpriority")
      graft.operators.Scale.bloomPrefilteredJoin(
          Tables.lineitem(s, dir).select($"l_orderkey", $"l_quantity"),
          dim, "l_orderkey", "o_orderkey", expectedDimKeys = 100000L)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("int")).cast("bigint").as("sum_qty"))
        .orderBy($"o_orderpriority")
    },
    // the plain join IS the oracle: the bloom prefilter must be
    // result-invisible
    Oracle("""SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    bench = true),

    QuerySpec("merge_cdc_replay", (s, dir) => {
      import s.implicits._
      // Driver-graded gate for streaming CDC apply
      // (Merge.applyChangeBatch, previously spec-tested only): fold a
      // 3-batch deterministic changelog into versioned snapshots —
      // batch 1 carries TWO versions of the same keys (latestByKey
      // must collapse them) — then REPLAY batch 1 after batch 2 is
      // committed (a restart between sink write and checkpoint commit
      // re-delivers a batch; determinism makes the rewrite identical
      // instead of double-applied). The final snapshot must equal the
      // fold's closed form, which the oracle states directly.
      val orders = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val base = tmpPath("cdc", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // stale prior runs
      def b0 = orders.filter($"o_orderkey" % 4 === 0)
        .withColumn("version", lit(0L)).withColumn("del", lit(false))
      def b1 = orders.filter($"o_orderkey" % 8 === 0)
          .withColumn("o_totalprice", $"o_totalprice" + 50.0)
          .withColumn("version", lit(10L)).withColumn("del", lit(false))
        .unionByName(orders.filter($"o_orderkey" % 8 === 0)
          .withColumn("o_totalprice", $"o_totalprice" + 100.0)
          .withColumn("version", lit(11L)).withColumn("del", lit(false)))
        .unionByName(orders.filter($"o_orderkey" % 4 === 1)
          .withColumn("version", lit(12L)).withColumn("del", lit(false)))
      def b2 = orders.filter($"o_orderkey" % 16 === 0)
          .withColumn("version", lit(20L)).withColumn("del", lit(true))
        .unionByName(orders.filter($"o_orderkey" % 4 === 1)
          .withColumn("o_totalprice", $"o_totalprice" * 2.0)
          .withColumn("version", lit(21L)).withColumn("del", lit(false)))
      Merge.applyChangeBatch(base, 0, b0, Seq("o_orderkey"), "version", Some("del"))
      Merge.applyChangeBatch(base, 1, b1, Seq("o_orderkey"), "version", Some("del"))
      Merge.applyChangeBatch(base, 2, b2, Seq("o_orderkey"), "version", Some("del"))
      Merge.applyChangeBatch(base, 1, b1, Seq("o_orderkey"), "version", Some("del")) // replay
      val vFinal = Merge.latestSnapshotVersion(s, base).get
      s.read.parquet(s"$base/v=$vFinal").orderBy($"o_orderkey")
    },
    // closed form of the 3-batch CDC fold (replayed batch included):
    // %16==0 deleted; surviving %8==0 carry +100 (version 11 wins over
    // 10 inside batch 1); %4==1 inserted then doubled
    Oracle("""SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 100.0
        |       WHEN o_orderkey % 4 = 1 THEN o_totalprice * 2.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0)
        |   OR o_orderkey % 4 = 1
        |ORDER BY o_orderkey""".stripMargin),
    eagerBuild = true),
  )
}
