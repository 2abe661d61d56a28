package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph

import Shared.{built, partCoOrderPairs, tradeEdges}

/** Graph analytics over the trade and co-order graphs. */
object GraphQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("graph_hits", (s, dir) => {
      import s.implicits._
      // HITS hubs & authorities over the DIRECTED part co-order graph
      // (edges low→high partkey, so both roles are populated): the
      // L1-normalized integer recurrence in ppb replays value-for-value
      // in DuckDB across all 3 iterations — same discipline as the
      // PageRank oracle, doubled (two joins + two normalizing
      // truncating divisions per round). Top-50 by (auth, hub, node)
      // is a deterministic cut (node is unique).
      graft.operators.Graph.hits(partCoOrderPairs(s, dir), "a", "b",
          iters = 3)
        .orderBy($"auth_ppb".desc, $"hub_ppb".desc, $"node")
        .limit(50)
    },
    // 5 unrolled iterations of the same integral recurrence — every
    // op is integer div/multiply, so the replay is value-for-value
    // HITS replayed exactly: the same L1-normalizing truncating
    // division per half-step, totals via scalar subqueries over the
    // per-iteration raw sums
    Oracle {
      // MATERIALIZED: each CTE is read twice (join + scalar-subquery
      // total) — inlining would double the tree per half-step, 2^6
      // over 3 iterations
      def iter(i: Int) =
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS node, sum(CAST(h.hub_ppb AS HUGEINT)) AS ar
           |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
           |a$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(CAST(coalesce(r.ar, 0) AS HUGEINT)
           |      * 1000000000 // nullif((SELECT sum(ar) FROM ar$i), 0), 0)
           |    AS auth_ppb
           |  FROM nodes n LEFT JOIN ar$i r ON n.node = r.node),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS node, sum(CAST(a.auth_ppb AS HUGEINT)) AS hr
           |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
           |h$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(CAST(coalesce(r.hr, 0) AS HUGEINT)
           |      * 1000000000 // nullif((SELECT sum(hr) FROM hr$i), 0), 0)
           |    AS hub_ppb
           |  FROM nodes n LEFT JOIN hr$i r ON n.node = r.node)""".stripMargin
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey, l_partkey FROM lineitem
         |  WHERE l_orderkey % 4 = 0),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT CAST(a.l_partkey AS VARCHAR) AS src,
         |    CAST(b.l_partkey AS VARCHAR) AS dst
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey),
         |nodes AS MATERIALIZED (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |h0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS hub_ppb
         |       FROM nodes),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT h.node AS node, CAST(h.hub_ppb AS BIGINT) AS hub_ppb,
         |  CAST(a.auth_ppb AS BIGINT) AS auth_ppb
         |FROM h3 h JOIN a3 a ON h.node = a.node
         |ORDER BY auth_ppb DESC, hub_ppb DESC, h.node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_pagerank", (s, dir) => {
      import s.implicits._
      // Integer-arithmetic PageRank over the customer↔supplier trade
      // graph (edges both ways so nothing dangles): because every step
      // is integral, DuckDB replays all 5 iterations VALUE-FOR-VALUE —
      // an oracle no floating-point PageRank could pass. Top-50 by
      // (rank, node) is a deterministic cut.
      val edges = tradeEdges(s, dir)
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 5)
        .orderBy($"rank_ppb".desc, $"node").limit(50)
    },
    Oracle {
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT n.node, CAST(150000000 +
           |      CAST(coalesce(m.s, 0) AS HUGEINT) * 850000 // 1000000
           |    AS BIGINT) AS rank_ppb
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank_ppb // d.out_deg) AS s
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN outdeg d ON e.src = d.src
           |    GROUP BY 1) m ON n.node = m.node)""".stripMargin
      s"""WITH cs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM cs
         |          UNION SELECT dst AS src, src AS dst FROM cs),
         |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
         |       FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_ppb FROM r5
         |ORDER BY rank_ppb DESC, node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_pagerank_weighted", (s, dir) => {
      import s.implicits._
      // Weighted PageRank over the trade graph: an edge's weight is
      // the exact CENTS traded between the customer and supplier, so
      // rank flows where the money flows — the 90%-of-spend edge
      // carries 90% of the rank, which the unweighted surfer cannot
      // express. Cross-multiplied integer shares (rank·w div W) in
      // DECIMAL keep all 5 iterations integral; DuckDB replays them
      // value-for-value in HUGEINT. Top-50 by (rank, node).
      val edges = tradeEdges(s, dir, weighted = true)
      graft.operators.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iters = 5)
        .orderBy($"rank_ppb".desc, $"node").limit(50)
    },
    // the pagerank replay with per-edge cross-multiplied weight
    // shares: contrib = (rank * w) // W(src) in HUGEINT, five
    // unrolled rounds
    Oracle {
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT n.node, CAST(150000000 +
           |      CAST(coalesce(m.s, 0) AS HUGEINT) * 850000 // 1000000
           |    AS BIGINT) AS rank_ppb
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      sum((CAST(r.rank_ppb AS HUGEINT) * e.w) // d.w_tot) AS s
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN outw d ON e.src = d.src
           |    GROUP BY 1) m ON n.node = m.node)""".stripMargin
      s"""WITH cs AS (
         |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
         |      AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT src, dst, w FROM cs
         |          UNION ALL SELECT dst AS src, src AS dst, w FROM cs),
         |outw AS (SELECT src, CAST(sum(w) AS HUGEINT) AS w_tot
         |         FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
         |       FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_ppb FROM r5
         |ORDER BY rank_ppb DESC, node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_katz", (s, dir) => {
      import s.implicits._
      // Katz centrality over the same customer<->supplier trade
      // graph: attenuated walk counts (influence does NOT dilute
      // across out-edges — the un-normalized complement to
      // PageRank's random surfer). Integer ppb state in DECIMAL, 5
      // fixed rounds, alpha=1% — DuckDB replays every iterate in
      // HUGEINT. Top-50 by (katz, node) is a deterministic cut.
      val edges = tradeEdges(s, dir)
      graft.operators.Graph.katzCentrality(edges, "src", "dst",
          iters = 5, alphaPpm = 10000L)
        .orderBy($"katz_ppb".desc, $"node").limit(50)
    },
    // attenuated walk counts in HUGEINT: x <- 1e9 + (sum of in-rank
    // * alpha) // 1e6, five unrolled rounds — no degree division
    Oracle {
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT n.node, CAST(1000000000 AS HUGEINT) +
           |      (CAST(coalesce(m.s, 0) AS HUGEINT) * 10000) // 1000000
           |    AS katz_ppb
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.katz_ppb) AS s
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    GROUP BY 1) m ON n.node = m.node)""".stripMargin
      s"""WITH cs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM cs
         |          UNION SELECT dst AS src, src AS dst FROM cs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS katz_ppb
         |       FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, CAST(katz_ppb AS BIGINT) AS katz_ppb FROM r5
         |ORDER BY katz_ppb DESC, node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_eigenvector", (s, dir) => {
      import s.implicits._
      // Eigenvector centrality over the symmetrized trade graph —
      // the UNDAMPED member beside pagerank (degree-normalized +
      // teleport), katz (attenuated + re-seeded) and hits (two
      // matrices): bare power iteration with per-round ppb L1
      // normalization, 4 fixed rounds, every step integral — DuckDB
      // replays all rounds value-for-value. Top-50 by (eig, node) is
      // a deterministic cut.
      val edges = tradeEdges(s, dir)
      graft.operators.Graph.eigenvectorCentrality(edges, "src", "dst",
          iters = 4)
        .orderBy($"eig_ppb".desc, $"node").limit(50)
    },
    // bare power iteration x <- A x with per-round ppb L1
    // normalization (truncating HUGEINT division by the round total)
    // — the graph_hits replay discipline on ONE matrix, 4 unrolled
    // rounds; MATERIALIZED because each round is read twice (join +
    // scalar-subquery total)
    Oracle {
      def iter(i: Int) =
        s"""er$i AS MATERIALIZED (
           |  SELECT e.dst AS node, sum(CAST(r.eig_ppb AS HUGEINT)) AS er
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1),
           |r$i AS MATERIALIZED (
           |  SELECT n.node, coalesce(CAST(coalesce(x.er, 0) AS HUGEINT)
           |      * 1000000000 // nullif((SELECT sum(er) FROM er$i), 0), 0)
           |    AS eig_ppb
           |  FROM nodes n LEFT JOIN er$i x ON n.node = x.node)""".stripMargin
      s"""WITH cs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM cs
         |          UNION SELECT dst AS src, src AS dst FROM cs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000000 AS HUGEINT) AS eig_ppb
         |       FROM nodes),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT node, CAST(eig_ppb AS BIGINT) AS eig_ppb FROM r4
         |ORDER BY eig_ppb DESC, node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_scc", (s, dir) => {
      import s.implicits._
      // Strongly connected components of the DIRECTED
      // customer<->supplier trade graph (mod-8 order slice; customers
      // even ids, suppliers odd), each trade edge oriented by key-sum
      // parity — a deterministic direction rule both engines compute
      // identically. Dense bipartite hubs keep the diameter SHALLOW
      // at every sf (the iterative cost axis — a sparse co-order
      // slice measured 100+ propagation rounds at sf0.1; this shape
      // converges in single digits). The engine runs trim+coloring
      // label propagation (never a transitive closure); the oracle
      // brute-forces mutual reachability with a recursive-CTE
      // closure, so the grade is algorithm-independent.
      // SIDE-EFFECTING (the peel/color rounds run eagerly at
      // construction; the decomposition is built once per sf dir and
      // shared with graph_scc_condensation — see built.sccLabels).
      val (_, lab) = built.sccLabels(s, dir)
      lab.select($"id".cast("long").as("id"),
          $"scc_id".cast("long").as("scc_id"))
        .orderBy($"id")
    },
    // SCC by brute mutual reachability: the recursive CTE computes
    // the full forward closure (fixpoint UNION — fine at oracle
    // scale), then scc_id(v) = min over partners u with BOTH (v,u)
    // and (u,v) in the closure, defaulting to v itself. Algorithm-
    // independent: the engine's trim+coloring never builds a closure
    Oracle(s"""WITH RECURSIVE
         |$sccOracleCore
         |SELECT id, scc_id FROM lab ORDER BY id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_mst", (s, dir) => {
      import s.implicits._
      // Minimum spanning forest of the mod-97 supplier co-order
      // graph (vertices = l_suppkey % 97, an edge when two classes
      // share an order in the deterministic 1-in-8 order slice;
      // weight a fixed hash of the pair, strict total order by
      // (w, a, b)): the engine runs distributed Boruvka — per round
      // one label join + one per-component argmin + component-scale
      // contraction — while the oracle runs KRUSKAL over the same
      // strict order, so the grade is algorithm-independent (the
      // unique-MST theorem is the bridge). Edge count is BOUNDED by
      // construction (≤ C(97,2)) at every sf. SIDE-EFFECTING
      // (per-round convergence counts).
      val li = Tables.lineitem(s, dir)
        .filter(pmod($"l_orderkey", lit(8)) === 0)
        .select($"l_orderkey".as("ok"), pmod($"l_suppkey", lit(97)).as("v"))
        .distinct()
      val pairs = li.select($"ok", $"v".as("va"))
        .join(li.select($"ok", $"v".as("vb")), "ok")
        .filter($"va" < $"vb")
        .select($"va".as("a"), $"vb".as("b")).distinct()
      val e = pairs.select($"a", $"b",
        (pmod($"a" * 131 + $"b" * 53, lit(997)) + 1).as("w"))
      graft.operators.Graph.minimumSpanningForest(e, "a", "b", "w")
    },
    // per-edge parity orientation, one reversed-key self-join; ppm
    // by HUGEINT truncating division
    // KRUSKAL over the same strict (w, a, b) order the engine's
    // Boruvka tie-breaks by — algorithm-independent via the
    // unique-MST theorem; global recursion + list label state (the
    // ts_pacf-green shape), MATERIALIZED so the 97-vertex label fold
    // does not re-derive the edge table per step
    Oracle("""WITH RECURSIVE
        |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |    l_suppkey % 97 AS v
        |  FROM lineitem WHERE l_orderkey % 8 = 0),
        |p AS MATERIALIZED (SELECT DISTINCT x.v AS a, y.v AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.v < y.v),
        |s AS MATERIALIZED (SELECT a, b, w,
        |    CAST(row_number() OVER (ORDER BY w, a, b) AS BIGINT) AS i
        |  FROM (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |      CAST((a * 131 + b * 53) % 997 + 1 AS BIGINT) AS w
        |    FROM p) e),
        |r AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |    list_transform(range(0, 97), v -> CAST(v AS BIGINT)) AS lab,
        |    CAST(NULL AS BIGINT) AS ea, CAST(NULL AS BIGINT) AS eb,
        |    CAST(NULL AS BIGINT) AS ew, FALSE AS took
        |  UNION ALL
        |  SELECT s.i,
        |    CASE WHEN r.lab[CAST(s.a + 1 AS INT)]
        |        <> r.lab[CAST(s.b + 1 AS INT)]
        |      THEN list_transform(r.lab, x -> CASE
        |        WHEN x = greatest(r.lab[CAST(s.a + 1 AS INT)],
        |                          r.lab[CAST(s.b + 1 AS INT)])
        |        THEN least(r.lab[CAST(s.a + 1 AS INT)],
        |                   r.lab[CAST(s.b + 1 AS INT)])
        |        ELSE x END)
        |      ELSE r.lab END,
        |    s.a, s.b, s.w,
        |    r.lab[CAST(s.a + 1 AS INT)] <> r.lab[CAST(s.b + 1 AS INT)]
        |  FROM r JOIN s ON s.i = r.i + 1)
        |SELECT ea AS src, eb AS dst, ew AS weight
        |FROM r WHERE took ORDER BY weight, src, dst""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_matching", (s, dir) => {
      import s.implicits._
      // Greedy maximal matching of the same mod-97 weighted co-order
      // graph — the assignment member (pair entities so no one is
      // claimed twice, 1/2-approx on the weight order): the engine
      // runs locally-dominant rounds (mutual-minimum edges match,
      // matched vertices leave), the oracle replays the SEQUENTIAL
      // greedy scan — identical results under a strict total order,
      // so the grade is algorithm-independent. SIDE-EFFECTING
      // (per-round convergence counts).
      val li = Tables.lineitem(s, dir)
        .filter(pmod($"l_orderkey", lit(8)) === 0)
        .select($"l_orderkey".as("ok"), pmod($"l_suppkey", lit(97)).as("v"))
        .distinct()
      val pairs = li.select($"ok", $"v".as("va"))
        .join(li.select($"ok", $"v".as("vb")), "ok")
        .filter($"va" < $"vb")
        .select($"va".as("a"), $"vb".as("b")).distinct()
      val e = pairs.select($"a", $"b",
        (pmod($"a" * 131 + $"b" * 53, lit(997)) + 1).as("w"))
      graft.operators.Graph.maximalMatching(e, "a", "b", "w")
    },
    // SEQUENTIAL greedy matching over the same strict (w, a, b)
    // order the engine's locally-dominant rounds use — identical
    // result under a strict total order (see maximalMatching doc);
    // positional flags list rebuilt per step (the proven
    // list_transform-over-range dialect)
    Oracle("""WITH RECURSIVE
        |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |    l_suppkey % 97 AS v
        |  FROM lineitem WHERE l_orderkey % 8 = 0),
        |p AS MATERIALIZED (SELECT DISTINCT x.v AS a, y.v AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.v < y.v),
        |s AS MATERIALIZED (SELECT a, b, w,
        |    CAST(row_number() OVER (ORDER BY w, a, b) AS BIGINT) AS i
        |  FROM (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |      CAST((a * 131 + b * 53) % 997 + 1 AS BIGINT) AS w
        |    FROM p) e),
        |r AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |    list_transform(range(0, 97), v -> CAST(0 AS BIGINT)) AS fl,
        |    CAST(NULL AS BIGINT) AS ea, CAST(NULL AS BIGINT) AS eb,
        |    CAST(NULL AS BIGINT) AS ew, FALSE AS took
        |  UNION ALL
        |  SELECT s.i,
        |    CASE WHEN r.fl[CAST(s.a + 1 AS INT)] = 0
        |        AND r.fl[CAST(s.b + 1 AS INT)] = 0
        |      THEN list_transform(range(0, 97), v ->
        |        CASE WHEN v = s.a OR v = s.b THEN CAST(1 AS BIGINT)
        |          ELSE r.fl[CAST(v + 1 AS INT)] END)
        |      ELSE r.fl END,
        |    s.a, s.b, s.w,
        |    r.fl[CAST(s.a + 1 AS INT)] = 0
        |      AND r.fl[CAST(s.b + 1 AS INT)] = 0
        |  FROM r JOIN s ON s.i = r.i + 1)
        |SELECT ea AS src, eb AS dst, ew AS weight
        |FROM r WHERE took ORDER BY weight, src, dst""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_bipartite_check", (s, dir) => {
      import s.implicits._
      // Is the graph TWO-SIDED? Per component: BFS parity classes
      // from the canonical root and the count of same-parity edges —
      // zero means bipartite (a valid 2-coloring exists), nonzero
      // counts the odd-cycle evidence. Engine: the existing CC +
      // multi-source BFS machinery (distances from every component
      // root in ONE sweep); oracle: closure-based components and a
      // UNION-dedup BFS — algorithm-independent, graded against the
      // DEFINITION of distance parity. SIDE-EFFECTING (CC/BFS
      // rounds are eager).
      val li = Tables.lineitem(s, dir)
        .filter(pmod($"l_orderkey", lit(8)) === 0)
        .select($"l_orderkey".as("ok"), pmod($"l_suppkey", lit(97)).as("v"))
        .distinct()
      val pairs = li.select($"ok", $"v".as("va"))
        .join(li.select($"ok", $"v".as("vb")), "ok")
        .filter($"va" < $"vb")
        .select($"va".as("a"), $"vb".as("b")).distinct()
        .localCheckpoint(true) // cc + bfs + parity-join consumers
      val cc = graft.operators.Graph.connectedComponents(pairs, "a", "b")
      val roots = cc.select($"comp".as("id")).distinct()
      // maxHops bounds eccentricity from the min-id root: 96 is the
      // vertex-count bound for this 97-vertex (suppkey mod 97) graph,
      // so shortestPaths can never silently truncate — a hop-capped
      // BFS would drop vertices from `dist`, the parity joins would
      // drop edges, and a non-bipartite component could read bipartite
      val dist = graft.operators.Graph.shortestPaths(pairs, roots,
        "a", "b", "id", maxHops = 96)
      val da = dist.select($"id".as("a"), pmod($"dist", lit(2)).as("qa"))
      val db = dist.select($"id".as("b"), pmod($"dist", lit(2)).as("qb"))
      val compA = cc.select($"id".as("a"), $"comp")
      val vcount = cc.groupBy($"comp")
        .agg(count(lit(1)).as("n_vertices"))
      val ecount = pairs.join(compA, "a").join(da, "a").join(db, "b")
        .groupBy($"comp")
        .agg(count(lit(1)).as("n_edges"),
          sum(when($"qa" === $"qb", 1L).otherwise(0L)).as("n_odd_edges"))
      vcount.join(ecount, "comp") // every component has >= 1 edge
        .select($"comp".cast("bigint").as("component"),
          $"n_vertices".cast("bigint").as("n_vertices"),
          $"n_edges".cast("bigint").as("n_edges"),
          $"n_odd_edges".cast("bigint").as("n_odd_edges"),
          ($"n_odd_edges" === 0L).as("is_bipartite"))
        .orderBy($"component")
    },
    // closure-based components + UNION-dedup BFS (min dist per id,
    // bounded by the 97-vertex construction) — graded against the
    // DEFINITION of distance parity, not a replay of the engine
    Oracle("""WITH RECURSIVE
        |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |    l_suppkey % 97 AS v
        |  FROM lineitem WHERE l_orderkey % 8 = 0),
        |p AS MATERIALIZED (SELECT DISTINCT CAST(x.v AS BIGINT) AS a,
        |    CAST(y.v AS BIGINT) AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.v < y.v),
        |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b, a FROM p),
        |vt AS (SELECT DISTINCT u AS id FROM sym),
        |reach AS (
        |  SELECT id AS a, id AS b FROM vt
        |  UNION
        |  SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b),
        |cmp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1),
        |bfs AS (
        |  SELECT comp AS id, CAST(0 AS BIGINT) AS dist
        |  FROM (SELECT DISTINCT comp FROM cmp) roots
        |  UNION
        |  SELECT s.v, b.dist + 1 FROM bfs b JOIN sym s ON s.u = b.id
        |  WHERE b.dist < 97),
        |d AS (SELECT id, min(dist) AS dist FROM bfs GROUP BY 1),
        |par AS (SELECT p.a, p.b, da.dist % 2 AS qa, db.dist % 2 AS qb,
        |    ca.comp
        |  FROM p JOIN d da ON da.id = p.a JOIN d db ON db.id = p.b
        |  JOIN cmp ca ON ca.id = p.a),
        |vs AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_vertices
        |  FROM cmp GROUP BY 1),
        |es AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(CASE WHEN qa = qb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_odd_edges
        |  FROM par GROUP BY 1)
        |SELECT CAST(vs.comp AS BIGINT) AS component, n_vertices,
        |  n_edges, n_odd_edges, n_odd_edges = 0 AS is_bipartite
        |FROM vs JOIN es ON es.comp = vs.comp
        |ORDER BY component""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_reciprocity", (s, dir) => {
      import s.implicits._
      // Edge reciprocity of a DIRECTED trade graph — the one-number
      // directedness reading next to the SCC family (a reciprocity
      // near 1 says the graph is effectively undirected; near 0 says
      // flow matters): here each trade pair orients per ORDER-key
      // parity, so both directions can genuinely coexist. One edge
      // self-join on the reversed key — edge-scale, never pairwise.
      val e = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"),
          pmod($"o_orderkey", lit(2)).as("p"))
        .distinct()
        .select(when($"p" === 0, $"c").otherwise($"s").as("src"),
          when($"p" === 0, $"s").otherwise($"c").as("dst"))
        .distinct()
      val rev = e.select($"dst".as("src"), $"src".as("dst"))
        .withColumn("__r", lit(1))
      e.join(rev, Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(when($"__r".isNotNull, 1L).otherwise(0L))
            .as("n_reciprocal"))
        .select($"n_edges".cast("bigint").as("n_edges"),
          $"n_reciprocal".cast("bigint").as("n_reciprocal"),
          expr("CAST(n_reciprocal AS DECIMAL(38,0)) * 1000000" +
            " div n_edges").cast("long").as("reciprocity_ppm"))
    },
    Oracle("""WITH b AS (SELECT DISTINCT o_custkey * 2 AS c,
        |    l_suppkey * 2 + 1 AS s, o_orderkey % 2 AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT DISTINCT
        |    CASE WHEN p = 0 THEN c ELSE s END AS src,
        |    CASE WHEN p = 0 THEN s ELSE c END AS dst
        |  FROM b),
        |r AS (SELECT e.src, e.dst,
        |    CASE WHEN ee.src IS NOT NULL THEN 1 ELSE 0 END AS has
        |  FROM e LEFT JOIN e ee
        |  ON ee.src = e.dst AND ee.dst = e.src)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(has) AS BIGINT) AS n_reciprocal,
        |  CAST((CAST(sum(has) AS HUGEINT) * 1000000) // count(*)
        |    AS BIGINT) AS reciprocity_ppm
        |FROM r""".stripMargin),
    bench = true),

    QuerySpec("graph_scc_dag_levels", (s, dir) => {
      import s.implicits._
      // Topological WAVES of the SCC condensation — which component
      // layer feeds which: longest-path level per SCC (sources at 0).
      // The condensation is a DAG by construction, so dagLevels'
      // loud cycle guard cannot fire; the oracle walks every path
      // with a recursive CTE and takes the max depth per node —
      // algorithm-independent like the rest of the scc family.
      // SIDE-EFFECTING (shared decomposition + level rounds eager).
      val (e, scc) = built.sccLabels(s, dir)
      val ce = e
        .join(scc.select($"id".as("src"), $"scc_id".as("a")), "src")
        .join(scc.select($"id".as("dst"), $"scc_id".as("b")), "dst")
        .filter($"a" =!= $"b").select($"a", $"b").distinct()
      val lv = graft.operators.Graph.dagLevels(ce, "a", "b")
      // isolated SCCs (no cross edge) are sources at level 0
      scc.select($"scc_id").distinct()
        .join(lv.select($"id".as("scc_id"), $"level"), Seq("scc_id"),
          "left")
        .select($"scc_id".cast("long").as("scc_id"),
          coalesce($"level", lit(0L)).cast("long").as("level"))
        .orderBy($"scc_id")
    },
    // max walk depth per condensation node: seed every SCC at 0 and
    // walk the (finite, DAG) paths — UNION dedupes (node, depth)
    Oracle(s"""WITH RECURSIVE
         |$sccOracleCore,
         |ce AS (SELECT DISTINCT la.scc_id AS a, lb.scc_id AS b
         |  FROM e JOIN lab la ON la.id = e.src
         |  JOIN lab lb ON lb.id = e.dst
         |  WHERE la.scc_id <> lb.scc_id),
         |nodes AS (SELECT DISTINCT scc_id FROM lab),
         |walk AS (
         |  SELECT scc_id AS v, CAST(0 AS BIGINT) AS d FROM nodes
         |  UNION
         |  SELECT ce.b, walk.d + 1 FROM walk JOIN ce ON ce.a = walk.v)
         |SELECT v AS scc_id, CAST(max(d) AS BIGINT) AS level
         |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_scc_condensation", (s, dir) => {
      import s.implicits._
      // The SCC condensation DAG — the structure ON TOP of graph_scc:
      // collapse each SCC to one node and count the cross-SCC edges
      // (which upstream component feeds which downstream one, and how
      // thickly). Same trade graph, same decomposition; the oracle
      // recomputes the closure-based SCC labels and joins the edges,
      // so the grade stays algorithm-independent. SIDE-EFFECTING
      // (the shared decomposition builds eagerly — built.sccLabels).
      val (e, scc) = built.sccLabels(s, dir)
      e.join(scc.select($"id".as("src"), $"scc_id".as("scc_a")), "src")
        .join(scc.select($"id".as("dst"), $"scc_id".as("scc_b")), "dst")
        .filter($"scc_a" =!= $"scc_b")
        .groupBy($"scc_a", $"scc_b")
        .agg(count(lit(1)).cast("long").as("n_cross"))
        .select($"scc_a".cast("long").as("scc_a"),
          $"scc_b".cast("long").as("scc_b"), $"n_cross")
        .orderBy($"scc_a", $"scc_b")
    },
    // the same brute labels joined back onto the edges: cross-SCC
    // edge census = the condensation DAG
    Oracle(s"""WITH RECURSIVE
         |$sccOracleCore
         |SELECT la.scc_id AS scc_a, lb.scc_id AS scc_b,
         |  CAST(count(*) AS BIGINT) AS n_cross
         |FROM e JOIN lab la ON la.id = e.src
         |JOIN lab lb ON lb.id = e.dst
         |WHERE la.scc_id <> lb.scc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_pagerank_personalized", (s, dir) => {
      import s.implicits._
      // Personalized PageRank from the custkey%50==0 seed customers
      // over the same trade graph: teleport mass lands only on the
      // seeds, rank = proximity to them. The identical integer
      // recurrence (seed-split base, div arithmetic) replays
      // value-for-value in DuckDB across all 4 iterations.
      // SIDE-EFFECTING (iterations run eagerly at construction).
      val edges = tradeEdges(s, dir)
      val seeds = Tables.orders(s, dir)
        .filter(pmod($"o_custkey", lit(50)) === 0)
        .select(concat(lit("c"), $"o_custkey").as("id")).distinct()
      Graph.pageRankPersonalized(edges, seeds, "src", "dst", "id",
          iters = 4)
        .orderBy($"rank_ppb".desc, $"node").limit(50)
    },
    // 4 unrolled iterations of the seed-split integral recurrence —
    // the base lands on seeds only, everything else is graph_pagerank's
    // proven integer replay
    Oracle {
      def iter(i: Int) =
        s"""r$i AS (
           |  SELECT n.node, n.is_seed,
           |    CAST((CASE WHEN n.is_seed THEN b.base ELSE 0 END) +
           |      CAST(coalesce(m.s, 0) AS HUGEINT) * 850000 // 1000000
           |    AS BIGINT) AS rank_ppb
           |  FROM sn n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank_ppb // d.out_deg) AS s
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN outdeg d ON e.src = d.src
           |    GROUP BY 1) m ON n.node = m.node, b)""".stripMargin
      s"""WITH cs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM cs
         |          UNION SELECT dst AS src, src AS dst FROM cs),
         |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges)),
         |seeds AS (SELECT DISTINCT 'c' || o_custkey AS node FROM orders
         |  WHERE o_custkey % 50 = 0),
         |sn AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         |b AS (SELECT CAST(150000000 // count(*) AS BIGINT) AS base
         |  FROM sn WHERE is_seed),
         |r0 AS (SELECT node, is_seed,
         |  CAST(CASE WHEN is_seed THEN base ELSE 0 END AS BIGINT)
         |    AS rank_ppb FROM sn, b),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT node, rank_ppb FROM r4
         |ORDER BY rank_ppb DESC, node LIMIT 50""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_triangles", (s, dir) => {
      import s.implicits._
      // Exact triangle count over the part co-order graph (two parts
      // are linked iff some order contains lineitems for both) — the
      // degree-oriented wedge join whose result DuckDB recomputes
      // from the same edge derivation. Parts, not suppliers: the
      // part key space keeps the graph realistically sparse (avg
      // degree tens), while the tiny supplier space degenerates into
      // a near-clique whose triangle census is O(V^3) for ANY
      // algorithm. Per-order fan-out is small, so the pair
      // derivation is bounded; the count is the O(m^1.5) plan.
      graft.operators.Graph.triangleCount(
        partCoOrderPairs(s, dir), "a", "b")
    },
    // triangle census replayed exactly: canonical (a<b) part
    // co-order edges, then the textbook 3-way edge join (each
    // triangle u<v<w matches exactly once as (u,v),(u,w),(v,w))
    Oracle("""WITH p AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |d AS (SELECT id FROM
        |  (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)
        |  GROUP BY id)
        |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_vertices,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*)
        |        FROM p e1 JOIN p e2 ON e1.a = e2.a AND e1.b < e2.b
        |        JOIN p e3 ON e3.a = e1.b AND e3.b = e2.b) AS BIGINT)
        |    AS n_triangles""".stripMargin),
    bench = true),

    QuerySpec("graph_local_triangles", (s, dir) => {
      import s.implicits._
      // Per-vertex triangle participation on the part co-order graph
      // (the local-clustering-coefficient numerator, kept as exact
      // integers): top-50 by (n_tri, deg, id) is a deterministic cut
      // the oracle recomputes from its own triple join.
      graft.operators.Graph.localTriangles(partCoOrderPairs(s, dir),
          "a", "b")
        .orderBy($"n_tri".desc, $"deg".desc, $"id").limit(50)
    },
    // per-vertex census from the same triple join, each triangle
    // crediting its three vertices; deterministic top-50 cut
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |d AS (SELECT id, count(*) AS deg FROM
        |  (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)
        |  GROUP BY id),
        |tr AS MATERIALIZED (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM p e1 JOIN p e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN p e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tv AS (SELECT id, count(*) AS n_tri FROM
        |  (SELECT u AS id FROM tr UNION ALL SELECT v AS id FROM tr
        |   UNION ALL SELECT w AS id FROM tr) GROUP BY id)
        |SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_tri
        |FROM d LEFT JOIN tv USING (id)
        |ORDER BY n_tri DESC, deg DESC, id LIMIT 50""".stripMargin),
    bench = true),

    QuerySpec("graph_kcore", (s, dir) => {
      import s.implicits._
      // 12-core of the same part co-order graph: iterative peel to
      // the unique maximal subgraph of minimum internal degree 12.
      // The fixpoint is order-independent, so DuckDB replays the peel
      // ROUND FOR ROUND (10 unrolled rounds in the oracle = kCore's
      // loud maxIter bound) and the (id, within-core degree) rows
      // must match exactly.
      graft.operators.Graph.kCore(partCoOrderPairs(s, dir), k = 12,
          "a", "b", maxIter = 10)
        .orderBy($"id")
    },
    Oracle {
      // MATERIALIZED: each round references the previous one twice,
      // so default CTE inlining would expand e0 2^10 times (measured:
      // DuckDB exhausts file handles re-opening the parquet)
      def round(i: Int) =
        s"""s$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
           |  HAVING count(*) >= 12),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN s$i x ON e.u = x.u JOIN s$i y ON e.v = y.u)""".stripMargin
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  WHERE l1.l_orderkey % 4 = 0),
         |e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM p
         |  UNION ALL SELECT b AS u, a AS v FROM p),
         |${(1 to 10).map(round).mkString(",\n")}
         |SELECT u AS id, CAST(count(*) AS BIGINT) AS deg
         |FROM e10 GROUP BY u ORDER BY id""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_coreness", (s, dir) => {
      import s.implicits._
      // Full core decomposition of the part co-order graph — the
      // per-node core NUMBER graph_kcore's single-k membership test
      // can't give: degree-seeded h-index iteration (Lü-Zhou-Zhang),
      // 4 fixed rounds replayed value-for-value (the pageRank
      // truncation contract — the h-index is tie-order independent,
      // so both engines' ranks agree). SIDE-EFFECTING (rounds build
      // eagerly through per-round lineage truncation).
      graft.operators.Graph.coreness(partCoOrderPairs(s, dir),
          "a", "b", iters = 4)
        .orderBy($"node")
    },
    // degree-seeded h-index rounds, each MATERIALIZED (edges feed all
    // four rounds); the h-index max(LEAST(rank, value)) is tie-order
    // independent, so row_number ties can't diverge the engines
    Oracle {
      def round(i: Int) =
        s"""n$i AS (SELECT e.v AS node, r.c FROM edges e
           |  JOIN c${i - 1} r ON e.u = r.node),
           |c$i AS MATERIALIZED (SELECT node,
           |    CAST(max(LEAST(rn, c)) AS BIGINT) AS c
           |  FROM (SELECT node, c, row_number() OVER (
           |      PARTITION BY node ORDER BY c DESC) AS rn FROM n$i)
           |  GROUP BY node)""".stripMargin
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
         |  WHERE l_orderkey % 4 = 0),
         |p AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey),
         |edges AS MATERIALIZED (SELECT a AS u, b AS v FROM p
         |  UNION SELECT b AS u, a AS v FROM p),
         |c0 AS MATERIALIZED (SELECT u AS node,
         |    CAST(count(*) AS BIGINT) AS c FROM edges GROUP BY 1),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT node, c AS coreness FROM c4 ORDER BY node""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_shortest_paths", (s, dir) => {
      import s.implicits._
      // Bounded multi-source BFS over the part co-order graph: hop
      // distance from the nearest id%97==0 seed, depth-capped at 8 (the
      // measured BFS depth here is 3, so the cap never binds and both
      // engines compute the COMPLETE answer — DuckDB replays the same
      // wavefront with a depth-capped recursive CTE). SIDE-EFFECTING
      // (BFS rounds run eagerly at construction).
      val edges = partCoOrderPairs(s, dir)
      val verts = edges.select($"a".as("id"))
        .union(edges.select($"b".as("id"))).distinct()
      Graph.shortestPaths(edges, verts.filter($"id" % 97 === 0),
          "a", "b", "id", maxHops = 8)
        .select($"id", $"dist".cast("bigint").as("dist"))
        .orderBy($"id")
    },
    // same co-order edge derivation as graph_kcore; the wavefront
    // replays as a depth-capped recursive CTE (UNION dedups (id,d)
    // states, min() collapses to the first hop that reached each id)
    Oracle("""WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |src AS (SELECT DISTINCT u AS id FROM e WHERE u % 97 = 0),
        |bfs AS (
        |  SELECT id, 0 AS d FROM src
        |  UNION
        |  SELECT e.v AS id, b.d + 1 AS d FROM bfs b
        |  JOIN e ON e.u = b.id WHERE b.d < 8)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist
        |FROM bfs GROUP BY id ORDER BY id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_rich_club", (s, dir) => {
      import s.implicits._
      // Rich-club curve of the part co-order graph over a log degree
      // grid — at which degree do the hubs close ranks? Exact
      // histogram-tail integers, one ppm division per threshold.
      Graph.richClub(partCoOrderPairs(s, dir), "a", "b")
    },
    // histogram tails per threshold; one ppm division; N_k < 2 absent
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM p
        |  GROUP BY 1, 2),
        |sym AS (SELECT u FROM e UNION ALL SELECT v FROM e),
        |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |dh AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt
        |  FROM deg GROUP BY 1),
        |mh AS (SELECT least(du.deg, dv.deg) AS md,
        |    CAST(count(*) AS BIGINT) AS cnte
        |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
        |  GROUP BY 1),
        |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128])
        |    AS BIGINT) AS k),
        |clubs AS (SELECT k, CAST(sum(CASE WHEN deg > k THEN cnt
        |    ELSE 0 END) AS BIGINT) AS n_nodes
        |  FROM ks, dh GROUP BY 1),
        |intr AS (SELECT k, CAST(sum(CASE WHEN md > k THEN cnte
        |    ELSE 0 END) AS BIGINT) AS n_edges
        |  FROM ks, mh GROUP BY 1)
        |SELECT clubs.k, n_nodes, n_edges,
        |  CAST((CAST(2 AS HUGEINT) * n_edges * 1000000)
        |    // (CAST(n_nodes AS HUGEINT) * (n_nodes - 1)) AS BIGINT)
        |    AS phi_ppm
        |FROM clubs JOIN intr ON clubs.k = intr.k
        |WHERE n_nodes >= 2 ORDER BY clubs.k""".stripMargin),
    bench = true),

    QuerySpec("graph_diameter", (s, dir) => {
      import s.implicits._
      // Two-sweep BFS diameter lower bound on the part co-order
      // graph: start at (max degree, min id), sweep, re-sweep from
      // the farthest vertex — the "how wide is this graph" reading.
      // SIDE-EFFECTING (both sweeps run eagerly at construction).
      Graph.diameterBound(partCoOrderPairs(s, dir), "a", "b",
        maxHops = 12)
    },
    // the double sweep replayed: deterministic (max degree, min id)
    // start, farthest (max dist, min id) restart, both hop-bounded
    Oracle("""WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |deg AS (SELECT u AS id, count(*) AS dg FROM e GROUP BY 1),
        |s1 AS (SELECT id FROM deg ORDER BY dg DESC, id LIMIT 1),
        |b1 AS (
        |  SELECT id, 0 AS d FROM s1
        |  UNION
        |  SELECT e.v AS id, b.d + 1 AS d FROM b1 b
        |  JOIN e ON e.u = b.id WHERE b.d < 12),
        |d1 AS (SELECT id, min(d) AS dist FROM b1 GROUP BY 1),
        |s2 AS (SELECT id, dist FROM d1 ORDER BY dist DESC, id LIMIT 1),
        |b2 AS (
        |  SELECT id, 0 AS d FROM s2
        |  UNION
        |  SELECT e.v AS id, b.d + 1 AS d FROM b2 b
        |  JOIN e ON e.u = b.id WHERE b.d < 12),
        |d2 AS (SELECT id, min(d) AS dist FROM b2 GROUP BY 1)
        |SELECT (SELECT CAST(id AS BIGINT) FROM s1) AS seed_a,
        |  (SELECT CAST(dist AS BIGINT) FROM s2) AS ecc_a,
        |  (SELECT CAST(id AS BIGINT) FROM s2) AS seed_b,
        |  (SELECT CAST(max(dist) AS BIGINT) FROM d2) AS diameter_lb""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_cooccurrence", (s, dir) => {
      import s.implicits._
      // The edge builder the graph family consumes, now first-class:
      // weighted part co-occurrence (n_shared = distinct orders the
      // pair shares), top-50 strongest pairs. The loud quadratic guard
      // is the operator's scale contract.
      Graph.coOccurrence(
          Tables.lineitem(s, dir).filter(pmod($"l_orderkey", lit(4)) === 0),
          "l_orderkey", "l_partkey", weighted = true)
        .orderBy($"n_shared".desc, $"id_a", $"id_b")
        .limit(50)
    },
    // 10 unrolled peel rounds (= kCore's maxIter) of the same
    // degree-filter recurrence; the fixpoint is unique, so once the
    // peel stabilizes the extra rounds are no-ops and the replay is
    // row-for-row
    Oracle("""SELECT a AS id_a, b AS id_b, n_shared FROM (
        |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
        |    CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_shared
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0
        |  GROUP BY 1, 2)
        |ORDER BY n_shared DESC, id_a, id_b LIMIT 50""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_weighted_paths", (s, dir) => {
      import s.implicits._
      // Hop-bounded Bellman-Ford over the WEIGHTED co-order graph:
      // strong ties (many shared orders) are cheap to traverse
      // (w = max(1, 8 - n_shared)), seeds are the id%97==0 vertices,
      // walks capped at 6 edges. Integer weights make the bounded
      // minimum a pure function; DuckDB enumerates the same walk
      // space with a hop-counting recursive CTE. SIDE-EFFECTING
      // (relaxation rounds run eagerly at construction).
      val w = Graph.coOccurrence(
          Tables.lineitem(s, dir).filter(pmod($"l_orderkey", lit(4)) === 0),
          "l_orderkey", "l_partkey", weighted = true)
        .withColumn("w", greatest(lit(1L), lit(8L) - $"n_shared"))
      val e = w.select($"id_a".as("src"), $"id_b".as("dst"), $"w".as("weight"))
        .unionByName(
          w.select($"id_b".as("src"), $"id_a".as("dst"), $"w".as("weight")))
      val verts = e.select($"src".as("id")).distinct()
      Graph.weightedShortestPaths(e, verts.filter($"id" % 97 === 0),
          maxHops = 6)
        .select($"id", $"dist".cast("bigint").as("dist"))
        .orderBy($"id")
    },
    // weighted Bellman-Ford replay: the recursive CTE enumerates the
    // identical ≤6-hop walk space (hop counter caps recursion, UNION
    // dedups (id, d, hop) states) and min() collapses per vertex
    Oracle("""WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
        |    count(DISTINCT l1.l_orderkey) AS n_shared
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a AS u, b AS v, GREATEST(1, 8 - n_shared) AS w FROM p
        |  UNION ALL SELECT b AS u, a AS v, GREATEST(1, 8 - n_shared) AS w
        |  FROM p),
        |src AS (SELECT DISTINCT u AS id FROM e WHERE u % 97 = 0),
        |walk AS (
        |  SELECT id, CAST(0 AS BIGINT) AS d, 0 AS hop FROM src
        |  UNION
        |  SELECT e.v AS id, b.d + e.w AS d, b.hop + 1 AS hop
        |  FROM walk b JOIN e ON e.u = b.id WHERE b.hop < 6)
        |SELECT id, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY id ORDER BY id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_label_prop", (s, dir) => {
      import s.implicits._
      // Community detection by SYNCHRONOUS label propagation over the
      // part co-order graph: 3 rounds of neighborhood consensus,
      // min-label tie-break. The fixed-round synchronous form is a
      // pure function of (edges, iters) — DuckDB replays each round's
      // (count desc, label asc) argmax exactly. SIDE-EFFECTING
      // (rounds run eagerly at construction).
      Graph.labelPropagation(partCoOrderPairs(s, dir), "a", "b", iters = 3)
        .orderBy($"id")
    },
    // 3 unrolled synchronous-LPA rounds: per round, the (count desc,
    // label asc) argmax over neighbor labels — deterministic in both
    // engines, so labels replay value-for-value
    Oracle {
      def round(i: Int) =
        s"""c$i AS (SELECT e.u, l.label, count(*) AS c
           |  FROM e JOIN l${i - 1} l ON e.v = l.id GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT u AS id, label FROM (
           |  SELECT u, label, row_number() OVER (
           |    PARTITION BY u ORDER BY c DESC, label ASC) AS rn
           |  FROM c$i) WHERE rn = 1)""".stripMargin
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  WHERE l1.l_orderkey % 4 = 0),
         |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
         |  UNION SELECT b AS u, a AS v FROM p),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM e),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
         |FROM l3 ORDER BY id""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_louvain", (s, dir) => {
      import s.implicits._
      // Synchronous Louvain move phase over the part co-order graph:
      // 2 rounds of simultaneous modularity-greedy moves, exact
      // integer gain comparator (cross-multiplied by 2m), smallest-
      // label ties. Pure function of (edges, iters) — DuckDB replays
      // each round's argmax exactly. SIDE-EFFECTING (rounds run
      // eagerly at construction).
      Graph.louvainMove(partCoOrderPairs(s, dir), "a", "b", iters = 2)
        .orderBy($"id")
    },
    // each synchronous Louvain round replayed exactly: the HUGEINT
    // score 2m·k − deg·(tot − [own]·deg) mirrors the DECIMAL
    // comparator, argmax by (score desc, label asc)
    Oracle {
      def round(i: Int) =
        s"""t$i AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS tot
           |  FROM l${i - 1} l JOIN deg d USING (id) GROUP BY 1),
           |k$i AS (SELECT e.u, l.label AS d, count(*) AS k
           |  FROM e JOIN l${i - 1} l ON e.v = l.id GROUP BY 1, 2),
           |c$i AS (SELECT u, d, CAST(sum(k) AS BIGINT) AS k FROM (
           |  SELECT u, d, k FROM k$i
           |  UNION ALL SELECT id AS u, label AS d, 0 AS k FROM l${i - 1})
           |  GROUP BY 1, 2),
           |s$i AS (SELECT c.u, c.d,
           |    m.m2 * c.k - dg.deg *
           |      (t.tot - CASE WHEN lu.label = c.d THEN dg.deg ELSE 0 END)
           |      AS score
           |  FROM c$i c JOIN deg dg ON c.u = dg.id
           |    JOIN l${i - 1} lu ON c.u = lu.id
           |    JOIN t$i t ON c.d = t.label, m),
           |l$i AS MATERIALIZED (SELECT u AS id, d AS label FROM (
           |  SELECT u, d, row_number() OVER (PARTITION BY u
           |    ORDER BY score DESC, d ASC) AS rn FROM s$i) WHERE rn = 1)""".stripMargin
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  WHERE l1.l_orderkey % 4 = 0),
         |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
         |  UNION SELECT b AS u, a AS v FROM p),
         |deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg
         |  FROM e GROUP BY 1),
         |m AS (SELECT count(*) AS m2 FROM e),
         |l0 AS MATERIALIZED (SELECT id, id AS label FROM deg),
         |${(1 to 2).map(round).mkString(",\n")}
         |SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
         |FROM l2 ORDER BY id""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_modularity", (s, dir) => {
      import s.implicits._
      // Newman modularity of the p_brand labeling over the part
      // co-order graph — the quality score the community family
      // (LPA/k-core/triangles) was missing. Every count is an exact
      // integer; the per-community numerator 2m·Σin − Σtot² widens to
      // DECIMAL(38,0) before the one IEEE division by 4m², quantized
      // to micro-units — DuckDB replays every row value-for-value.
      Graph.modularity(partCoOrderPairs(s, dir),
          Tables.part(s, dir).select($"p_partkey".as("id"),
            $"p_brand".as("label")),
          "a", "b")
        .orderBy($"label")
    },
    // modularity replayed exactly: HUGEINT numerator mirrors the
    // DECIMAL(38,0) widening, one double division by 4m², micro-unit
    // round — per-community rows value-for-value
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |m AS (SELECT count(*) AS m FROM p),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)
        |  GROUP BY 1),
        |lab AS (SELECT p_partkey AS id, p_brand AS label FROM part),
        |intra AS (SELECT la.label, 2 * count(*) AS sum_in
        |  FROM p JOIN lab la ON p.a = la.id JOIN lab lb ON p.b = lb.id
        |  WHERE la.label = lb.label GROUP BY 1),
        |tot AS (SELECT la.label, CAST(sum(d.deg) AS BIGINT) AS sum_tot,
        |    CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM deg d JOIN lab la ON d.id = la.id GROUP BY 1)
        |SELECT t.label, t.n_nodes,
        |  CAST(coalesce(i.sum_in, 0) AS BIGINT) AS sum_in, t.sum_tot,
        |  CAST(round(
        |    CAST(2 * m.m * coalesce(i.sum_in, 0)
        |      - t.sum_tot * t.sum_tot AS DOUBLE)
        |    / CAST(4 * m.m * m.m AS DOUBLE) * 1000000) AS BIGINT)
        |    AS q_micros
        |FROM tot t LEFT JOIN intra i USING (label), m
        |ORDER BY label""".stripMargin),
    bench = true),

    QuerySpec("graph_assoc_rules", (s, dir) => {
      import s.implicits._
      // Directed association rules over part co-orders: support /
      // confidence / lift in integer ppm/micro units (div over
      // DECIMAL-widened products — DuckDB replays value-for-value).
      // Top-100 by confidence; (antecedent, consequent) is unique so
      // the cut is deterministic.
      Graph.associationRules(
          Tables.lineitem(s, dir).filter(pmod($"l_orderkey", lit(4)) === 0),
          "l_orderkey", "l_partkey", minPairGroups = 2)
        .orderBy($"confidence_ppm".desc, $"antecedent", $"consequent")
        .limit(100)
    },
    // integer div over widened products on both engines — support /
    // confidence / lift replay value-for-value
    Oracle("""WITH g AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS gr, l_partkey AS it
        |  FROM lineitem WHERE l_orderkey % 4 = 0),
        |ng AS (SELECT count(DISTINCT gr) AS n FROM g),
        |m AS (SELECT it, count(*) AS cnt FROM g GROUP BY 1),
        |p AS (SELECT a.it AS ia, b.it AS ib, count(*) AS nb
        |  FROM g a JOIN g b ON a.gr = b.gr AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT ia AS antecedent, ib AS consequent, nb FROM p
        |  UNION ALL SELECT ib, ia, nb FROM p)
        |SELECT antecedent, consequent, CAST(nb AS BIGINT) AS n_both,
        |  CAST(ma.cnt AS BIGINT) AS n_ante,
        |  CAST(CAST(nb AS HUGEINT) * 1000000 // n.n AS BIGINT)
        |    AS support_ppm,
        |  CAST(CAST(nb AS HUGEINT) * 1000000 // ma.cnt AS BIGINT)
        |    AS confidence_ppm,
        |  CAST(CAST(nb AS HUGEINT) * n.n * 1000000 //
        |    (CAST(ma.cnt AS HUGEINT) * mc.cnt) AS BIGINT) AS lift_micros
        |FROM d JOIN m ma ON d.antecedent = ma.it
        |       JOIN m mc ON d.consequent = mc.it, ng n
        |ORDER BY confidence_ppm DESC, antecedent, consequent
        |LIMIT 100""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_degree_hist", (s, dir) => {
      import s.implicits._
      // Degree distribution of the part co-order graph — the shape
      // check next to assortativity; exact counts per degree.
      val e0 = partCoOrderPairs(s, dir)
      val e = e0.select($"a".as("u"), $"b".as("v"))
        .union(e0.select($"b".as("u"), $"a".as("v")))
        .distinct()
      e.groupBy($"u").agg(count(lit(1)).as("deg"))
        .groupBy($"deg").agg(count(lit(1)).cast("bigint").as("n_vertices"))
        .select($"deg".cast("bigint").as("deg"), $"n_vertices")
        .orderBy($"deg")
    },
    // exact counts per degree over the symmetrized edge list
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1)
        |SELECT CAST(deg AS BIGINT) AS deg,
        |  CAST(count(*) AS BIGINT) AS n_vertices
        |FROM deg GROUP BY deg ORDER BY deg""".stripMargin),
    bench = true),

    QuerySpec("graph_clustering_coeff", (s, dir) => {
      import s.implicits._
      // GLOBAL clustering coefficient — "of all the wedges, how many
      // close?" (3·triangles / wedges): the one-number transitivity
      // reading next to the exact triangle census; high means
      // communities, low means a hub-and-spoke world. Triangles via
      // the graded degree-oriented wedge join, wedges an exact
      // integer census Σ d(d−1)/2, the ratio one truncating ppm.
      val e0 = partCoOrderPairs(s, dir).localCheckpoint(true)
      val tri = e0.as("e1")
        .join(e0.as("e2"), col("e1.a") === col("e2.a") &&
          col("e1.b") < col("e2.b"))
        .join(e0.as("e3"), col("e3.a") === col("e1.b") &&
          col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("tri"))
      val deg = e0.select($"a".as("u"))
        .union(e0.select($"b".as("u")))
        .groupBy($"u").agg(count(lit(1)).as("d"))
      val wed = deg.agg(
        sum(($"d".cast("decimal(38,0)") * ($"d" - 1L))).as("w2"))
      tri.crossJoin(wed) // two 1-row reductions
        .selectExpr("CAST(tri AS BIGINT) AS n_triangles",
          "CAST(w2 div 2 AS BIGINT) AS n_wedges",
          "CASE WHEN w2 <= 0 THEN NULL ELSE" +
            " CAST(CAST(6 * tri AS DECIMAL(38,0)) * 1000000 div w2" +
            " AS BIGINT) END AS clustering_ppm")
    },
    // 3*triangles/wedges from the graded wedge join + exact degree
    // census, one truncating ppm
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS tri
        |  FROM p e1 JOIN p e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN p e3 ON e3.a = e1.b AND e3.b = e2.b),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT a AS u FROM p UNION ALL SELECT b FROM p)
        |  GROUP BY 1),
        |wed AS (SELECT CAST(sum(CAST(d AS HUGEINT) * (d - 1))
        |    AS HUGEINT) AS w2 FROM deg)
        |SELECT tri AS n_triangles,
        |  CAST(w2 // 2 AS BIGINT) AS n_wedges,
        |  CASE WHEN w2 <= 0 THEN NULL ELSE
        |    CAST(CAST(6 * tri AS HUGEINT) * 1000000 // w2 AS BIGINT)
        |  END AS clustering_ppm
        |FROM tri, wed""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_centralization", (s, dir) => {
      import s.implicits._
      // Freeman degree centralization — the one-number "how
      // hub-dominated is this graph" next to the degree histogram's
      // full shape (1 = a perfect star, 0 = a regular graph):
      // Σ(d_max − d_i) over the star's maximum (n−1)(n−2), exact
      // integers end to end, one truncating ppm. Fewer than 3
      // vertices emit nothing (the normalizer is zero).
      val e0 = partCoOrderPairs(s, dir)
      val e = e0.select($"a".as("u"), $"b".as("v"))
        .union(e0.select($"b".as("u"), $"a".as("v")))
        .distinct()
      val deg = e.groupBy($"u").agg(count(lit(1)).as("d"))
      deg.agg(count(lit(1)).as("n"), max($"d").as("dmax"),
          sum($"d").as("sumd"))
        .filter($"n" >= 3L)
        .selectExpr("CAST(n AS BIGINT) AS n_vertices",
          "CAST(dmax AS BIGINT) AS max_degree",
          "CAST((CAST(n AS DECIMAL(38,0)) * dmax - sumd) * 1000000" +
            " div (CAST(n - 1 AS DECIMAL(38,0)) * (n - 2))" +
            " AS BIGINT) AS centralization_ppm")
    },
    // Freeman centralization: exact degree census, one truncating
    // ppm against the star maximum (n-1)(n-2)
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e
        |  GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(d) AS BIGINT) AS dmax,
        |    CAST(sum(d) AS BIGINT) AS sumd FROM deg)
        |SELECT n AS n_vertices, dmax AS max_degree,
        |  CAST(((CAST(n AS HUGEINT) * dmax - sumd) * 1000000)
        |    // (CAST(n - 1 AS HUGEINT) * (n - 2)) AS BIGINT)
        |    AS centralization_ppm
        |FROM a WHERE n >= 3""".stripMargin),
    bench = true),

    QuerySpec("graph_assortativity", (s, dir) => {
      import s.implicits._
      // Degree assortativity of the part co-order graph: Pearson over
      // endpoint degrees of the symmetrized edge list, exact DECIMAL
      // moments, one num/(sqrt*sqrt) tree. One row.
      Graph.assortativity(partCoOrderPairs(s, dir), "a", "b")
    },
    // Pearson over endpoint degrees; HUGEINT moments mirror DECIMAL
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |deg AS (SELECT u AS id, count(*) AS deg FROM e GROUP BY 1),
        |xy AS (SELECT dx.deg AS x, dy.deg AS y FROM e
        |  JOIN deg dx ON e.u = dx.id JOIN deg dy ON e.v = dy.id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy FROM xy)
        |SELECT n AS n_edges,
        |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS r_micros
        |FROM m""".stripMargin),
    bench = true),

    QuerySpec("graph_adamic_adar", (s, dir) => {
      import s.implicits._
      // Adamic-Adar link prediction on the part co-order graph:
      // top-100 predicted (absent) edges by shared-neighbor evidence,
      // apex degree capped at 64 BY DEFINITION (hub terms certify
      // ~nothing and unbounded wedges don't scale); per-term
      // micro-rounded, order-free integer sums, total tie-break.
      Graph.adamicAdar(partCoOrderPairs(s, dir), "a", "b",
          maxApexDegree = 64)
        .orderBy(desc("aa_micros"), $"id_a", $"id_b")
        .limit(100)
    },
    // same wedge rule as the engine: apexes of degree <= 64 only,
    // per-term round(1e6/ln(deg)) summed as integers, non-edges via
    // NOT EXISTS, total tie-break at the LIMIT cut
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |adj AS MATERIALIZED (SELECT a AS w, b AS n FROM p
        |  UNION ALL SELECT b AS w, a AS n FROM p),
        |deg AS (SELECT w AS id, count(*) AS deg FROM adj GROUP BY 1),
        |nb AS (SELECT adj.w, adj.n, deg.deg FROM adj
        |  JOIN deg ON adj.w = deg.id WHERE deg.deg <= 64),
        |pr AS (SELECT l.n AS a, r.n AS b,
        |    CAST(round(1000000.0 / ln(CAST(l.deg AS DOUBLE))) AS BIGINT)
        |      AS term
        |  FROM nb l JOIN nb r ON l.w = r.w AND l.n < r.n),
        |ag AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(term) AS BIGINT) AS aa_micros FROM pr GROUP BY 1, 2),
        |res AS (SELECT * FROM ag WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.a = ag.a AND p.b = ag.b))
        |SELECT a AS id_a, b AS id_b, n_common, aa_micros FROM res
        |ORDER BY aa_micros DESC, id_a, id_b LIMIT 100""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_ktruss", (s, dir) => {
      import s.implicits._
      // 4-truss backbone of the part co-order graph: every surviving
      // edge closes >= 2 triangles inside the truss — the community
      // backbone one notch stricter than k-core. Unique fixpoint, so
      // the unrolled-rounds oracle replays the peel exactly. The
      // graded panel is the 1/8-orders co-order graph (the shared
      // 1/4 panel doubles the per-round wedge census for the same
      // demonstration — the peel is the cost, not the truss).
      // SIDE-EFFECTING (peel rounds run eagerly at construction).
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey")
        .filter(pmod($"l_orderkey", lit(8)) === 0)
      val pairs = li.as("l1").join(li.as("l2"),
          $"l1.l_orderkey" === $"l2.l_orderkey" &&
            $"l1.l_partkey" < $"l2.l_partkey")
        .select($"l1.l_partkey".as("a"), $"l2.l_partkey".as("b"))
        .distinct()
      // maxIter matches the oracle's 10 unrolled rounds exactly: a
      // graph needing more rounds makes the engine fail LOUDLY
      // (kTruss convergence require) instead of silently grading
      // against a not-yet-converged oracle edge set.
      Graph.kTruss(pairs, k = 4, "a", "b", maxIter = 10)
        .orderBy($"id_a", $"id_b")
    },
    // unrolled peel rounds (fixpoint rounds are idempotent — the
    // kcore contract); triangles by the canonical a<b<c 3-way join,
    // each credited to its three edges
    Oracle {
      def round(i: Int) =
        s"""t$i AS (SELECT e1.a, e1.b, e2.b AS c
           |  FROM e${i - 1} e1 JOIN e${i - 1} e2 ON e1.b = e2.a
           |  JOIN e${i - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
           |s$i AS (SELECT a, b, count(*) AS s FROM (
           |  SELECT a, b FROM t$i
           |  UNION ALL SELECT b AS a, c AS b FROM t$i
           |  UNION ALL SELECT a, c AS b FROM t$i) GROUP BY 1, 2),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN s$i s ON e.a = s.a AND e.b = s.b WHERE s.s >= 2)""".stripMargin
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  WHERE l1.l_orderkey % 8 = 0),
         |e0 AS MATERIALIZED (SELECT a, b FROM p),
         |${(1 to 10).map(round).mkString(",\n")},
         |tf AS (SELECT e1.a, e1.b, e2.b AS c
         |  FROM e10 e1 JOIN e10 e2 ON e1.b = e2.a
         |  JOIN e10 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support
         |  FROM (SELECT a, b FROM tf
         |    UNION ALL SELECT b AS a, c AS b FROM tf
         |    UNION ALL SELECT a, c AS b FROM tf) GROUP BY 1, 2)
         |SELECT e.a AS id_a, e.b AS id_b, sf.support
         |FROM e10 e JOIN sf ON e.a = sf.a AND e.b = sf.b
         |ORDER BY id_a, id_b""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("graph_jaccard", (s, dir) => {
      import s.implicits._
      // Neighborhood Jaccard link prediction on the part co-order
      // graph: size-invariant overlap share of absent pairs, same
      // capped-apex census as adamic-adar (64) with TRUE degrees in
      // the denominator; one truncating ppm division, top-100 by a
      // total tie-break.
      Graph.jaccardNeighbors(partCoOrderPairs(s, dir), "a", "b",
          maxApexDegree = 64)
        .orderBy(desc("jaccard_ppm"), $"id_a", $"id_b")
        .limit(100)
    },
    // same capped-apex wedge census as adamic-adar; true degrees in
    // the denominator, one truncating ppm division
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |adj AS MATERIALIZED (SELECT a AS w, b AS n FROM p
        |  UNION ALL SELECT b AS w, a AS n FROM p),
        |deg AS (SELECT w AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |nb AS (SELECT adj.w, adj.n FROM adj
        |  JOIN deg ON adj.w = deg.id WHERE deg.deg <= 64),
        |ag AS (SELECT l.n AS a, r.n AS b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM nb l JOIN nb r ON l.w = r.w AND l.n < r.n
        |  GROUP BY 1, 2),
        |res AS (SELECT * FROM ag WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.a = ag.a AND p.b = ag.b))
        |SELECT res.a AS id_a, res.b AS id_b, res.n_common,
        |  da.deg AS deg_a, db.deg AS deg_b,
        |  CAST(CAST(res.n_common AS HUGEINT) * 1000000
        |    // (da.deg + db.deg - res.n_common) AS BIGINT)
        |    AS jaccard_ppm
        |FROM res JOIN deg da ON res.a = da.id
        |  JOIN deg db ON res.b = db.id
        |ORDER BY jaccard_ppm DESC, id_a, id_b LIMIT 100""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_closeness", (s, dir) => {
      import s.implicits._
      // Per-seed harmonic closeness over the part co-order graph for
      // a SMALL seed panel (%997 — per-seed BFS state is seeds x
      // vertices, the exact cost model maxSeeds guards; a dense
      // co-order graph saturates by hop ~4, so the %97 panel would
      // buy 10x cost for no extra signal): hop-bounded BFS,
      // integer-div ppm contributions — exact and order-free.
      val edges = partCoOrderPairs(s, dir)
      val seeds = edges.select($"a".as("id"))
        .union(edges.select($"b".as("id")))
        .filter(pmod($"id", lit(997)) === 0).distinct()
      Graph.closenessFromSeeds(edges, seeds, "a", "b", "id", maxHops = 4)
        .orderBy($"seed")
    },
    // per-seed BFS distances via the recursive CTE, harmonic ppm as
    // integer floor-div contributions
    Oracle("""WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |src AS (SELECT DISTINCT u AS id FROM e WHERE u % 997 = 0),
        |bfs AS (
        |  SELECT id AS seed, id, 0 AS d FROM src
        |  UNION
        |  SELECT b.seed, e.v AS id, b.d + 1 AS d FROM bfs b
        |  JOIN e ON e.u = b.id WHERE b.d < 4),
        |dist AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2)
        |SELECT seed,
        |  CAST(count(*) FILTER (WHERE d > 0) AS BIGINT) AS n_reached,
        |  CAST(coalesce(sum(1000000 // d) FILTER (WHERE d > 0), 0)
        |    AS BIGINT) AS closeness_ppm
        |FROM dist GROUP BY seed ORDER BY seed""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("graph_betweenness", (s, dir) => {
      import s.implicits._
      // k-seed Brandes betweenness over the 1/8-orders part co-order
      // graph: forward BFS carries exact path counts, the back sweep
      // accumulates ppm-quantized dependencies (one truncating
      // division per successor term — order-free, oracle-replayed by
      // unrolled level CTEs). Seed panel %997 (the graph_closeness
      // posture), hop bound 3 — a dense co-order graph saturates by
      // hop ~4, and each extra hop is a back-sweep round too. Top-100
      // brokers by a total tie-break. SIDE-EFFECTING (per-hop counts
      // run eagerly at construction).
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey")
        .filter(pmod($"l_orderkey", lit(8)) === 0)
      val pairs = li.as("l1").join(li.as("l2"),
          $"l1.l_orderkey" === $"l2.l_orderkey" &&
            $"l1.l_partkey" < $"l2.l_partkey")
        .select($"l1.l_partkey".as("a"), $"l2.l_partkey".as("b"))
        .distinct()
      val seeds = pairs.select($"a".as("id"))
        .union(pairs.select($"b".as("id")))
        .filter(pmod($"id", lit(997)) === 0).distinct()
      Graph.betweennessFromSeeds(pairs, seeds, "a", "b", "id",
          maxHops = 3)
        .orderBy($"bc_ppm".desc, $"id")
        .limit(100)
    },
    // unrolled Brandes: BFS levels l0..l3 carry exact HUGEINT path
    // counts (sigma of a new vertex = sum over frontier
    // predecessors); the back sweep d3->d1 quantizes each dependency
    // term by ONE truncating division of non-negative integers —
    // order-free, so the per-(seed,vertex) sums replay exactly
    Oracle("""WITH p AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 8 = 0),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
        |  UNION SELECT b AS u, a AS v FROM p),
        |src AS (SELECT DISTINCT u AS id FROM e WHERE u % 997 = 0),
        |l0 AS MATERIALIZED (SELECT id AS seed, id,
        |  CAST(1 AS HUGEINT) AS sigma FROM src),
        |l1 AS MATERIALIZED (
        |  SELECT l0.seed, e.v AS id, sum(l0.sigma) AS sigma
        |  FROM l0 JOIN e ON e.u = l0.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 s
        |    WHERE s.seed = l0.seed AND s.id = e.v)
        |  GROUP BY 1, 2),
        |l2 AS MATERIALIZED (
        |  SELECT l1.seed, e.v AS id, sum(l1.sigma) AS sigma
        |  FROM l1 JOIN e ON e.u = l1.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 s
        |      WHERE s.seed = l1.seed AND s.id = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM l1 s
        |      WHERE s.seed = l1.seed AND s.id = e.v)
        |  GROUP BY 1, 2),
        |l3 AS MATERIALIZED (
        |  SELECT l2.seed, e.v AS id, sum(l2.sigma) AS sigma
        |  FROM l2 JOIN e ON e.u = l2.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 s
        |      WHERE s.seed = l2.seed AND s.id = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM l1 s
        |      WHERE s.seed = l2.seed AND s.id = e.v)
        |    AND NOT EXISTS (SELECT 1 FROM l2 s
        |      WHERE s.seed = l2.seed AND s.id = e.v)
        |  GROUP BY 1, 2),
        |d3 AS (SELECT seed, id, sigma, CAST(0 AS HUGEINT) AS delta
        |  FROM l3),
        |d2 AS MATERIALIZED (
        |  SELECT c.seed, c.id, c.sigma,
        |    coalesce(t.dsum, CAST(0 AS HUGEINT)) AS delta
        |  FROM l2 c LEFT JOIN (
        |    SELECT c2.seed, c2.id,
        |      sum((c2.sigma * (1000000 + n.delta)) // n.sigma) AS dsum
        |    FROM l2 c2 JOIN e ON e.u = c2.id
        |    JOIN d3 n ON n.seed = c2.seed AND n.id = e.v
        |    GROUP BY 1, 2) t ON t.seed = c.seed AND t.id = c.id),
        |d1 AS MATERIALIZED (
        |  SELECT c.seed, c.id, c.sigma,
        |    coalesce(t.dsum, CAST(0 AS HUGEINT)) AS delta
        |  FROM l1 c LEFT JOIN (
        |    SELECT c2.seed, c2.id,
        |      sum((c2.sigma * (1000000 + n.delta)) // n.sigma) AS dsum
        |    FROM l1 c2 JOIN e ON e.u = c2.id
        |    JOIN d2 n ON n.seed = c2.seed AND n.id = e.v
        |    GROUP BY 1, 2) t ON t.seed = c.seed AND t.id = c.id),
        |allv AS (SELECT seed, id, delta FROM d1
        |  UNION ALL SELECT seed, id, delta FROM d2
        |  UNION ALL SELECT seed, id, delta FROM d3)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_seeds,
        |  CAST(sum(delta) AS BIGINT) AS bc_ppm
        |FROM allv GROUP BY id
        |ORDER BY bc_ppm DESC, id LIMIT 100""".stripMargin),
    bench = true, eagerBuild = true),
  )

  /** Shared WITH-body of the graph_scc / graph_scc_condensation
    * oracles: the trade-graph construction, the recursive-CTE
    * forward closure, and the per-vertex mutual-reachability label
    * `lab(id, scc_id)` — brute force by design, so the engine's
    * trim+coloring algorithm is graded against the DEFINITION of an
    * SCC rather than a replay of itself. */
  private lazy val sccOracleCore: String =
    """cs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderkey % 8 = 0),
      |e AS (SELECT CASE WHEN (c + s) % 4 < 2 THEN c ELSE s END AS src,
      |             CASE WHEN (c + s) % 4 < 2 THEN s ELSE c END AS dst
      |  FROM cs),
      |v AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) z),
      |tc AS (
      |  SELECT src AS a, dst AS b FROM e
      |  UNION
      |  SELECT tc.a, e.dst FROM tc JOIN e ON e.src = tc.b),
      |m AS (SELECT tc.a AS id, min(tc.b) AS mb
      |  FROM tc JOIN tc r ON r.a = tc.b AND r.b = tc.a GROUP BY 1),
      |lab AS (SELECT CAST(v.id AS BIGINT) AS id,
      |    CAST(least(v.id, coalesce(m.mb, v.id)) AS BIGINT) AS scc_id
      |  FROM v LEFT JOIN m ON m.id = v.id)""".stripMargin
}
