package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.Projection
import graft.operators.Features

import Shared.{built, w2vSynonymPlan}

/** Model fits (spark.ml and the engine's own GD/Lloyd/stump fits) and
  * their verification gates. Raw fitted outputs are not SQL-replicable,
  * so the gates pin driver-verifiable invariants: DuckDB recomputes the
  * counts independently, booleans pin the metamorphic contract. */
object MlQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("ml_isotonic", (s, dir) => {
      import s.implicits._
      // Isotonic (here antitonic) calibration by exact PAVA: bucket
      // event values into 50-unit bins, compute per-bin purchase
      // rates, and fit the best DECREASING step function — the
      // monotone calibration a raw score needs before it reads as a
      // probability. Pool means compare by cross-multiplication and
      // emit as truncating ppm, so the oracle replays every fitted
      // value through the PAVA-free minimax identity
      // fit(k) = min_{i<=k} max_{j>=k} mean(i..j) (truncation is
      // monotone; equal rationals truncate equally).
      val b = Tables.events(s, dir)
        .filter($"value" >= 0)
        .select(least(floor($"value" / 50).cast("long"), lit(19L))
            .as("bucket"),
          when($"event_type" === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("w"), sum($"y").as("s"))
      graft.operators.Features.isotonicFit(b, "bucket", "w", "s",
        increasing = false)
    },
    // PAVA-free replay via the minimax identity: the antitonic fit at
    // bucket k is min over i<=k of (max over j>=k of the truncated
    // segment-mean ppm) — truncation is monotone, so the integer
    // minimax equals the truncation of the rational one
    Oracle("""WITH e AS (SELECT
        |    LEAST(CAST(floor(value / 50) AS BIGINT), 19) AS bucket,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value >= 0),
        |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(y) AS BIGINT) AS s FROM e GROUP BY 1),
        |o AS (SELECT bucket, w, s,
        |    row_number() OVER (ORDER BY bucket) AS k FROM b),
        |pre AS (SELECT k, sum(w) OVER (ORDER BY k) AS cw,
        |    sum(s) OVER (ORDER BY k) AS cs FROM o
        |  UNION ALL SELECT 0, 0, 0),
        |seg AS (SELECT i.k AS i, j.k AS j,
        |    (j2.cs - i0.cs) * 1000000 // (j2.cw - i0.cw) AS m
        |  FROM o i JOIN o j ON j.k >= i.k
        |  JOIN pre i0 ON i0.k = i.k - 1
        |  JOIN pre j2 ON j2.k = j.k),
        |mm AS (SELECT kk.k, sg.i, max(sg.m) AS mx
        |  FROM seg sg JOIN o kk ON sg.i <= kk.k AND sg.j >= kk.k
        |  GROUP BY 1, 2),
        |fit AS (SELECT k, min(mx) AS fit_ppm FROM mm GROUP BY 1)
        |SELECT o.bucket, o.w AS n, o.s AS n_pos,
        |  CAST(o.s * 1000000 // o.w AS BIGINT) AS raw_ppm,
        |  CAST(f.fit_ppm AS BIGINT) AS fit_ppm
        |FROM o JOIN fit f ON f.k = o.k ORDER BY o.bucket""".stripMargin),
    bench = true),

    QuerySpec("ml_isotonic_grouped", (s, dir) => {
      import s.implicits._
      // Per-SEGMENT isotonic calibration — one antitonic curve per
      // event type (the production shape: a global curve miscalibrates
      // every segment whose base rate differs): same exact PAVA and
      // minimax-oracle device as ml_isotonic, one distributed fold per
      // key. The label mixes user_id into the bucket so per-bucket
      // rates are non-degenerate and the pools genuinely differ
      // across segments.
      val b = Tables.events(s, dir)
        .filter($"value" >= 0)
        .select($"event_type",
          least(floor($"value" / 50).cast("long"), lit(19L))
            .as("bucket"),
          when(($"user_id" + floor($"value").cast("long")) % 3 === 0,
            1L).otherwise(0L).as("y"))
        .groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("w"), sum($"y").as("s"))
      graft.operators.Features.isotonicFitGrouped(b, "event_type",
        "bucket", "w", "s", increasing = false)
    },
    // the minimax identity stamped per segment: every CTE carries the
    // key, the i<=k<=j grid joins within the key only
    Oracle("""WITH e AS (SELECT event_type AS key,
        |    LEAST(CAST(floor(value / 50) AS BIGINT), 19) AS bucket,
        |    CASE WHEN (user_id + CAST(floor(value) AS BIGINT)) % 3 = 0
        |      THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value >= 0),
        |b AS (SELECT key, bucket, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(y) AS BIGINT) AS s FROM e GROUP BY 1, 2),
        |o AS (SELECT key, bucket, w, s,
        |    row_number() OVER (PARTITION BY key ORDER BY bucket) AS k
        |  FROM b),
        |pre AS (SELECT key, k,
        |    sum(w) OVER (PARTITION BY key ORDER BY k) AS cw,
        |    sum(s) OVER (PARTITION BY key ORDER BY k) AS cs FROM o
        |  UNION ALL SELECT DISTINCT key, 0, 0, 0 FROM o),
        |seg AS (SELECT i.key, i.k AS i, j.k AS j,
        |    (j2.cs - i0.cs) * 1000000 // (j2.cw - i0.cw) AS m
        |  FROM o i JOIN o j ON j.key = i.key AND j.k >= i.k
        |  JOIN pre i0 ON i0.key = i.key AND i0.k = i.k - 1
        |  JOIN pre j2 ON j2.key = i.key AND j2.k = j.k),
        |mm AS (SELECT kk.key, kk.k, sg.i, max(sg.m) AS mx
        |  FROM seg sg JOIN o kk
        |    ON kk.key = sg.key AND sg.i <= kk.k AND sg.j >= kk.k
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT key, k, min(mx) AS fit_ppm FROM mm
        |  GROUP BY 1, 2)
        |SELECT o.key, o.bucket, o.w AS n, o.s AS n_pos,
        |  CAST(o.s * 1000000 // o.w AS BIGINT) AS raw_ppm,
        |  CAST(f.fit_ppm AS BIGINT) AS fit_ppm
        |FROM o JOIN fit f ON f.key = o.key AND f.k = o.k
        |ORDER BY o.key, o.bucket""".stripMargin),
    bench = true),

    QuerySpec("ml_logreg", (s, dir) => {
      import s.implicits._
      // Hash-graded logistic regression: urgency from clipped order
      // value, 5 full-batch integer-state GD steps — the ML query a
      // second engine replays bit for bit where float pipelines can
      // only gate. SIDE-EFFECTING (the step aggregates run eagerly).
      Features.logisticGd(Tables.orders(s, dir),
        least($"o_totalprice" / 600000.0, lit(1.0)),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"),
        iters = 5, lrPpm = 500000L)
    },
    // the 5 GD steps unrolled: per-row micro-quantized gradients,
    // integer weight state, truncating-division updates
    Oracle {
      def sig(s: String) =
        s"(1.0 / (1.0 + exp(-(($s.a + $s.b * x) / 1000000.0))))"
      def grad(s: String, g: String) =
        s"$g AS (SELECT\n" +
          s"    CAST(sum(CAST(round((${sig(s)}\n" +
          "      - CASE WHEN y THEN 1.0 ELSE 0.0 END) * 1000000)" +
          " AS BIGINT)) AS BIGINT) AS g0,\n" +
          s"    CAST(sum(CAST(round(((${sig(s)}\n" +
          "      - CASE WHEN y THEN 1.0 ELSE 0.0 END) * x) * 1000000)" +
          " AS BIGINT)) AS BIGINT) AS g1\n" +
          s"  FROM base, $s)"
      def upd(prev: String, g: String, next: String) =
        s"$next AS (SELECT" +
          s" $prev.a - (500000 * $g.g0) // (nn.n * 1000000) AS a,\n" +
          s"    $prev.b - (500000 * $g.g1) // (nn.n * 1000000) AS b\n" +
          s"  FROM $prev, $g, nn)"
      val steps = (1 to 5).map(k =>
        grad(s"s${k - 1}", s"g$k") + ",\n" +
          upd(s"s${k - 1}", s"g$k", s"s$k")).mkString(",\n")
      "WITH base AS (SELECT least(o_totalprice / 600000.0, 1.0) AS x,\n" +
        "    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y\n" +
        "  FROM orders WHERE o_totalprice IS NOT NULL),\n" +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),\n" +
        "s0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b),\n" +
        steps + ",\n" +
        "acc AS (SELECT CAST(count(*) AS BIGINT) AS n,\n" +
        "    CAST(sum(CASE WHEN ((s5.a + s5.b * x) >= 0.0) = y\n" +
        "      THEN 1 ELSE 0 END) AS BIGINT) AS nc\n" +
        "  FROM base, s5)\n" +
        "SELECT acc.n, s5.a AS w0_micros, s5.b AS w1_micros,\n" +
        "  acc.nc AS n_correct,\n" +
        "  CAST((acc.nc * 1000000) // acc.n AS BIGINT) AS accuracy_ppm\n" +
        "FROM acc, s5"
    },
    bench = true, eagerBuild = true),

    QuerySpec("ml_logreg_multi", (s, dir) => {
      import s.implicits._
      // Two-covariate replayable logistic regression: urgency from
      // clipped order value AND order month — the model ml_logreg's
      // single-feature form cannot fit by construction. Same
      // integer-state GD; the oracle unrolls the same 5 steps with a
      // 3-wide LIST-free weight state (one CTE column per weight).
      // SIDE-EFFECTING (the step aggregates run eagerly).
      Features.logisticGdMulti(Tables.orders(s, dir),
        Seq(least($"o_totalprice" / 600000.0, lit(1.0)),
          month($"o_orderdate").cast("double") / 12.0),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH"),
        iters = 5, lrPpm = 500000L)
    },
    // the ml_logreg unroll widened to a 3-column weight state (bias +
    // two slopes); z accumulates left-to-right exactly as the engine's
    // fold, every gradient term micro-quantized per row
    Oracle {
      def sig(s: String) =
        s"(1.0 / (1.0 + exp(-((($s.a + $s.b * x1 + $s.c * x2))" +
          " / 1000000.0))))"
      def gterm(s: String, xf: String) =
        s"    CAST(sum(CAST(round(((${sig(s)}\n" +
          "      - CASE WHEN y THEN 1.0 ELSE 0.0 END)" + xf +
          ") * 1000000) AS BIGINT)) AS BIGINT)"
      def grad(s: String, g: String) =
        s"$g AS (SELECT\n" +
          gterm(s, "") + " AS g0,\n" +
          gterm(s, " * x1") + " AS g1,\n" +
          gterm(s, " * x2") + " AS g2\n" +
          s"  FROM base, $s)"
      def upd(prev: String, g: String, next: String) =
        s"$next AS (SELECT" +
          s" $prev.a - (500000 * $g.g0) // (nn.n * 1000000) AS a,\n" +
          s"    $prev.b - (500000 * $g.g1) // (nn.n * 1000000) AS b,\n" +
          s"    $prev.c - (500000 * $g.g2) // (nn.n * 1000000) AS c\n" +
          s"  FROM $prev, $g, nn)"
      val steps = (1 to 5).map(k =>
        grad(s"s${k - 1}", s"g$k") + ",\n" +
          upd(s"s${k - 1}", s"g$k", s"s$k")).mkString(",\n")
      "WITH base AS (SELECT least(o_totalprice / 600000.0, 1.0) AS x1,\n" +
        "    CAST(month(o_orderdate) AS DOUBLE) / 12.0 AS x2,\n" +
        "    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS y\n" +
        "  FROM orders WHERE o_totalprice IS NOT NULL\n" +
        "    AND o_orderdate IS NOT NULL),\n" +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),\n" +
        "s0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,\n" +
        "  CAST(0 AS BIGINT) AS c),\n" +
        steps + ",\n" +
        "acc AS (SELECT CAST(count(*) AS BIGINT) AS n,\n" +
        "    CAST(sum(CASE WHEN ((s5.a + s5.b * x1 + s5.c * x2) >= 0.0)" +
        " = y\n" +
        "      THEN 1 ELSE 0 END) AS BIGINT) AS nc\n" +
        "  FROM base, s5)\n" +
        "SELECT CAST(0 AS BIGINT) AS weight_idx, s5.a AS w_micros,\n" +
        "  acc.n, acc.nc AS n_correct,\n" +
        "  CAST((acc.nc * 1000000) // acc.n AS BIGINT) AS accuracy_ppm\n" +
        "FROM acc, s5\n" +
        "UNION ALL SELECT CAST(1 AS BIGINT), s5.b, acc.n, acc.nc,\n" +
        "  CAST((acc.nc * 1000000) // acc.n AS BIGINT) FROM acc, s5\n" +
        "UNION ALL SELECT CAST(2 AS BIGINT), s5.c, acc.n, acc.nc,\n" +
        "  CAST((acc.nc * 1000000) // acc.n AS BIGINT) FROM acc, s5\n" +
        "ORDER BY weight_idx"
    },
    bench = true, eagerBuild = true),

    QuerySpec("ml_ridge", (s, dir) => {
      import s.implicits._
      // The regularized member of the linear family: price-on-
      // (quantity, discount) with the L2 shrinkage path λ ∈
      // {0, 100, 10000} — λ = 0 must reproduce plain OLS, and the
      // coefficients must shrink monotonically as λ grows (the
      // readout model selection reads). Exact integer moments, all
      // Cramer algebra DECIMAL-exact, one mirrored division per
      // coefficient.
      graft.operators.Features.ridgeRegression(
        Tables.lineitem(s, dir),
        round($"l_extendedprice" * 100).cast("long"),
        $"l_quantity".cast("long"),
        round($"l_discount" * 100).cast("long"),
        lambdas = Seq(0L, 100L, 10000L))
    },
    // ridge path: nine HUGEINT moments in one pass, centered Cramer
    // algebra with +λ·n² on the diagonal, one mirrored division per
    // coefficient — mirrors Features.ridgeRegression term for term
    Oracle("""WITH r AS (SELECT
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2
        |  FROM lineitem),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x1) AS HUGEINT) AS s1,
        |    CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(x1 * x1) AS HUGEINT) AS s11,
        |    CAST(sum(x2 * x2) AS HUGEINT) AS s22,
        |    CAST(sum(x1 * x2) AS HUGEINT) AS s12,
        |    CAST(sum(x1 * y) AS HUGEINT) AS s1y,
        |    CAST(sum(x2 * y) AS HUGEINT) AS s2y
        |  FROM r),
        |ls AS (SELECT CAST(lambda AS HUGEINT) AS lambda
        |  FROM (VALUES (0), (100), (10000)) t(lambda)),
        |cc AS (SELECT lambda, n, sy, s1, s2,
        |    n * s11 - s1 * s1 + lambda * n * n AS a11,
        |    n * s22 - s2 * s2 + lambda * n * n AS a22,
        |    n * s12 - s1 * s2 AS a12,
        |    n * s1y - s1 * sy AS c1y,
        |    n * s2y - s2 * sy AS c2y
        |  FROM m, ls),
        |d AS (SELECT lambda, n, sy, s1, s2,
        |    a11 * a22 - a12 * a12 AS det,
        |    CAST(a22 * c1y - a12 * c2y AS DOUBLE)
        |      / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS b1,
        |    CAST(a11 * c2y - a12 * c1y AS DOUBLE)
        |      / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS b2
        |  FROM cc)
        |SELECT CAST(lambda AS BIGINT) AS lambda,
        |  CAST(n AS BIGINT) AS n_obs,
        |  CASE WHEN det > 0 THEN CAST(round(b1 * 1000000) AS BIGINT)
        |    END AS b1_micros,
        |  CASE WHEN det > 0 THEN CAST(round(b2 * 1000000) AS BIGINT)
        |    END AS b2_micros,
        |  CASE WHEN det > 0 THEN CAST(round(
        |    (CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
        |      - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE) * 1000000)
        |    AS BIGINT) END AS intercept_micros
        |FROM d ORDER BY lambda""".stripMargin),
    bench = true),

    QuerySpec("ml_naive_bayes", (s, dir) => {
      import s.implicits._
      // Multinomial Naive Bayes language ID, hash-graded end to end:
      // train on even doc_ids, score odd, confusion matrix out. The
      // log-posterior decomposes so unseen (token, class) pairs
      // contribute exactly 0 and only trained pairs join; every term
      // integer micro-nats. SIDE-EFFECTING (a 1-row class guard).
      val d = Tables.documents(s, dir)
      graft.llm.TextAnalysis.naiveBayesConfusion(
        d.filter(pmod($"doc_id", lit(2)) === 0),
        d.filter(pmod($"doc_id", lit(2)) =!= 0),
        "text", "lang", "doc_id")
    },
    // the log-posterior decomposition: sparse sum over trained
    // (token, class) pairs only (ln 1 = 0 for unseen), micro-nat
    // terms, total argmax tie-break
    Oracle("""WITH trn AS (SELECT doc_id, lang AS c,
        |    string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |tok AS (SELECT c, unnest(toks) AS t FROM trn),
        |tc AS (SELECT c, t,
        |    CAST(round(ln(CAST(count(*) AS DOUBLE) + 1.0) * 1000000)
        |      AS BIGINT) AS lnc
        |  FROM tok GROUP BY 1, 2),
        |cs AS (SELECT c, CAST(count(*) AS BIGINT) AS tot FROM tok
        |  GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tok),
        |pri AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM trn
        |  GROUP BY 1),
        |dt AS (SELECT CAST(count(*) AS BIGINT) AS dt FROM trn),
        |cls AS (SELECT cs.c AS pc,
        |    CAST(round(ln(CAST(pri.d AS DOUBLE) / CAST(dt.dt AS DOUBLE))
        |      * 1000000) AS BIGINT) AS prior,
        |    CAST(round(ln(CAST(cs.tot + v.v AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS lnden
        |  FROM cs JOIN pri ON pri.c = cs.c, v, dt),
        |tst AS (SELECT doc_id AS id, lang AS tr,
        |    string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents WHERE doc_id % 2 <> 0),
        |stok AS (SELECT id, unnest(toks) AS t FROM tst),
        |sp AS (SELECT stok.id, tc.c, CAST(sum(tc.lnc) AS BIGINT) AS sp
        |  FROM stok JOIN tc ON tc.t = stok.t GROUP BY 1, 2),
        |sc AS (SELECT tst.id, tst.tr, cls.pc,
        |    cls.prior - tst.ntok * cls.lnden + coalesce(sp.sp, 0)
        |      AS score
        |  FROM tst CROSS JOIN cls
        |  LEFT JOIN sp ON sp.id = tst.id AND sp.c = cls.pc),
        |pk AS (SELECT id, tr, pc, row_number() OVER (PARTITION BY id
        |    ORDER BY score DESC, pc) AS rn FROM sc)
        |SELECT tr AS label_true, pc AS label_pred,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pk WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ml_kmeans_step", (s, dir) => {
      // One FULL hash-graded Lloyd iteration: the centroid_assign
      // E-step plus the M-step centroid update — 8 x 64 integer
      // centroid cells a second engine lands on bit for bit
      // (per-coordinate micro sums, one truncating division; the
      // float k-means in graft.ml gates, this replays).
      graft.llm.Similarity.kmeansStep(
        Tables.embeddings(s, dir), "vec_id", "embedding", numSeeds = 8)
    },
    Oracle("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |nrm AS (SELECT vec_id,
        |    list_sum(list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        * 1000000000000) AS BIGINT))) AS np
        |  FROM e),
        |base AS (SELECT e.vec_id, e.embedding, nrm.np
        |  FROM e JOIN nrm ON nrm.vec_id = e.vec_id WHERE nrm.np > 0),
        |seeds AS (SELECT vec_id AS sid, embedding AS sv, np AS snp
        |  FROM base ORDER BY vec_id LIMIT 8),
        |pr AS (SELECT b.vec_id, s.sid, b.np, s.snp,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(round(CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)
        |        * CAST(s.sv[CAST(i AS INT)] AS DOUBLE)
        |        * 1000000000000) AS BIGINT))) AS dp
        |  FROM base b, seeds s),
        |cosr AS (SELECT vec_id, sid,
        |    CAST(round(CAST(dp AS DOUBLE)
        |      / (sqrt(CAST(np AS DOUBLE)) * sqrt(CAST(snp AS DOUBLE)))
        |      * 1000000) AS BIGINT) AS cm
        |  FROM pr),
        |a AS (SELECT vec_id, sid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cm DESC, sid) AS rn
        |  FROM cosr),
        |asg AS (SELECT vec_id, sid FROM a WHERE rn = 1),
        |cd AS (SELECT asg.sid, i AS dim,
        |    CAST(round(CAST(e2.embedding[CAST(i AS INT)] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS q
        |  FROM asg JOIN e e2 ON e2.vec_id = asg.vec_id,
        |    range(1, 65) r(i))
        |SELECT sid AS seed_id, CAST(dim - 1 AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(sum(q) // count(*) AS BIGINT) AS centroid_micros
        |FROM cd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true),

    QuerySpec("ml_knn_classify", (s, dir) => {
      import s.implicits._
      // kNN majority-vote classifier, hash-graded: train on even
      // vec_ids, classify odd, k=5 cosine neighbors, confusion
      // matrix out — the zero-training-cost baseline every embedding
      // space gets judged by, in the centroidAssign pico-dot
      // discipline (deterministic neighbor and vote tie-breaks).
      val e = Tables.embeddings(s, dir)
      graft.llm.Similarity.knnClassify(
        e.filter(pmod($"vec_id", lit(2)) === 0),
        e.filter(pmod($"vec_id", lit(2)) =!= 0),
        "vec_id", "embedding", "label", k = 5)
    },
    // the kmeansRounds convention: coordinates quantize ONCE to
    // micros, dots/norms exact integers, one mirrored cosine round;
    // (cos desc, tid) neighbor rank, (votes desc, label) vote rank
    Oracle("""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q,
        |    label
        |  FROM embeddings WHERE label IS NOT NULL),
        |nrm AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(q, t -> t * t)) AS BIGINT)
        |      AS np
        |  FROM e),
        |base AS (SELECT e.vec_id, e.q, e.label, nrm.np
        |  FROM e JOIN nrm ON nrm.vec_id = e.vec_id WHERE nrm.np > 0),
        |trn AS (SELECT vec_id AS tid, q AS tv,
        |    CAST(label AS BIGINT) AS tl, np AS tnp
        |  FROM base WHERE vec_id % 2 = 0),
        |prb AS (SELECT vec_id AS pid, q AS pv,
        |    CAST(label AS BIGINT) AS pl, np AS pnp
        |  FROM base WHERE vec_id % 2 <> 0),
        |pr AS (SELECT pid, pl, tid, tl,
        |    CAST(round(CAST(CAST(list_sum(list_transform(range(1, 65),
        |      i -> pv[CAST(i AS INT)] * tv[CAST(i AS INT)]))
        |        AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(pnp AS DOUBLE)) * sqrt(CAST(tnp AS DOUBLE)))
        |      * 1000000) AS BIGINT) AS cm
        |  FROM prb, trn),
        |top AS (SELECT pid, pl, tl, row_number() OVER (
        |    PARTITION BY pid ORDER BY cm DESC, tid) AS rn FROM pr),
        |votes AS (SELECT pid, pl, tl, count(*) AS v FROM top
        |  WHERE rn <= 5 GROUP BY 1, 2, 3),
        |win AS (SELECT pid, pl, tl, row_number() OVER (
        |    PARTITION BY pid ORDER BY v DESC, tl) AS rn FROM votes)
        |SELECT pl AS true_label, tl AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM win WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ml_decision_stump", (s, dir) => {
      import s.implicits._
      // Best single Gini split of value cents against "is this a
      // purchase" — the base learner any boosting/forest loop starts
      // from, hash-graded: the candidate scan is one distinct-value
      // census + one cumulative window (value-scale, never
      // row-scale), impurities DECIMAL-exact with the stated
      // two-level truncation, argmin tie-break (gini, threshold).
      graft.operators.Features.decisionStump(
        Tables.events(s, dir),
        round($"value" * 100).cast("long"),
        $"event_type" === "purchase")
    },
    // distinct-value census + cumulative split scan; HUGEINT-exact
    // impurities with the stated two-level truncation, (gini,
    // threshold) argmin — mirrors Features.decisionStump
    Oracle("""WITH r AS (SELECT CAST(round(value * 100) AS BIGINT) AS f,
        |    (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |v AS (SELECT f,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
        |    CAST(sum(c) AS BIGINT) AS tn, max(f) AS fmax FROM v),
        |cum AS (SELECT f,
        |    CAST(sum(p) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
        |    CAST(sum(c) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS nl
        |  FROM v),
        |cand AS (SELECT f, pl, nl, nl - pl AS ql, tp - pl AS pr,
        |    tn - nl AS nr, (tn - nl) - (tp - pl) AS qr, tp, tn
        |  FROM cum, t WHERE f < fmax),
        |g AS (SELECT f, pl, nl, pr, nr,
        |    (((CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
        |        - CAST(ql AS HUGEINT) * ql) * 1000000 // nl)
        |     + ((CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
        |        - CAST(qr AS HUGEINT) * qr) * 1000000 // nr)) // tn
        |      AS gi,
        |    ((CAST(tn AS HUGEINT) * tn - CAST(tp AS HUGEINT) * tp
        |        - CAST(tn - tp AS HUGEINT) * (tn - tp)) * 1000000)
        |      // (CAST(tn AS HUGEINT) * tn) AS gp
        |  FROM cand),
        |b AS (SELECT *, row_number() OVER (ORDER BY gi, f) AS rn FROM g)
        |SELECT f AS threshold, nl AS n_left, nr AS n_right,
        |  pl AS pos_left, pr AS pos_right,
        |  CAST(gi AS BIGINT) AS gini_ppm,
        |  CAST(gp AS BIGINT) AS parent_gini_ppm
        |FROM b WHERE rn = 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ml_kfold_cv", (s, dir) => {
      import s.implicits._
      // The cross-validation HARNESS — the evaluation loop every
      // model selection runs (ml_stump_eval grades ONE split; CV
      // says whether the rule is stable across folds): 4 folds by
      // event-id residue, fit the Gini stump on each fold's
      // complement, score the held-out fold. Four 1-row model
      // collects (model-scale, documented); everything else exact
      // counts and one truncating ppm per fold.
      val ev = Tables.events(s, dir)
        // NULL value/event_type rows are excluded on BOTH fit and
        // holdout sides, matching the oracle's base CTE — a NULL c
        // would silently fall through when/otherwise to predR and a
        // NULL y would emit a group the oracle never produces
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(round($"value" * 100).cast("long").as("c"),
          ($"event_type" === "purchase").as("y"),
          pmod($"event_id", lit(4)).as("fold"))
        .localCheckpoint(true) // 4 fits + 4 holdout scans
      val folds = (0L until 4L).map { f =>
        val st = graft.operators.Features.decisionStump(
          ev.filter($"fold" =!= f), $"c", $"y").head()
        val (t, nl, nr, pl, pr) = (st.getLong(0), st.getLong(1),
          st.getLong(2), st.getLong(3), st.getLong(4))
        val predL = 2L * pl > nl
        val predR = 2L * pr > nr
        ev.filter($"fold" === f)
          .select($"y",
            when($"c" <= lit(t), lit(predL)).otherwise(lit(predR))
              .as("p"))
          .agg(count(lit(1)).cast("bigint").as("n_test"),
            sum(when($"y" === $"p", 1L).otherwise(0L)).cast("bigint")
              .as("n_correct"))
          .select(lit(f).cast("bigint").as("fold"),
            lit(t).cast("bigint").as("threshold"),
            $"n_test", $"n_correct",
            expr("CAST(CAST(n_correct AS DECIMAL(38,0)) * 1000000" +
              " div n_test AS BIGINT)").as("acc_ppm"))
      }
      folds.reduce(_.unionByName(_)).orderBy($"fold")
    },
    // the stump fit/apply block stamped per fold — generated
    Oracle(kfoldCvOracleSql),
    bench = true, eagerBuild = true),

    QuerySpec("ml_stump_eval", (s, dir) => {
      import s.implicits._
      // TRAIN/APPLY for the decision stump — the deployed-model
      // contract (ml_kmeans_assign's posture for the supervised
      // atom): fit the Gini split on even event_ids, predict each
      // side's majority class (ties predict negative — stated), and
      // read the HOLDOUT confusion matrix. The stump is a 1-row
      // model collect (documented); everything else is exact counts.
      val ev = Tables.events(s, dir)
        // exclude NULL value/event_type like the oracle's base CTE
        // (see ml_kfold_cv) — agreement by construction, not fixture
        .filter($"value".isNotNull && $"event_type".isNotNull)
        .select(round($"value" * 100).cast("long").as("c"),
          ($"event_type" === "purchase").as("y"),
          pmod($"event_id", lit(2)).as("par"))
        .localCheckpoint(true) // train fit + holdout apply
      val stump = graft.operators.Features.decisionStump(
        ev.filter($"par" === 0), $"c", $"y").head() // 1-row model
      val (t, nl, nr, pl, pr) = (stump.getLong(0), stump.getLong(1),
        stump.getLong(2), stump.getLong(3), stump.getLong(4))
      val predL = 2L * pl > nl
      val predR = 2L * pr > nr
      ev.filter($"par" === 1)
        .select($"y".as("true_label"),
          when($"c" <= lit(t), lit(predL)).otherwise(lit(predR))
            .as("pred_label"))
        .groupBy($"true_label", $"pred_label")
        .agg(count(lit(1)).cast("bigint").as("n"))
        .orderBy($"true_label", $"pred_label")
    },
    // the stump fit restated on the even train slice, majority-class
    // predictions per side (ties negative), holdout confusion counts
    Oracle("""WITH r AS (SELECT CAST(round(value * 100) AS BIGINT) AS f,
        |    (event_type = 'purchase') AS y, event_id % 2 AS par
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |v AS (SELECT f,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM r WHERE par = 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
        |    CAST(sum(c) AS BIGINT) AS tn, max(f) AS fmax FROM v),
        |cum AS (SELECT f,
        |    CAST(sum(p) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
        |    CAST(sum(c) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS nl
        |  FROM v),
        |cand AS (SELECT f, pl, nl, nl - pl AS ql, tp - pl AS pr,
        |    tn - nl AS nr, (tn - nl) - (tp - pl) AS qr
        |  FROM cum, t WHERE f < fmax),
        |g AS (SELECT f, pl, nl, pr, nr,
        |    (((CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
        |        - CAST(ql AS HUGEINT) * ql) * 1000000 // nl)
        |     + ((CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
        |        - CAST(qr AS HUGEINT) * qr) * 1000000 // nr))
        |      // (nl + nr) AS gi
        |  FROM cand),
        |b AS (SELECT f, pl, nl, pr, nr,
        |    row_number() OVER (ORDER BY gi, f) AS rn FROM g),
        |s1 AS (SELECT f AS t, 2 * pl > nl AS predl,
        |    2 * pr > nr AS predr FROM b WHERE rn = 1)
        |SELECT y AS true_label,
        |  CASE WHEN f <= s1.t THEN predl ELSE predr END AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r, s1 WHERE par = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ml_boosted_stumps", (s, dir) => {
      import s.implicits._
      // The actual BOOSTING loop, hash-graded: two rounds of L2
      // gradient boosting of purchase value (micro-cents) on
      // hour-of-day — round 2 fits the best SSE split of what round
      // 1 failed to explain. Truncating integer base/leaf values,
      // DECIMAL-exact split gains, residual updates exact longs;
      // the chained-CTE oracle replays both rounds. SIDE-EFFECTING
      // (two 1-row model collects per round).
      graft.operators.Features.boostedStumpsL2(
        Tables.events(s, dir).filter($"event_type" === "purchase"),
        hour($"ts"),
        round($"value" * 100).cast("long") * 1000000L,
        rounds = 2)
    },
    // two chained stump rounds over exact integer residuals: gain
    // SL²//nL + SR²//nR (HUGEINT), truncating leaf means, (gain
    // desc, threshold) argmax — mirrors Features.boostedStumpsL2
    Oracle("""WITH r0 AS (SELECT CAST(hour(ts) AS BIGINT) AS f,
        |    CAST(round(value * 100) AS BIGINT) * 1000000 AS y
        |  FROM events WHERE event_type = 'purchase'),
        |m0 AS (SELECT CAST(sum(y) AS HUGEINT) AS s,
        |    CAST(count(*) AS HUGEINT) AS n FROM r0),
        |c1 AS (SELECT f, y - CAST(s // n AS BIGINT) AS r FROM r0, m0),
        |v1 AS (SELECT f, CAST(sum(r) AS BIGINT) AS sr,
        |    CAST(count(*) AS BIGINT) AS c FROM c1 GROUP BY 1),
        |t1 AS (SELECT CAST(sum(sr) AS BIGINT) AS st,
        |    CAST(sum(c) AS BIGINT) AS nt, max(f) AS fmax FROM v1),
        |w1 AS (SELECT f, CAST(sum(sr) OVER win AS BIGINT) AS pl,
        |    CAST(sum(c) OVER win AS BIGINT) AS nl
        |  FROM v1 WINDOW win AS (ORDER BY f ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)),
        |g1 AS (SELECT f, pl, nl, st, nt,
        |    (CAST(pl AS HUGEINT) * pl) // nl
        |      + (CAST(st - pl AS HUGEINT) * (st - pl)) // (nt - nl) AS g
        |  FROM w1, t1 WHERE f < fmax),
        |b1 AS (SELECT f AS t, pl, nl, st, nt, nt - nl AS nr,
        |    CAST(CAST(pl AS HUGEINT) // nl AS BIGINT) AS vl,
        |    CAST(CAST(st - pl AS HUGEINT) // (nt - nl) AS BIGINT) AS vr,
        |    row_number() OVER (ORDER BY g DESC, f) AS rn FROM g1),
        |s1 AS (SELECT * FROM b1 WHERE rn = 1),
        |c2 AS (SELECT c1.f,
        |    c1.r - CASE WHEN c1.f <= s1.t THEN s1.vl ELSE s1.vr END AS r
        |  FROM c1, s1),
        |v2 AS (SELECT f, CAST(sum(r) AS BIGINT) AS sr,
        |    CAST(count(*) AS BIGINT) AS c FROM c2 GROUP BY 1),
        |t2 AS (SELECT CAST(sum(sr) AS BIGINT) AS st,
        |    CAST(sum(c) AS BIGINT) AS nt, max(f) AS fmax FROM v2),
        |w2 AS (SELECT f, CAST(sum(sr) OVER win AS BIGINT) AS pl,
        |    CAST(sum(c) OVER win AS BIGINT) AS nl
        |  FROM v2 WINDOW win AS (ORDER BY f ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)),
        |g2 AS (SELECT f, pl, nl, st, nt,
        |    (CAST(pl AS HUGEINT) * pl) // nl
        |      + (CAST(st - pl AS HUGEINT) * (st - pl)) // (nt - nl) AS g
        |  FROM w2, t2 WHERE f < fmax),
        |b2 AS (SELECT f AS t, pl, nl, st, nt, nt - nl AS nr,
        |    CAST(CAST(pl AS HUGEINT) // nl AS BIGINT) AS vl,
        |    CAST(CAST(st - pl AS HUGEINT) // (nt - nl) AS BIGINT) AS vr,
        |    row_number() OVER (ORDER BY g DESC, f) AS rn FROM g2),
        |s2 AS (SELECT * FROM b2 WHERE rn = 1)
        |SELECT CAST(1 AS BIGINT) AS round, t AS threshold,
        |  nl AS n_left, nr AS n_right, vl AS v_left_micros,
        |  vr AS v_right_micros FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), t, nl, nr, vl, vr FROM s2
        |ORDER BY round""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("ml_kmeans_assign", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // TRAIN/APPLY for clustering — the contract a deployed model
      // runs: fit the three Lloyd rounds on the 75% train slice
      // (vec_id % 4 != 0), then assign the HOLDOUT quarter to the
      // final integer centroid table by the same integer-dot cosine
      // argmax. Everything downstream of the one quantization is
      // exact, so the oracle unrolls the fit and replays the
      // assignment bit for bit. SIDE-EFFECTING (the fit's rounds run
      // eagerly).
      val emb = Tables.embeddings(s, dir)
      val cent = graft.llm.Similarity.kmeansRounds(
        emb.filter(pmod($"vec_id", lit(4)) =!= 0), "vec_id",
        "embedding", numSeeds = 8, rounds = 3)
      val c = cent.groupBy($"seed_id")
        .agg(transform(array_sort(collect_list(
          struct($"dim", $"centroid_micros"))),
          t => t("centroid_micros")).as("__c"))
        .withColumn("__nc", aggregate($"__c", lit(0L),
          (a, x) => a + x * x))
      val qv = emb.filter(pmod($"vec_id", lit(4)) === 0)
        .select($"vec_id", transform($"embedding", x =>
          round(x.cast("double") * lit(1e6)).cast("long")).as("__q"))
        .withColumn("__nq", aggregate($"__q", lit(0L),
          (a, x) => a + x * x))
        .filter($"__nq" > 0L)
      val w = Window.partitionBy($"vec_id")
        .orderBy($"__cm".desc, $"seed_id")
      qv.crossJoin(broadcast(c))
        .withColumn("__dot", aggregate(
          zip_with($"__q", $"__c", (x, y) => x * y), lit(0L),
          (a, t) => a + t))
        .withColumn("__cm", round($"__dot".cast("double") /
          (sqrt($"__nq".cast("double")) * sqrt($"__nc".cast("double")))
          * 1e6).cast("long"))
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1)
        .select($"vec_id".cast("long").as("vec_id"),
          $"seed_id".cast("long").as("seed_id"),
          $"__cm".as("cos_micros"))
        .orderBy($"vec_id")
    },
    // the same generated fit on the train slice + the holdout
    // assignment replayed by the identical argmax
    Oracle(mlKmeansAssignOracleSql),
    bench = true, eagerBuild = true),

    QuerySpec("ml_kmeans", (s, dir) => {
      // THREE full Lloyd rounds, hash-graded — the actual clustering
      // loop, not one step: vectors quantize once to micro
      // coordinates, then every assignment (integer-dot cosine
      // argmax) and every centroid update (Sum div n) is exact
      // integer arithmetic, so the oracle unrolls all three rounds
      // kcore-style and lands on the same final 8 x 64 centroid
      // table bit for bit. Spherical-kmeans mean-cosine monotonicity
      // is pinned in SimilaritySpec.
      graft.llm.Similarity.kmeansRounds(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        numSeeds = 8, rounds = 3)
    },
    // the centroid_assign CTEs plus the M-step: per-(seed, dim)
    // micro-coordinate sums, one truncating division (negative sums
    // truncate toward zero on both engines)
    // three unrolled Lloyd rounds over micro-quantized vectors; see
    // mlKmeansOracleSql for the generation
    Oracle(mlKmeansOracleSql),
    bench = true, eagerBuild = true),

    QuerySpec("ml_tfidf", (s, dir) => {
      import s.implicits._
      // vector column summarized to a stable scalar for the dump;
      // norm computed sparse-side in the shared fitted cache
      built.tfidf(s, dir)
        .select($"doc_id", round($"l2", 6).as("tfidf_l2"))
        .orderBy($"doc_id")
    },
    Gate("ml_tfidf_gate"),
    eagerBuild = true),

    QuerySpec("ml_word2vec", (s, dir) => {
      import s.implicits._
      w2vSynonymPlan(s, dir)._2
        .select($"word", round($"similarity", 6).as("similarity"))
    },
    Gate("ml_word2vec_gate"),
    eagerBuild = true),

    QuerySpec("ml_pca", (s, dir) => {
      import s.implicits._
      // projected vector serialized to JSON: a scalar the driver's
      // rows-only check can sort (raw arrays crash its pandas sort)
      val (projected, _) = Projection.pca(Tables.embeddings(s, dir), "embedding", k = 8)
      projected.select($"vec_id",
          to_json(transform($"pca", x => round(x, 6))).as("pca"))
        .orderBy($"vec_id")
    },
    Gate("ml_pca_gate"),
    eagerBuild = true),

    QuerySpec("ml_tfidf_gate", (s, dir) => {
      import s.implicits._
      // every doc has tokens (fixture-verified), so every TF-IDF vector
      // must have positive norm; n_docs is DuckDB-recomputed
      built.tfidf(s, dir)
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min($"l2" > 0).as("norms_positive"))
    },
    Oracle("SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS norms_positive FROM documents"),
    eagerBuild = true),

    QuerySpec("ml_word2vec_gate", (s, dir) => {
      import s.implicits._
      // synonym top-k contract: exactly k results, query word excluded,
      // cosines within [-1, 1], AND the plan-side ranking agrees with
      // the model.findSynonyms API (the reference's actual surface,
      // README.md:388). The API check is necessarily driver-side —
      // findSynonyms takes a string — so this gate eagerly collects the
      // 1-row top word and the API's 10-word answer at construction
      // (documented in the registry scaladoc). >= 9/10 overlap, not set
      // equality: both rankings use cosine, but the API ranks in float
      // BLAS while the plan ranks via float32 arrays, so the rank-10
      // boundary may flip on an ulp under ties.
      val (topWord, syn) = w2vSynonymPlan(s, dir)
      val model = built.word2vec(s, dir)
      val q = topWord.head().getString(0)
      val apiWords = model.findSynonyms(q, 10).select("word")
        .collect().map(_.getString(0)).toSeq
      syn.agg(count(lit(1)).cast("bigint").as("n_syn"),
          (max(abs($"similarity")) <= 1.000001).as("sims_bounded"),
          (max(when($"word" === $"q_word", 1).otherwise(0)) === 0)
            .as("excludes_query"),
          (size(array_intersect(collect_list($"word"),
            array(apiWords.map(lit(_)): _*))) >= 9).as("topk_agrees"))
    },
    Oracle("""SELECT CAST(10 AS BIGINT) AS n_syn, true AS sims_bounded,
        |  true AS excludes_query, true AS topk_agrees""".stripMargin),
    eagerBuild = true),

    QuerySpec("ml_pca_gate", (s, dir) => {
      import s.implicits._
      // PCA(k): every projection has k dims; component variances are
      // non-increasing (components are ordered by explained variance);
      // n_rows is DuckDB-recomputed
      val k = 8
      val (projected, _) = Projection.pca(Tables.embeddings(s, dir), "embedding", k)
      val pcols = (0 until k).map(i => $"pca".getItem(i).as(s"c$i"))
      val varsOrdered = (0 until k - 1)
        .map(i => col(s"v$i") >= col(s"v${i + 1}"))
        .reduce(_ && _)
      val aggs = Seq(min($"dim").as("dim_min"), max($"dim").as("dim_max")) ++
        (0 until k).map(i => variance(col(s"c$i")).as(s"v$i"))
      projected.select((size($"pca").as("dim")) +: pcols: _*)
        .agg(count(lit(1)).cast("bigint").as("n_rows"), aggs: _*)
        .select($"n_rows", lit(k).as("k"),
          ($"dim_min" === k && $"dim_max" === k).as("dims_ok"),
          varsOrdered.as("vars_ordered"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows, 8 AS k,
        |  true AS dims_ok, true AS vars_ordered FROM embeddings""".stripMargin),
    eagerBuild = true),
  )

  /** ml_kmeans oracle, generated: the three Lloyd rounds unrolled
    * kcore-style. Vectors quantize once to micro BIGINT coordinates;
    * each round is an integer-dot cosine argmax (doubles only inside
    * the mirrored divide-and-round tree) followed by a `Σq // n`
    * centroid update — every intermediate CAST back to BIGINT so no
    * HUGEINT reaches the frame (the ts_holt_winters lesson). */
  private lazy val mlKmeansOracleSql: String =
    mlKmeansOracle("", """SELECT sid AS seed_id,
      |  CAST(dim - 1 AS BIGINT) AS dim,
      |  n AS n_assigned, cd AS centroid_micros
      |FROM u3 ORDER BY 1, 2""".stripMargin)

  /** ml_kmeans_assign oracle: the SAME three generated rounds fitted
    * on the TRAIN slice (vec_id % 4 <> 0), then the holdout quarter
    * assigned to the final integer centroid table by the identical
    * integer-dot cosine argmax — the train/apply contract. */
  private lazy val mlKmeansAssignOracleSql: String =
    mlKmeansOracle("AND id % 4 <> 0",
      """ho AS (SELECT id, q, CAST(nq AS BIGINT) AS nq
        |  FROM qn WHERE id % 4 = 0 AND nq > 0),
        |pr AS (SELECT h.id, c.sid,
        |    CAST(round(CAST(list_sum(list_transform(range(1, 65), i ->
        |        h.q[CAST(i AS INT)] * c.c[CAST(i AS INT)])) AS DOUBLE)
        |      / (sqrt(CAST(h.nq AS DOUBLE)) * sqrt(CAST(c.nc AS DOUBLE)))
        |      * 1000000) AS BIGINT) AS cm
        |  FROM ho h, c3 c),
        |rk AS (SELECT id, sid, cm, row_number() OVER (
        |    PARTITION BY id ORDER BY cm DESC, sid) AS rn FROM pr)
        |SELECT id AS vec_id, sid AS seed_id, cm AS cos_micros
        |FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin)

  /** Generator shared by ml_kmeans / ml_kmeans_assign: the quantized
    * vectors, three unrolled Lloyd rounds over the (optionally
    * filtered) base, then either a plain final SELECT or extra CTEs
    * + SELECT spliced after round 3. */
  private def mlKmeansOracle(basePredicate: String,
      finalSql: String): String = {
    val finalPart =
      if (finalSql.startsWith("SELECT")) s"\n$finalSql"
      else s",\n$finalSql"
    def round(r: Int): String =
      s"""a$r AS (SELECT b.id, c.sid,
         |    CAST(round(CAST(list_sum(list_transform(range(1, 65), i ->
         |        b.q[CAST(i AS INT)] * c.c[CAST(i AS INT)])) AS DOUBLE)
         |      / (sqrt(CAST(b.nq AS DOUBLE)) * sqrt(CAST(c.nc AS DOUBLE)))
         |      * 1000000) AS BIGINT) AS cm
         |  FROM base b, c${r - 1} c),
         |s$r AS (SELECT id, sid, row_number() OVER (
         |    PARTITION BY id ORDER BY cm DESC, sid) AS rn FROM a$r),
         |u$r AS (SELECT t.sid, r2.i AS dim, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(b.q[CAST(r2.i AS INT)]) // count(*) AS BIGINT) AS cd
         |  FROM s$r t JOIN base b ON b.id = t.id, range(1, 65) r2(i)
         |  WHERE t.rn = 1 GROUP BY 1, 2),
         |c$r AS (SELECT sid, list(cd ORDER BY dim) AS c,
         |    CAST(sum(cd * cd) AS BIGINT) AS nc
         |  FROM u$r GROUP BY sid)""".stripMargin
    s"""WITH qv AS (SELECT vec_id AS id,
       |    list_transform(embedding, x ->
       |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |qn AS (SELECT id, q,
       |    list_sum(list_transform(q, x -> x * x)) AS nq FROM qv),
       |base AS (SELECT id, q, CAST(nq AS BIGINT) AS nq FROM qn
       |  WHERE nq > 0 $basePredicate),
       |c0 AS (SELECT id AS sid, q AS c, nq AS nc FROM base
       |  ORDER BY id LIMIT 8),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin + finalPart
  }

  /** Generated ml_kfold_cv oracle: the ml_stump_eval fit/apply block
    * stamped once per fold (train = the fold's complement, score =
    * the held-out fold), unioned — fit and apply can never drift
    * from the graded stump because the block IS the stump SQL. */
  private lazy val kfoldCvOracleSql: String = {
    def block(f: Int): String =
      s"""v$f AS (SELECT f,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM r WHERE fold <> $f GROUP BY 1),
         |t$f AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
         |    CAST(sum(c) AS BIGINT) AS tn, max(f) AS fmax FROM v$f),
         |cum$f AS (SELECT f,
         |    CAST(sum(p) OVER w AS BIGINT) AS pl,
         |    CAST(sum(c) OVER w AS BIGINT) AS nl
         |  FROM v$f WINDOW w AS (ORDER BY f ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)),
         |cand$f AS (SELECT f, pl, nl, nl - pl AS ql, tp - pl AS pr,
         |    tn - nl AS nr, (tn - nl) - (tp - pl) AS qr
         |  FROM cum$f, t$f WHERE f < fmax),
         |g$f AS (SELECT f, pl, nl, pr, nr,
         |    (((CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
         |        - CAST(ql AS HUGEINT) * ql) * 1000000 // nl)
         |     + ((CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
         |        - CAST(qr AS HUGEINT) * qr) * 1000000 // nr))
         |      // (nl + nr) AS gi
         |  FROM cand$f),
         |b$f AS (SELECT f AS t, 2 * pl > nl AS predl,
         |    2 * pr > nr AS predr,
         |    row_number() OVER (ORDER BY gi, f) AS rn FROM g$f),
         |s$f AS (SELECT * FROM b$f WHERE rn = 1),
         |e$f AS (SELECT CAST($f AS BIGINT) AS fold,
         |    CAST(s$f.t AS BIGINT) AS threshold,
         |    CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN r.y = (CASE WHEN r.f <= s$f.t
         |      THEN s$f.predl ELSE s$f.predr END) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM r, s$f WHERE fold = $f GROUP BY 1, 2)""".stripMargin
    val head =
      """WITH r AS MATERIALIZED (SELECT
        |    CAST(round(value * 100) AS BIGINT) AS f,
        |    (event_type = 'purchase') AS y, event_id % 4 AS fold
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),""".stripMargin
    val tail =
      """u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1
        |  UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
        |SELECT fold, threshold, n_test, n_correct,
        |  CAST(CAST(n_correct AS HUGEINT) * 1000000 // n_test
        |    AS BIGINT) AS acc_ppm
        |FROM u ORDER BY fold""".stripMargin
    head + "\n" + (0 to 3).map(block).mkString(",\n") + ",\n" + tail
  }
}
