package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.Similarity

import Shared.{built, setsEqual, tmpPath}

/** Vector similarity search: brute force, IVF, PQ, LSH, filtered and
  * range variants. The recall gates compare each approximate tier with
  * the exact brute-force answer as one driver-checkable row. */
object SimilarityQueries {
  /** Recall readout of `got` against `truth` on (q_id, n_id): one-row
    * frames (n_true) and (n_hit); each gate applies its own bar. */
  private def recallCounts(truth: DataFrame, got: DataFrame) =
    (truth.agg(count(lit(1)).as("n_true")),
      truth.join(got, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit")))

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("sim_hard_negatives", (s, dir) => {
      import s.implicits._
      // Hard-negative mining for contrastive training: per anchor the
      // top-5 most-similar DIFFERENT-label vectors via the IVF
      // self-probe. Raw dump graded rows-only (the KMeans fit is
      // seeded spark.ml, not SQL-replayable); the label/rank/recall
      // contracts live in sim_hard_negatives_gate.
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding", $"label")
      val nlist = Similarity.ivfAutoNlist(emb.count())
      Similarity.hardNegatives(emb, "embedding", "vec_id", "label",
          k = 5, nlist = nlist,
          nprobe = Similarity.ivfAutoNprobe(nlist), overfetch = 8)
        .select($"q_id", $"n_id", $"rank")
        .orderBy($"q_id", $"rank")
    },
    Gate("sim_hard_negatives_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("sim_hard_negatives_gate", (s, dir) => {
      import s.implicits._
      // Deterministic contracts for the mined negatives: every pair
      // crosses labels, no self-pairs, at most k per anchor with
      // dense 1-based ranks, and recall >= 0.6 against the EXACT
      // different-label top-5 (brute reference — a gate-only <=5k-row
      // verification artifact, never benched).
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding", $"label")
      val nlist = Similarity.ivfAutoNlist(emb.count())
      val hn = Similarity.hardNegatives(emb, "embedding", "vec_id",
        "label", k = 5, nlist = nlist,
        nprobe = Similarity.ivfAutoNprobe(nlist), overfetch = 8).cache()
      val lbl = emb.select($"vec_id", $"label")
      val crossOk = hn
        .join(lbl.select($"vec_id".as("q_id"), $"label".as("__ql")),
          Seq("q_id"))
        .join(lbl.select($"vec_id".as("n_id"), $"label".as("__nl")),
          Seq("n_id"))
        .agg((sum(when($"__ql" <=> $"__nl" || $"q_id" === $"n_id", 1L)
          .otherwise(0L)) === 0L).as("all_cross_label"))
      val perAnchor = hn.groupBy($"q_id")
        .agg(count(lit(1)).as("__c"), max($"rank").as("__mr"))
        .agg((max($"__c") <= 5L).as("at_most_k"),
          (sum(when($"__mr" === $"__c", 0L).otherwise(1L)) === 0L)
            .as("ranks_dense"))
      val lab = emb.filter($"label".isNotNull)
      val a = lab.select($"vec_id".as("q_id"), $"embedding".as("__va"),
        $"label".as("__ql"))
      val b = lab.select($"vec_id".as("n_id"), $"embedding".as("__vb"),
        $"label".as("__nl"))
      val exact = a.join(b, $"q_id" =!= $"n_id" &&
          !($"__ql" <=> $"__nl"))
        .select($"q_id", $"n_id",
          graft.functions.cosine_similarity($"__va", $"__vb").as("__c"))
        .withColumn("__r", row_number().over(
          Window.partitionBy($"q_id").orderBy($"__c".desc, $"n_id")))
        .filter($"__r" <= 5).select($"q_id", $"n_id")
      val (nTrue, nHit) = recallCounts(exact, hn.select($"q_id", $"n_id"))
      emb.agg(count(lit(1)).cast("bigint").as("n_anchors"))
        .crossJoin(nTrue).crossJoin(nHit)
        .crossJoin(crossOk).crossJoin(perAnchor)
        .select($"n_anchors", $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.6)
            .as("recall_ok"),
          $"all_cross_label", $"at_most_k", $"ranks_dense")
    },
    // every label's different-label pool far exceeds k=5, so the
    // exact reference holds count(*)*5 pairs; the booleans pin the
    // label/rank/recall contracts computed Spark-side
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_anchors,
        |  CAST(count(*) * 5 AS BIGINT) AS n_true,
        |  TRUE AS recall_ok, TRUE AS all_cross_label,
        |  TRUE AS at_most_k, TRUE AS ranks_dense
        |FROM embeddings""".stripMargin),
    eagerBuild = true),

    QuerySpec("sim_knn_graph_recall", (s, dir) => {
      import s.implicits._
      // kNN-graph gate at production IVF sizing: directed top-5 edges
      // for EVERY corpus vector via the self-probe, recall >= 0.6 vs
      // the brute-force self-join (booleans, not raw recall — the
      // KMeans fit is environment-sensitive, the contract is not);
      // the mutual variant must equal the reciprocated subset of the
      // directed graph (same seed => same fit => pure reciprocity
      // filter) and be symmetric by construction.
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val nlist = Similarity.ivfAutoNlist(emb.count())
      val nprobe = Similarity.ivfAutoNprobe(nlist)
      val g = Similarity.knnGraph(emb, "embedding", "vec_id", k = 5,
        nlist = nlist, nprobe = nprobe).cache()
      val brute = Similarity.bruteForceTopK(emb, emb, "embedding",
        "vec_id", k = 5).select($"q_id", $"n_id").cache()
      val (nTrue, nHit) = recallCounts(brute, g.select($"q_id", $"n_id"))
      val mutualOp = Similarity.knnGraph(emb, "embedding", "vec_id", k = 5,
        nlist = nlist, nprobe = nprobe, mutual = true)
        .select($"q_id", $"n_id")
      val mutualExpected = g.select($"q_id", $"n_id")
        .join(g.select($"n_id".as("q_id"), $"q_id".as("n_id")),
          Seq("q_id", "n_id"), "left_semi")
      val swapped = mutualOp.select($"n_id".as("q_id"), $"q_id".as("n_id"))
      emb.agg(count(lit(1)).cast("bigint").as("n_vectors"))
        .crossJoin(nTrue).crossJoin(nHit)
        .crossJoin(setsEqual(mutualOp, mutualExpected,
          Seq("q_id", "n_id"), "mutual_matches_op"))
        .crossJoin(setsEqual(mutualOp, swapped,
          Seq("q_id", "n_id"), "mutual_symmetric"))
        .select($"n_vectors", $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.6)
            .as("recall_ok"),
          $"mutual_matches_op", $"mutual_symmetric")
    },
    // gate booleans + deterministic counts (brute force emits exactly
    // k rows per query vector); the recall and mutual contracts are
    // computed Spark-side, the oracle pins what must hold
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(count(*) * 5 AS BIGINT) AS n_true,
        |  TRUE AS recall_ok, TRUE AS mutual_matches_op,
        |  TRUE AS mutual_symmetric
        |FROM embeddings""".stripMargin),
    eagerBuild = true),

    QuerySpec("sim_mmr_gate", (s, dir) => {
      import s.implicits._
      // MMR re-rank gate over a real retrieval: candidates = brute
      // top-100 for probe vec_id 0, re-ranked at λ=0.7. Contracts:
      // λ=10⁶ degenerates to the plain relevance order EXACTLY, the
      // first pick is the top-relevance item under any λ, and the
      // selection is k distinct candidate members.
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val q = emb.filter($"vec_id" === 0)
      val cands = Similarity.bruteForceTopK(emb, q, "embedding",
          "vec_id", k = 100)
        .join(emb.select($"vec_id".as("n_id"), $"embedding"), Seq("n_id"))
        .select($"n_id", $"cosine", $"embedding").cache()
      val mmr = Similarity.mmrRerank(cands, "n_id", "cosine",
        "embedding", k = 10, lambdaPpm = 700000L)
      val lam1 = Similarity.mmrRerank(cands, "n_id", "cosine",
        "embedding", k = 10, lambdaPpm = 1000000L)
      val plain = cands.withColumn("rank", row_number().over(
          Window.orderBy($"cosine".desc, $"n_id")))
        .filter($"rank" <= 10).select($"rank".cast("bigint").as("rank"),
          $"n_id")
      val degenerate = setsEqual(lam1.select($"rank", $"n_id"), plain,
        Seq("rank", "n_id"), "degenerate_exact")
      val firstPick = mmr.filter($"rank" === 1).select($"n_id")
        .join(plain.filter($"rank" === 1).select($"n_id"), Seq("n_id"))
        .agg((count(lit(1)) === 1L).as("first_is_top"))
      val membership = mmr.join(cands.select($"n_id"), Seq("n_id"),
          "left_semi")
        .agg((count(lit(1)) === 10L &&
          countDistinct($"n_id") === 10L).as("subset_distinct"))
      mmr.agg(count(lit(1)).cast("bigint").as("n_selected"))
        .crossJoin(degenerate).crossJoin(firstPick).crossJoin(membership)
    },
    Oracle("""SELECT CAST(10 AS BIGINT) AS n_selected,
        |  TRUE AS degenerate_exact, TRUE AS first_is_top,
        |  TRUE AS subset_distinct""".stripMargin),
    eagerBuild = true),

    QuerySpec("sim_topk_brute", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", k = 5)
        // decimal intermediate, not round(): both engines agree on the
        // decimal value exactly, while round-to-double differs in the
        // last ulp; final double cast so the dumped dtype matches too
        .select($"q_id", $"n_id",
          $"cosine".cast("decimal(10,6)").cast("double").as("cosine"), $"rn")
        .orderBy($"q_id", $"rn")
    },
    Oracle("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS raw_cosine
        |  FROM q, embeddings e WHERE q.q_id != e.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY raw_cosine DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id, CAST(CAST(raw_cosine AS DECIMAL(10,6)) AS DOUBLE) AS cosine, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin),
    bench = true),

    QuerySpec("sim_topk_filtered", (s, dir) => {
      import s.implicits._
      // FILTERED vector search — nearest neighbors WITHIN the query's
      // label slice (same tenant/category/language, the production
      // predicate shape): the filter joins before scoring, so k never
      // silently under-fills the way post-filtering a plain top-k
      // does. Exact within-slice brute force, decimal-quantized
      // cosine (the sim_topk_brute grading device).
      val emb = Tables.embeddings(s, dir)
      Similarity.filteredTopK(emb, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", Seq("label"), k = 5)
        .select($"q_id", $"n_id",
          $"cosine".cast("decimal(10,6)").cast("double").as("cosine"),
          $"rn")
        .orderBy($"q_id", $"rn")
    },
    // the brute oracle with the label-equality predicate joined
    // BEFORE ranking — within-slice top-k, never an under-filled k
    Oracle("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS raw_cosine
        |  FROM q JOIN embeddings e
        |    ON e.label IS NOT DISTINCT FROM q.label
        |    AND q.q_id != e.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cosine,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY raw_cosine DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id,
        |  CAST(CAST(raw_cosine AS DECIMAL(10,6)) AS DOUBLE) AS cosine,
        |  rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin),
    bench = true),

    QuerySpec("sim_topk_filtered_ivf", (s, dir) => {
      import s.implicits._
      // Filtered search THROUGH THE SLICED INDEX — the corpus-scale
      // form of sim_topk_filtered: the inverted lists carry the label,
      // the probe joins on (label, cluster). Probed EXHAUSTIVELY
      // (nprobe = nlist) here so the result agrees with the
      // within-slice brute force value-for-value and hash-grades
      // against the same oracle; sim_filtered_ivf_recall gates the
      // production nprobe sizing and the partitioned save/load path.
      val emb = Tables.embeddings(s, dir)
      val idx = built.ivfIndexSliced(s, dir)
      Similarity.ivfProbeFiltered(idx, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", Seq("label"), k = 5,
          nprobe = idx.nlist)
        .select($"q_id", $"n_id",
          $"cosine".cast("decimal(10,6)").cast("double").as("cosine"),
          $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    // the sliced-index probe at nprobe = nlist is exhaustive within
    // the slice, so the oracle is the SAME within-slice brute force
    Oracle("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS raw_cosine
        |  FROM q JOIN embeddings e
        |    ON e.label IS NOT DISTINCT FROM q.label
        |    AND q.q_id != e.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cosine,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY raw_cosine DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id,
        |  CAST(CAST(raw_cosine AS DECIMAL(10,6)) AS DOUBLE) AS cosine,
        |  rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("sim_filtered_ivf_recall", (s, dir) => {
      import s.implicits._
      // Production-sizing gate for the sliced index: (a) recall@5 of
      // the filtered probe at nprobe = nlist/4 against the exact
      // within-slice top-k holds the ivf family's floor; (b) the
      // index saved PARTITIONED BY the slice column and reloaded
      // probes to the identical result set (the 100 TB layout —
      // partition pruning — is result-invisible). SIDE-EFFECTING
      // (writes the partitioned index at construction).
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 20)
      val idx = built.ivfIndexSliced(s, dir)
      val pth = tmpPath("ivfsl", dir)
      Similarity.ivfSavePartitioned(idx, pth, Seq("label"))
      val loaded = Similarity.ivfLoad(s, pth)
      val nprobe = Similarity.ivfAutoNprobe(idx.nlist)
      val truth = Similarity.filteredTopK(emb, q, "embedding",
          "vec_id", Seq("label"), k = 5)
        .select($"q_id", $"n_id")
      val got = Similarity.ivfProbeFiltered(idx, q, "embedding",
          "vec_id", Seq("label"), k = 5, nprobe = nprobe)
        .select($"q_id", $"n_id").localCheckpoint()
      val gotLoaded = Similarity.ivfProbeFiltered(loaded, q,
          "embedding", "vec_id", Seq("label"), k = 5, nprobe = nprobe)
        .select($"q_id", $"n_id")
      val (nTrue, nHit) = recallCounts(truth, got)
      nTrue.crossJoin(nHit)
        .crossJoin(setsEqual(got, gotLoaded, Seq("q_id", "n_id"),
          "loaded_agrees"))
        .select(($"n_true" > 0).as("nonempty"),
          ($"n_hit".cast("double") / $"n_true" >= 0.55).as("recall_ok"),
          $"loaded_agrees")
    },
    Oracle("SELECT true AS nonempty, true AS recall_ok, true AS loaded_agrees"),
    eagerBuild = true),

    QuerySpec("sim_topk_lsh", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", k = 5, planes = 6)
        .select($"q_id", $"n_id", round($"cosine", 6).as("cosine"), $"rn")
        .orderBy($"q_id", $"rn")
    },
    Gate("sim_recall_lsh")),

    QuerySpec("sim_topk_ivf", (s, dir) => {
      import s.implicits._
      // probe-only: the KMeans index build happens once per sf dir
      // (built.ivfIndex), not inside every query call; nprobe tracks
      // the √n nlist (see Similarity.ivfAutoNprobe)
      val emb = Tables.embeddings(s, dir)
      val idx = built.ivfIndex(s, dir)
      Similarity.ivfProbe(idx, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", k = 5,
          nprobe = Similarity.ivfAutoNprobe(idx.nlist))
        .select($"q_id", $"n_id", round($"cosine", 6).as("cosine"), $"rn")
        .orderBy($"q_id", $"rn")
    },
    Gate("sim_recall_ivf"),
    bench = true, eagerBuild = true),

    QuerySpec("sim_centroid_assign", (s, dir) => {
      // One exact Lloyd E-step over the embedding corpus with the 8
      // lowest-id vectors as centroids — the HASH-GRADED member of
      // the similarity family (the ANN ops grade through recall
      // gates): pico-quantized order-free dot products, one mirrored
      // cosine division, (cos desc, seed) argmax. Eight rows.
      graft.llm.Similarity.centroidAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", numSeeds = 8)
    },
    // pico-quantized order-free dot products over the 64-dim lists;
    // one mirrored cosine division; (cos desc, seed) argmax
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
        |a AS (SELECT vec_id, sid, cm, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cm DESC, sid) AS rn
        |  FROM cosr)
        |SELECT sid AS seed_id, CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(CAST(sum(cm) AS HUGEINT) // count(*) AS BIGINT)
        |    AS mean_cos_micros
        |FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),

    QuerySpec("sim_threshold_sweep", (s, dir) => {
      import s.implicits._
      // The EMPIRICAL near-dup tuning curve — dedup_lsh_tuning gives
      // the theoretical S-curve; this counts the actual pairs the
      // corpus has at each candidate threshold, which is the number
      // a curator stares at before picking one ("0.95 keeps 40
      // pairs, 0.80 keeps 4,000 — which cut do we mean?"). Exact
      // n²/2 pass in the quantize-once micro_cosine discipline (the
      // codegen'd expression makes brute feasible); one conditional
      // sum per threshold, unpivoted.
      val q = Tables.embeddings(s, dir)
        .select($"vec_id".cast("long").as("id"),
          transform($"embedding", x =>
            round(x.cast("double") * lit(1e6)).cast("long")).as("q"))
        .filter($"id".isNotNull)
        .localCheckpoint(true) // both sides of the pair join
      val a = q.select($"id".as("ia"), $"q".as("qa"))
      val b = q.select($"id".as("ib"), $"q".as("qb"))
      val pairs = a.crossJoin(broadcast(b)).filter($"ia" < $"ib")
        .select(graft.functions.micro_cosine($"qa", $"qb").as("cm"))
        .filter($"cm".isNotNull)
      pairs.agg(
          sum(when($"cm" >= 800000L, 1L).otherwise(0L)).as("t800000"),
          sum(when($"cm" >= 850000L, 1L).otherwise(0L)).as("t850000"),
          sum(when($"cm" >= 900000L, 1L).otherwise(0L)).as("t900000"),
          sum(when($"cm" >= 950000L, 1L).otherwise(0L)).as("t950000"))
        .selectExpr("stack(4, 800000L, t800000, 850000L, t850000," +
          " 900000L, t900000, 950000L, t950000)" +
          " AS (threshold_micros, n_pairs)")
        .selectExpr("threshold_micros",
          "CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs")
        .orderBy($"threshold_micros")
    },
    // exact n²/2 pair counts at each threshold in the quantize-once
    // convention (NULL cosines — zero norms — excluded both sides)
    Oracle("""WITH q AS (SELECT vec_id AS id,
        |    list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |pr AS (SELECT a.id AS ia, b.id AS ib,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT)
        |      AS dp,
        |    CAST(list_sum(list_transform(a.q, t -> t * t)) AS BIGINT)
        |      AS na,
        |    CAST(list_sum(list_transform(b.q, t -> t * t)) AS BIGINT)
        |      AS nb
        |  FROM q a, q b WHERE a.id < b.id),
        |cm AS (SELECT CAST(round(CAST(dp AS DOUBLE)
        |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS cm
        |  FROM pr WHERE na > 0 AND nb > 0),
        |t AS (SELECT CAST(range AS BIGINT) * 50000 + 800000
        |    AS threshold_micros FROM range(0, 4))
        |SELECT threshold_micros,
        |  CAST(coalesce(sum(CASE WHEN cm >= threshold_micros THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_pairs
        |FROM t LEFT JOIN cm ON TRUE
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("sim_range_search", (s, dir) => {
      import s.implicits._
      // Threshold (range) retrieval via the IVF probe: every
      // neighbor at cosine >= 0.35 for a 100-query panel — the
      // retrieval shape where top-k is wrong (true match counts
      // vary per query; k truncates or pads). Rows-only (seeded
      // KMeans); one-sided-error + recall contracts live in
      // sim_range_search_gate.
      val emb = Tables.embeddings(s, dir)
      val idx = built.ivfIndex(s, dir)
      Similarity.ivfRangeSearch(idx, emb.filter($"vec_id" < 100),
          "embedding", "vec_id", minCosineMicros = 350000L,
          nprobe = Similarity.ivfAutoNprobe(idx.nlist))
        .orderBy($"q_id", $"n_id")
    },
    Gate("sim_range_search_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("sim_range_search_filtered", (s, dir) => {
      import s.implicits._
      // Within-slice threshold retrieval — the tenant-scoped near-dup
      // audit (every label-mate at cosine >= 0.35, however many there
      // are). Probed EXHAUSTIVELY (nprobe = nlist) so the emitted set
      // equals the brute filtered range set value-for-value and
      // hash-grades; the sliced probe's production-sizing recall is
      // sim_filtered_ivf_recall's contract.
      val emb = Tables.embeddings(s, dir)
      val idx = built.ivfIndexSliced(s, dir)
      Similarity.ivfRangeSearchFiltered(idx, emb.filter($"vec_id" < 100),
          "embedding", "vec_id", Seq("label"),
          minCosineMicros = 350000L, nprobe = idx.nlist)
        .orderBy($"q_id", $"n_id")
    },
    // the brute within-slice range set: exhaustive sliced probing
    // equals it value-for-value; micros rounded at the comparison on
    // both sides
    Oracle("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label
        |  FROM embeddings WHERE vec_id < 100),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    CAST(round(list_cosine_similarity(
        |      CAST(q.q_vec AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) * 1000000) AS BIGINT)
        |      AS cosine_micros
        |  FROM q JOIN embeddings e
        |    ON e.label IS NOT DISTINCT FROM q.label
        |    AND q.q_id != e.vec_id)
        |SELECT q_id, n_id, cosine_micros FROM scored
        |WHERE cosine_micros >= 350000
        |ORDER BY q_id, n_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("sim_range_search_gate", (s, dir) => {
      import s.implicits._
      // One-sided error is a CONSTRUCTION property (exact cosines
      // over probed cells can only miss, never fabricate) — pinned
      // here against the exact brute-force range set, plus the
      // recall >= 0.6 floor and a non-degenerate truth set.
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 100)
      val idx = built.ivfIndex(s, dir)
      val got = Similarity.ivfRangeSearch(idx, q, "embedding",
        "vec_id", 350000L, Similarity.ivfAutoNprobe(idx.nlist)).cache()
      val a = q.select($"vec_id".as("q_id"), $"embedding".as("__va"))
      val b = emb.select($"vec_id".as("n_id"), $"embedding".as("__vb"))
      val brute = a.join(b, $"q_id" =!= $"n_id")
        .withColumn("__c", round(graft.functions
          .cosine_similarity($"__va", $"__vb") * 1e6).cast("long"))
        .filter($"__c" >= 350000L)
        .select($"q_id", $"n_id")
      val hits = brute.join(got.select($"q_id", $"n_id"),
        Seq("q_id", "n_id"), "left_semi")
      val fabricated = got.select($"q_id", $"n_id")
        .join(brute, Seq("q_id", "n_id"), "left_anti")
      brute.agg(count(lit(1)).as("__nt"))
        .crossJoin(hits.agg(count(lit(1)).as("__hit")))
        .crossJoin(fabricated.agg((count(lit(1)) === 0L).as("one_sided")))
        .select(($"__nt" > 0L).as("n_true_positive"),
          (($"__hit".cast("double") / $"__nt".cast("double")) >= 0.6)
            .as("recall_ok"),
          $"one_sided")
    },
    // booleans only: the truth-set size is deterministic but floats
    // in DuckDB's list cosine could flicker a boundary pair; the
    // CONTRACTS (non-degenerate truth, recall floor, no fabricated
    // pair) are environment-stable
    Oracle(("SELECT true AS n_true_positive, true AS recall_ok, " +
        "true AS one_sided")),
    eagerBuild = true),

    QuerySpec("sim_quantized_recall", (s, dir) => {
      import s.implicits._
      // int8 storage path: quantize every vector (4x scan IO at
      // 100 TB), run the same exact top-5 over the quantized table,
      // and gate (a) top-k agreement vs float32 and (b) the cosine
      // perturbation bound on the agreed pairs. Cosine is
      // scale-invariant, so only rounding noise separates the two.
      val emb = Tables.embeddings(s, dir)
      val qz = Similarity.quantizeInt8(emb, "embedding")
        .select($"vec_id",
          transform($"q_vec", b => b.cast("float")).as("embedding"))
      val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20),
          "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id", $"cosine")
      val qtop = Similarity.bruteForceTopK(qz, qz.filter($"vec_id" < 20),
          "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id", $"cosine".as("q_cosine"))
      val hits = brute.join(qtop, Seq("q_id", "n_id"))
      brute.agg(count(lit(1)).as("n_true"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit"),
          max(abs($"cosine" - $"q_cosine")).as("max_err")))
        .select(lit(5).as("k"), $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.9)
            .as("recall_ok"),
          ($"max_err" <= 0.05).as("err_ok"))
    },
    // ANN quality gates: threshold booleans, not pinned recall values —
    // a plane-count/seed/testdata retune shifts the exact recall but
    // not the contract (LSH >= 0.4 at 6 planes, IVF >= 0.6).
    Oracle("SELECT 5 AS k, 100 AS n_true, true AS recall_ok, true AS err_ok")),

    QuerySpec("sim_recall_lsh", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 20)
      val brute = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id")
      val lsh = Similarity.lshTopK(emb, q, "embedding", "vec_id", k = 5, planes = 6)
        .select($"q_id", $"n_id")
      // threshold gate, not the exact hit count: recall@5 with 6
      // planes is ~0.44 here, but the exact value shifts with any
      // plane/seed/testdata retune — >= 0.4 is the contract
      val (nTrue, nHit) = recallCounts(brute, lsh)
      nTrue.crossJoin(nHit)
        .select(lit(5).as("k"), $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.4).as("recall_ok"))
    },
    Oracle("SELECT 5 AS k, 100 AS n_true, true AS recall_ok")),

    QuerySpec("sim_topk_pq", (s, dir) => {
      import s.implicits._
      // production PQ serving: ADC scores the cached code table (m
      // table adds per candidate, zero float IO), exact cosine
      // re-ranks only the 8k-per-query shortlist. Rows-only (the
      // trained codebooks are environment-sensitive); sim_recall_pq
      // is the deterministic-threshold companion gate.
      val emb = Tables.embeddings(s, dir)
      val (books, codes) = built.pqIndex(s, dir)
      Similarity.pqAdcTopKRefined(codes, books,
          emb.filter($"vec_id" < 20), emb, "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id", round($"cosine", 6).as("cosine"), $"rn")
        .orderBy($"q_id", $"rn")
    },
    Gate("sim_recall_pq"),
    bench = true, eagerBuild = true),

    QuerySpec("sim_topk_filtered_pq", (s, dir) => {
      import s.implicits._
      // Filtered search at PQ COMPRESSION — the {filtered} axis for
      // the 16-32× storage path, completing the grid next to
      // sim_topk_filtered (full precision) and sim_topk_filtered_ivf
      // (sliced lists): codes carry the slice key, the ADC scan
      // shortlists within each query's slice, exact cosine re-ranks.
      // Shortlisted EXHAUSTIVELY here (shortlist = corpus bound ≥
      // any slice), so the refined result equals the within-slice
      // brute force value-for-value and hash-grades against the same
      // oracle; sim_filtered_pq_recall gates the production
      // shortlist sizing.
      val emb = Tables.embeddings(s, dir)
      val (books, _) = built.pqIndex(s, dir)
      Similarity.pqAdcTopKRefinedFiltered(built.pqCodesSliced(s, dir),
          books, emb.filter($"vec_id" < 20), emb, "embedding",
          "vec_id", "label", k = 5, shortlist = Int.MaxValue)
        .select($"q_id", $"n_id",
          $"cosine".cast("decimal(10,6)").cast("double").as("cosine"),
          $"rn".cast("long").as("rn"))
        .orderBy($"q_id", $"rn")
    },
    // the exhaustive slice shortlist + exact-cosine refine equals the
    // SAME within-slice brute force the other filtered members grade
    // against
    Oracle("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS raw_cosine
        |  FROM q JOIN embeddings e
        |    ON e.label IS NOT DISTINCT FROM q.label
        |    AND q.q_id != e.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, raw_cosine,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY raw_cosine DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id,
        |  CAST(CAST(raw_cosine AS DECIMAL(10,6)) AS DOUBLE) AS cosine,
        |  rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("sim_filtered_pq_recall", (s, dir) => {
      import s.implicits._
      // Production-sizing gate for the filtered PQ path: recall@5 of
      // the slice-scoped ADC shortlist (default 8k = 40 deep) + exact
      // refine against the exact within-slice top-k. The bar matches
      // sim_recall_pq's 0.7 — refine re-ranks with EXACT cosine, so
      // only a true within-slice top-5 member missing from the
      // 40-deep slice shortlist can cost recall.
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 20)
      val (books, _) = built.pqIndex(s, dir)
      val truth = Similarity.filteredTopK(emb, q, "embedding",
          "vec_id", Seq("label"), k = 5)
        .select($"q_id", $"n_id")
      val got = Similarity.pqAdcTopKRefinedFiltered(
          built.pqCodesSliced(s, dir), books, q, emb, "embedding",
          "vec_id", "label", k = 5)
        .select($"q_id", $"n_id")
      val (nTrue, nHit) = recallCounts(truth, got)
      nTrue.crossJoin(nHit)
        .select(lit(5).as("k"), $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.7)
            .as("recall_ok"))
    },
    Oracle("SELECT 5 AS k, 100 AS n_true, true AS recall_ok"),
    eagerBuild = true),

    QuerySpec("sim_recall_pq", (s, dir) => {
      import s.implicits._
      // boolean gate: PQ-refined top-5 must recall >= 0.7 of brute
      // force — above the IVF/LSH bars because refine re-ranks with
      // EXACT cosine; only a true top-5 member missing from the
      // 40-deep ADC shortlist can cost recall. Measured 0.88 at
      // sf0.1 (near-isotropic fixture, PQ's worst case) with
      // m=16/k=64 codebooks; the bar sits 0.18 under that.
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 20)
      val (books, codes) = built.pqIndex(s, dir)
      val brute = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id")
      val pq = Similarity.pqAdcTopKRefined(codes, books, q, emb,
          "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id")
      val (nTrue, nHit) = recallCounts(brute, pq)
      nTrue.crossJoin(nHit)
        .select(lit(5).as("k"), $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.7).as("recall_ok"))
    },
    Oracle("SELECT 5 AS k, 100 AS n_true, true AS recall_ok"),
    eagerBuild = true),

    QuerySpec("sim_recall_ivf", (s, dir) => {
      import s.implicits._
      // boolean gate (not the exact recall): KMeans centroids are
      // environment-sensitive, the >= 0.6 contract is not. Runs at the
      // PRODUCTION sizing — nlist = √n, nprobe = nlist/4 (measured
      // 0.67-0.69 on the fixtures, vs 0.39 at the old fixed nprobe=4).
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter($"vec_id" < 20)
      val idx = built.ivfIndex(s, dir)
      val brute = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id")
      val ivf = Similarity.ivfProbe(idx, q,
          "embedding", "vec_id", k = 5,
          nprobe = Similarity.ivfAutoNprobe(idx.nlist))
        .select($"q_id", $"n_id")
      val (nTrue, nHit) = recallCounts(brute, ivf)
      nTrue.crossJoin(nHit)
        .select(lit(5).as("k"), $"n_true",
          (($"n_hit".cast("double") / $"n_true".cast("double")) >= 0.6).as("recall_ok"))
    },
    Oracle("SELECT 5 AS k, 100 AS n_true, true AS recall_ok"),
    eagerBuild = true),

    QuerySpec("sim_ivf_append_recall", (s, dir) => {
      import s.implicits._
      // Incremental-maintenance gate: build the index on 90% of the
      // corpus, append the held-out 10% by centroid assignment (NO
      // KMeans re-fit — the daily-ingest path), probe a fixed query
      // set against the appended index and a full rebuild. Contracts:
      // (a) every corpus vector is indexed exactly once after the
      // append; (b) appended-index recall@5 holds the rebuild gate's
      // absolute floor AND parity with the rebuild (boolean, not the
      // raw recall — KMeans centroids are environment-sensitive).
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
      val extra = emb.filter(pmod($"vec_id", lit(10)) === 0)
      val q = emb.filter($"vec_id" < 20)
      val idxApp = Similarity.ivfAppend(
        Similarity.ivfBuild(base, "embedding", "vec_id",
          nlist = Similarity.ivfAutoNlist(emb.count())),
        extra, "embedding", "vec_id")
      val idxFull = built.ivfIndex(s, dir)
      val brute = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .select($"q_id", $"n_id")
      def probe(idx: graft.llm.Similarity.IvfIndex): DataFrame =
        Similarity.ivfProbe(idx, q, "embedding", "vec_id", k = 5,
            nprobe = Similarity.ivfAutoNprobe(idx.nlist))
          .select($"q_id", $"n_id")
      val (nTrue, hApp) = recallCounts(brute, probe(idxApp))
      val (_, hFull) = recallCounts(brute, probe(idxFull))
      val counts = idxApp.assigned.agg(
        count(lit(1)).as("n_indexed"),
        count_distinct($"n_id").as("n_uniq"))
      emb.agg(count(lit(1)).as("n_total")).crossJoin(counts)
        .crossJoin(hApp.select($"n_hit".cast("double").as("h_app")))
        .crossJoin(hFull.select($"n_hit".cast("double").as("h_full")))
        .crossJoin(nTrue.select($"n_true".cast("double").as("n_true")))
        .select($"n_total".as("n_indexed"),
          ($"n_indexed" === $"n_total" && $"n_uniq" === $"n_total").as("all_indexed"),
          ($"h_app" / $"n_true" >= 0.55 &&
            $"h_app" / $"n_true" >= $"h_full" / $"n_true" - 0.15).as("recall_ok"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_indexed, true AS all_indexed,
        |  true AS recall_ok FROM embeddings""".stripMargin),
    eagerBuild = true),

    QuerySpec("sim_ivf_sliced_append", (s, dir) => {
      import s.implicits._
      // Daily-crawl append for the TENANT-PARTITIONED index — the
      // r19 flagship's missing family member: build the sliced index
      // on 90% of the corpus, save PARTITIONED BY label, append the
      // held-out 10% through the PERSISTED layout (nearest existing
      // centroid, slice columns riding, new files only — history is
      // never rewritten, only the nlist-row centroid table and the
      // zero-row schema sidecar are read back). Pinned: (a) every
      // corpus vector indexed exactly once after the append; (b) the
      // EXHAUSTIVE filtered probe through the reloaded appended index
      // equals the brute within-slice top-k value-for-value
      // (exhaustive probing reads every list, so centroid routing
      // cannot cost recall — parity is exact, not statistical);
      // (c) at production sizing (nprobe = nlist/4) the appended
      // index holds a 0.40 absolute recall floor AND parity with the
      // full-rebuild sliced index within 0.15 — the
      // sim_ivf_append_recall contract shape (measured at sf0.01:
      // rebuild 0.57, appended 0.52 — the no-re-fit append costs
      // ~0.05 on the near-isotropic worst-case fixture).
      // SIDE-EFFECTING (saves + appends the partitioned index at
      // construction).
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(pmod($"vec_id", lit(10)) =!= 0)
      val extra = emb.filter(pmod($"vec_id", lit(10)) === 0)
      val q = emb.filter($"vec_id" < 20)
      val pth = tmpPath("ivfslap", dir)
      val idxBase = Similarity.ivfBuildSliced(base, "embedding",
        "vec_id", Seq("label"),
        nlist = Similarity.ivfAutoNlist(emb.count()))
      Similarity.ivfSavePartitioned(idxBase, pth, Seq("label"))
      Similarity.ivfAppendPartitioned(s, pth, extra, "embedding",
        "vec_id")
      val loaded = Similarity.ivfLoad(s, pth)
      val truth = Similarity.filteredTopK(emb, q, "embedding",
          "vec_id", Seq("label"), k = 5)
        .select($"q_id", $"n_id", $"rn")
      val exact = Similarity.ivfProbeFiltered(loaded, q, "embedding",
          "vec_id", Seq("label"), k = 5, nprobe = loaded.nlist)
        .select($"q_id", $"n_id", $"rn")
      val got = Similarity.ivfProbeFiltered(loaded, q, "embedding",
          "vec_id", Seq("label"), k = 5,
          nprobe = Similarity.ivfAutoNprobe(loaded.nlist))
        .select($"q_id", $"n_id")
      val counts = loaded.assigned.agg(count(lit(1)).as("n_indexed"),
        count_distinct($"n_id").as("n_uniq"))
      emb.agg(count(lit(1)).as("n_total")).crossJoin(counts)
        .crossJoin(setsEqual(exact, truth, Seq("q_id", "n_id", "rn"),
          "append_exact"))
        .crossJoin(truth.agg(count(lit(1)).cast("double").as("n_true")))
        .crossJoin(truth.select($"q_id", $"n_id")
          .join(got, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).cast("double").as("n_hit")))
        .crossJoin(truth.select($"q_id", $"n_id")
          .join(Similarity.ivfProbeFiltered(built.ivfIndexSliced(s, dir),
              q, "embedding", "vec_id", Seq("label"), k = 5,
              nprobe = Similarity.ivfAutoNprobe(
                built.ivfIndexSliced(s, dir).nlist))
            .select($"q_id", $"n_id"), Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).cast("double").as("n_hit_full")))
        .select(
          ($"n_indexed" === $"n_total" && $"n_uniq" === $"n_total")
            .as("all_indexed"),
          $"append_exact",
          ($"n_hit" / $"n_true" >= 0.40 &&
            $"n_hit" / $"n_true" >= $"n_hit_full" / $"n_true" - 0.15)
            .as("recall_ok"))
    },
    Oracle(("SELECT true AS all_indexed, true AS append_exact, " +
        "true AS recall_ok")),
    eagerBuild = true),

    QuerySpec("sim_embedding_drift", (s, dir) => {
      import s.implicits._
      // Embedding-centroid drift between two corpus halves (vec_id
      // parity as "yesterday vs today"): cosine between the side
      // CENTROIDS — the embedding-space reading of distribution
      // shift (dq_drift sees per-feature marginals; this sees the
      // semantic direction move). Cosine is scale-invariant, so the
      // integer SUM vectors stand in for the means exactly: values
      // micro-quantize per element (order-free sums), the dot and
      // norms are DECIMAL-exact, one mirrored sqrt tree at the edge.
      val base = Tables.embeddings(s, dir)
        .select($"vec_id", posexplode($"embedding"))
        .select((pmod($"vec_id", lit(2)) === 0).as("t"),
          $"pos".as("dim"),
          round($"col".cast("double") * 1e6).cast("long").as("q"))
      val dec = "decimal(38,0)"
      val byDim = base.groupBy($"dim")
        .agg(sum(when($"t", $"q").otherwise(0L)).as("sa"),
          sum(when(!$"t", $"q").otherwise(0L)).as("sb"))
      val m = byDim.agg(count(lit(1)).as("n_dims"),
        sum($"sa".cast(dec) * $"sb").as("num"),
        sum($"sa".cast(dec) * $"sa").as("qa"),
        sum($"sb".cast(dec) * $"sb").as("qb"))
      val counts = Tables.embeddings(s, dir).agg(
        sum(when(pmod($"vec_id", lit(2)) === 0, 1L).otherwise(0L))
          .as("n_a"),
        sum(when(pmod($"vec_id", lit(2)) =!= 0, 1L).otherwise(0L))
          .as("n_b"))
      m.crossJoin(counts) // 1-row side counts
        .filter($"qa" > 0 && $"qb" > 0)
        .select($"n_a".cast("bigint").as("n_a"),
          $"n_b".cast("bigint").as("n_b"),
          $"n_dims".cast("bigint").as("n_dims"),
          round($"num".cast("double") /
            (sqrt($"qa".cast("double")) * sqrt($"qb".cast("double")))
            * 1e6).cast("long").as("cos_micros"))
    },
    // per-element micro-quantization, per-dim integer sums over the
    // fixed 64-dim range, DECIMAL dot/norms, one mirrored sqrt tree
    Oracle("""WITH x AS (SELECT (vec_id % 2 = 0) AS t, i AS dim,
        |    CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |bd AS (SELECT dim,
        |    sum(CASE WHEN t THEN q ELSE 0 END) AS sa,
        |    sum(CASE WHEN NOT t THEN q ELSE 0 END) AS sb
        |  FROM x GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_dims,
        |    sum(CAST(sa AS HUGEINT) * sb) AS num,
        |    sum(CAST(sa AS HUGEINT) * sa) AS qa,
        |    sum(CAST(sb AS HUGEINT) * sb) AS qb
        |  FROM bd),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM embeddings)
        |SELECT n_a, n_b, n_dims,
        |  CAST(round(CAST(num AS DOUBLE)
        |    / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qb AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS cos_micros
        |FROM m, c WHERE qa > 0 AND qb > 0""".stripMargin),
    bench = true),
  )
}
