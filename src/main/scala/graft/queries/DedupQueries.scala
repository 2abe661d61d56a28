package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}
import graft.operators.Graph

import Shared.{built, partCoOrderPairs, setsEqual, tmpPath}

/** Deduplication: exact, fuzzy (minhash, simhash, n-gram, containment),
  * span, paragraph and embedding dedup, with their incremental indexes.
  * The verification gates check each approximate or blocked tier against
  * ground truth computed inside the plan over the full corpus —
  * quadratic by construction, so they are correctness artifacts and never
  * benched. */
object DedupQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("url_canonical_dedup", (s, dir) => {
      import s.implicits._
      // URL-level crawl dedup: two spellings per document (upper-cased
      // host + default port + tracking params + fragment + shuffled
      // param order vs the clean form) collapse to ONE canonical URL;
      // the oracle constructs the expected canonical strings directly,
      // so every output value — including the sample URL — grades
      // exactly. Row-local codegen expression; text never shuffles.
      val variants = Tables.documents(s, dir)
        .select($"doc_id", $"source", explode(array(
          concat(lit("HTTPS://Example-"), $"source", lit(".COM:443/docs/"),
            $"doc_id", lit("?utm_source=feed&b=2&a=1#sec")),
          concat(lit("https://example-"), $"source", lit(".com/docs/"),
            $"doc_id", lit("?a=1&b=2")))).as("url"))
      variants
        .withColumn("canonical", graft.functions.url_canonicalize($"url"))
        .groupBy($"source")
        .agg(countDistinct($"url").cast("bigint").as("n_raw"),
          countDistinct($"canonical").cast("bigint").as("n_canonical"),
          min($"canonical").as("sample_url"))
        .orderBy($"source")
    },
    // the canonical forms are constructible directly from the synth
    // recipe — every value, including the min sample URL, is exact
    Oracle("""SELECT source,
        |  CAST(2 * count(*) AS BIGINT) AS n_raw,
        |  CAST(count(*) AS BIGINT) AS n_canonical,
        |  min('https://example-' || source || '.com/docs/' || doc_id
        |    || '?a=1&b=2') AS sample_url
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    bench = true),

    QuerySpec("dedup_lsh_tuning", (s, dir) => {
      // S-curve of the shipped MinHash banding (8 tables x 1 hash):
      // detection probability per true-Jaccard grid point — the
      // recall contract the dedup_minhash threshold rests on.
      // Mirrored exp/ln powers; reads no data by design.
      graft.llm.Dedup.lshTuning(s, bands = 8, rowsPerBand = 1)
    },
    // the S-curve is a pure function of the banding config; powers
    // through the mirrored exp(k*ln(x)) pair
    Oracle("""WITH g AS (SELECT CAST(range AS BIGINT) AS j
        |  FROM range(5, 100, 5)),
        |p AS (SELECT j,
        |    exp(1.0 * ln(CAST(j AS DOUBLE) / 100.0)) AS pb FROM g)
        |SELECT j AS j_pct,
        |  CAST(round(pb * 1000000) AS BIGINT) AS p_band_micros,
        |  CAST(round((1.0 - exp(8.0 * ln(1.0 - pb))) * 1000000)
        |    AS BIGINT) AS p_detect_micros
        |FROM p ORDER BY j""".stripMargin),
    bench = true),

    QuerySpec("dedup_exact", (s, dir) => {
      import s.implicits._
      // Exact dedup: canonical representative per distinct text. The
      // winner election shuffles (fp, fp2, doc_id) — 24 bytes/row, so
      // the text never crosses a shuffle KEYED BY ITSELF (Dedup.exact;
      // exchange shape pinned by PlanSpec). Past the broadcast
      // threshold the payload join-back may still ship the text as the
      // payload of an id-keyed shuffle — that's the cheap, well-
      // distributed kind. Oracle groups by text directly, so a
      // fingerprint collision would surface as a hash mismatch here.
      Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
        .orderBy($"doc_id")
    },
    Oracle("""SELECT min(doc_id) AS doc_id, text FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("dedup_unicode", (s, dir) => {
      import s.implicits._
      // Unicode-normalized dedup, driver-graded end to end: every doc
      // is doubled into an NFC twin (even id, composed é) and an NFD
      // twin (odd id, decomposed e+U+0301). With normalizeKeys the
      // election must collapse each pair to its even (min-id) twin,
      // keeping the twin's ORIGINAL composed text — the oracle states
      // that closed form directly, so a normalization miss (pairs
      // surviving) or an over-merge both hash-mismatch.
      val docs = Tables.documents(s, dir)
      val nfc = docs.select(($"doc_id" * 2).as("doc_id"),
        concat($"text", lit("Caf\u00E9")).as("text"))
      val nfd = docs.select(($"doc_id" * 2 + 1).as("doc_id"),
        concat($"text", lit("Cafe\u0301")).as("text"))
      Dedup.exact(nfc.unionByName(nfd), "text", "doc_id",
          normalizeKeys = true)
        .orderBy($"doc_id")
    },
    // closed form: of each planted NFC/NFD twin pair the even
    // (composed, min-id) row survives with its original text. Stated
    // over the DEDUPED source (GROUP BY text): above sf0.001 the
    // testdata has duplicate document texts, and normalizeKeys
    // collapses those whole groups to one winner — the naive per-row
    // form would overcount by one row per duplicate-text pair.
    Oracle("""WITH d AS (SELECT min(doc_id) AS doc_id, text
        |           FROM documents GROUP BY text)
        |SELECT doc_id * 2 AS doc_id, text || 'Caf' || chr(233) AS text
        |FROM d ORDER BY doc_id""".stripMargin)),

    QuerySpec("dedup_fingerprint", (s, dir) => {
      import s.implicits._
      TextAnalysis.fingerprint(Tables.documents(s, dir), "text")
        .select($"doc_id", $"fingerprint")
        .orderBy($"doc_id")
    },
    Gate("dedup_fp_agree"),
    bench = true),

    QuerySpec("dedup_paragraph", (s, dir) => {
      import s.implicits._
      // chunk-level dedup over the whole corpus: 64-token
      // non-overlapping windows, one survivor per distinct chunk text
      // (smallest (doc_id, chunk_no)). The oracle recomputes the
      // chunking AND the election from the text directly, so a
      // fingerprint collision in the election would hash-mismatch.
      Dedup.paragraphDedup(Tables.documents(s, dir), "text", "doc_id",
          chunkTokens = 64)
        .orderBy($"doc_id", $"chunk_no")
    },
    // replica of TextAnalysis.chunk(64, overlap 0) + the winner
    // election (smallest (doc_id, chunk_no) per distinct chunk text)
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |n AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    greatest(CAST(ceil(len(toks) / 64.0) AS INT), 1) AS nc FROM t),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_no FROM n),
        |ch AS (
        |  SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
        |    array_to_string(list_slice(toks, chunk_no * 64 + 1,
        |      least(chunk_no * 64 + 64, n)), ' ') AS chunk_text,
        |    CAST(least(64, n - chunk_no * 64) AS INT) AS chunk_tokens
        |  FROM c),
        |w AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY chunk_text ORDER BY doc_id, chunk_no) AS rn
        |  FROM ch)
        |SELECT doc_id, chunk_no, chunk_text, chunk_tokens
        |FROM w WHERE rn = 1 ORDER BY doc_id, chunk_no""".stripMargin),
    bench = true),

    QuerySpec("dedup_spans", (s, dir) => {
      import s.implicits._
      // span-level exact-substring dedup (Lee et al. ExactSubstr,
      // shingle-reformulated): every maximal duplicated 8-token-window
      // union per document. The oracle recomputes spans from the
      // shingle STRINGS (no hashes), so an xxhash64 collision in the
      // Spark path would hash-mismatch the artifact.
      // Tables.wide: the two shingle explode+hash passes are the
      // engine's heaviest per-byte map work (r21 A/B: +3.85 s win)
      Dedup.duplicatedSpans(Tables.wide(Tables.documents(s, dir)),
          "text", "doc_id", n = 8)
        .select($"doc_id", $"span_start".cast("bigint").as("span_start"),
          $"span_end".cast("bigint").as("span_end"), $"n_shingles")
        .orderBy($"doc_id", $"span_start")
    },
    // the span pipeline replayed on shingle STRINGS (no hashing): any
    // Spark-side xxhash64 collision or island off-by-one mismatches
    Oracle("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(list_slice(t, i, i + 8 - 1), ' ') AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, greatest(len(t) - 8 + 2, 1))) AS i
        |        FROM toks)),
        |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
        |sel AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |       THEN 0 ELSE 1 END AS brk FROM dp),
        |isl AS (SELECT doc_id, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM sel)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
        |  count(*) AS n_shingles
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),
    bench = true),

    QuerySpec("dedup_span_removal_gate", (s, dir) => {
      import s.implicits._
      // Conservation gate for Dedup.removeSpans: token count of the
      // ACTUAL cleaned text must equal (tokens before) - (summed span
      // widths) — spans are disjoint by construction (island gap > n),
      // so any interval off-by-one or dropped/duplicated doc breaks
      // the equality, and the oracle replays the whole span pipeline
      // in SQL to supply the independent expected counts.
      val docs = Tables.documents(s, dir)
      val spans = Dedup.duplicatedSpans(docs, "text", "doc_id", n = 8)
      val cleaned = Dedup.removeSpans(docs, spans, "text", "doc_id")
      def ntoks(c: Column): Column =
        when(length(c) === 0, 0L)
          .otherwise(size(split(c, "\\s+")).cast("bigint"))
      docs.agg(count(lit(1)).as("n_docs"),
          sum(ntoks($"text")).as("total_before"))
        .crossJoin(spans.agg(
          countDistinct($"doc_id").as("n_docs_affected"),
          sum(($"span_end" - $"span_start").cast("bigint"))
            .as("total_removed")))
        .crossJoin(cleaned.agg(sum(ntoks($"text")).as("total_after")))
        .select($"n_docs", $"n_docs_affected", $"total_before",
          $"total_removed", $"total_after")
    },
    Oracle("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(list_slice(t, i, i + 8 - 1), ' ') AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, greatest(len(t) - 8 + 2, 1))) AS i
        |        FROM toks)),
        |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
        |sel AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |       THEN 0 ELSE 1 END AS brk FROM dp),
        |isl AS (SELECT doc_id, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM sel),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM isl GROUP BY doc_id, island),
        |b AS (SELECT count(*) AS n_docs,
        |  CAST(sum(len(t)) AS BIGINT) AS total_before FROM toks),
        |r AS (SELECT count(DISTINCT doc_id) AS n_docs_affected,
        |  CAST(sum(e - s) AS BIGINT) AS total_removed FROM spans)
        |SELECT n_docs, n_docs_affected, total_before, total_removed,
        |  total_before - total_removed AS total_after
        |FROM b, r""".stripMargin)),

    QuerySpec("dedup_simhash", (s, dir) => {
      import s.implicits._
      // maxHamming=7 = the largest radius with the full banding
      // recall guarantee (8 bands × 8 bits)
      // Tables.wide: shingle+fingerprint map work (r21 A/B: +0.88 s)
      Dedup.simhashNearDup(Tables.wide(Tables.documents(s, dir)),
          "text", "doc_id", maxHamming = 7)
        .orderBy($"id_a", $"id_b")
    },
    Gate("dedup_simhash_complete"),
    bench = true),

    QuerySpec("dedup_minhash", (s, dir) => {
      import s.implicits._
      built.minhashPairs(s, dir)
        .select($"id_a", $"id_b", round($"jaccard_dist", 6).as("jaccard_dist"))
        .orderBy($"id_a", $"id_b")
    },
    Gate("dedup_minhash_recall"),
    eagerBuild = true),

    QuerySpec("dedup_ngram_jaccard", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val candidates = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      Dedup.ngramJaccard(candidates, docs, "text", "doc_id", n = 3)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Gate("dedup_ngram_exact")),

    QuerySpec("dedup_embedding", (s, dir) => {
      import s.implicits._
      Dedup.embeddingNearDup(Tables.embeddings(s, dir), "embedding", "vec_id",
          minCosine = 0.35, planes = 4)
        .select($"id_a", $"id_b", round($"cosine", 6).as("cosine"))
        .orderBy($"id_a", $"id_b")
    },
    Gate("dedup_embedding_recall")),

    QuerySpec("dedup_containment", (s, dir) => {
      import s.implicits._
      // Asymmetric 3-gram containment (quote/subset detection — the
      // pair shape Jaccard structurally misses): pairs whose SMALLER
      // gram set is >= 50% inside the other. Candidates come from the
      // shared-gram posting join (never all-pairs), inclusion is
      // tested in integer micro-units, and the reported double is
      // derived output. Capped to doc_id < 500 (no-op at sf0.01).
      Dedup.containment(Tables.documents(s, dir).filter($"doc_id" < 500),
          "text", "doc_id", n = 3, minContainment = 0.5)
        .select($"id_a", $"id_b", $"n_overlap", $"n_a", $"n_b",
          $"containment".cast("decimal(10,6)").cast("double")
            .as("containment"))
        .orderBy($"id_a", $"id_b")
    },
    // same gram construction as dedup_ngram_exact, but the join is the
    // shared-gram posting join (the engine's own candidate shape) and
    // the threshold is the integer cross-multiplied containment test
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |g AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1,
        |      least(CAST(i AS INT) + 3, len(toks))), ' ')))) AS gram
        |  FROM t),
        |s AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS n_overlap
        |  FROM g a JOIN g b USING (gram)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_overlap AS BIGINT) AS n_overlap,
        |  CAST(sa.ng AS BIGINT) AS n_a, CAST(sb.ng AS BIGINT) AS n_b,
        |  CAST(CAST(CAST(n_overlap AS DOUBLE) / least(sa.ng, sb.ng)
        |    AS DECIMAL(10,6)) AS DOUBLE) AS containment
        |FROM c JOIN s sa ON c.id_a = sa.doc_id
        |       JOIN s sb ON c.id_b = sb.doc_id
        |WHERE n_overlap * 1000000 >= 500000 * least(sa.ng, sb.ng)
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dedup_containment_incremental", (s, dir) => {
      import s.implicits._
      // The quote/subset detector's daily-crawl form — the last heavy
      // curation family without one: docs with doc_id%4 <= 1 are
      // "yesterday", their distinct (gram, id) posting rows persisted
      // (the BM25 posting shape; the text never re-explodes), the
      // rest today's batch. Pairs touching a new doc equal the full
      // recompute's restricted to them (grams are a deterministic
      // per-doc function of text, batches disjoint by the guarded
      // contract); the hot-gram quadratic guard evaluates over
      // history ∪ batch. SIDE-EFFECTING (writes the index at
      // construction).
      val docs = Tables.documents(s, dir).filter($"doc_id" < 500)
      val gdir = tmpPath("gridx", dir)
      Dedup.writeGramIndex(docs.filter($"doc_id" % 4 <= 1), "text",
        "doc_id", gdir, n = 3)
      Dedup.containmentIncremental(docs.filter($"doc_id" % 4 >= 2),
          gdir, "text", "doc_id", n = 3, minContainment = 0.5)
        .select($"id_a", $"id_b", $"n_overlap", $"n_a", $"n_b",
          $"containment".cast("decimal(10,6)").cast("double")
            .as("containment"))
        .orderBy($"id_a", $"id_b")
    },
    // the dedup_containment oracle restricted to pairs touching a
    // new-batch (id%4 >= 2) doc — the incremental decomposition is
    // exact because grams are a deterministic per-doc function of
    // text and the batches have disjoint ids
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |g AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1,
        |      least(CAST(i AS INT) + 3, len(toks))), ' ')))) AS gram
        |  FROM t),
        |s AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS n_overlap
        |  FROM g a JOIN g b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |    AND (a.doc_id % 4 >= 2 OR b.doc_id % 4 >= 2)
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_overlap AS BIGINT) AS n_overlap,
        |  CAST(sa.ng AS BIGINT) AS n_a, CAST(sb.ng AS BIGINT) AS n_b,
        |  CAST(CAST(CAST(n_overlap AS DOUBLE) / least(sa.ng, sb.ng)
        |    AS DECIMAL(10,6)) AS DOUBLE) AS containment
        |FROM c JOIN s sa ON c.id_a = sa.doc_id
        |       JOIN s sb ON c.id_b = sb.doc_id
        |WHERE n_overlap * 1000000 >= 500000 * least(sa.ng, sb.ng)
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dedup_containment_incremental_gate", (s, dir) => {
      import s.implicits._
      // The posting-index decomposition invariant, per the
      // dedup_incremental_gate template: pairs(old ∪ new) ==
      // pairs(old) ⊎ incremental(new, index(old)) on the exact
      // integer columns (the containment double derives from them),
      // disjointness at the pair level, and append-mode folding —
      // the appended posting rows must equal the from-scratch gram
      // rows of the whole corpus in count, and the sizes sidecar one
      // row per doc. SIDE-EFFECTING (writes + appends the index at
      // construction).
      val docs = Tables.documents(s, dir).filter($"doc_id" < 500)
      val old = docs.filter($"doc_id" % 4 <= 1)
      val nw = docs.filter($"doc_id" % 4 >= 2)
      val gdir = tmpPath("gridxg", dir)
      Dedup.writeGramIndex(old, "text", "doc_id", gdir, n = 3)
      val keys = Seq("id_a", "id_b", "n_overlap", "n_a", "n_b")
      // pin before the append below mutates the dir it reads
      val inc = Dedup.containmentIncremental(nw, gdir, "text",
          "doc_id", n = 3, minContainment = 0.5)
        .select(keys.map(col): _*).localCheckpoint()
      val full = Dedup.containment(docs, "text", "doc_id", n = 3,
        minContainment = 0.5).select(keys.map(col): _*)
      val oldOnly = Dedup.containment(old, "text", "doc_id", n = 3,
        minContainment = 0.5).select(keys.map(col): _*)
      val merged = oldOnly.union(inc)
      Dedup.writeGramIndex(nw, "text", "doc_id", gdir, n = 3,
        mode = "append")
      val appended = s.read.parquet(gdir)
      val sizesAfter = s.read.parquet(gdir + "__sizes")
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged, keys, "complete"))
        .crossJoin(oldOnly.select($"id_a", $"id_b")
          .intersect(inc.select($"id_a", $"id_b"))
          .agg((count(lit(1)) === 0).as("disjoint")))
        .crossJoin(appended.agg(count(lit(1)).as("n_post"))
          .crossJoin(docs.select($"doc_id",
              explode(array_distinct(transform(
                sequence(lit(0), greatest(size(split($"text", " ")) - 3,
                  lit(0))),
                i => concat_ws(" ", slice(split($"text", " "), i + 1,
                  lit(3)))))).as("g"))
            .agg(count(lit(1)).as("n_expected")))
          .select(($"n_post" === $"n_expected").as("append_folded")))
        .crossJoin(sizesAfter.agg((count(lit(1)) ===
            count_distinct($"id")).as("sizes_one_row"))
          .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
          .crossJoin(sizesAfter.agg(count(lit(1)).as("n_sizes")))
          .select(($"sizes_one_row" && $"n_sizes" === $"n_docs")
            .as("sizes_folded")))
        .select(($"n_full" > 0).as("nonempty"), $"complete",
          $"disjoint", $"append_folded", $"sizes_folded")
    },
    Oracle(("SELECT true AS nonempty, true AS complete, true AS disjoint, " +
        "true AS append_folded, true AS sizes_folded")),
    eagerBuild = true),

    QuerySpec("dedup_semantic", (s, dir) => {
      import s.implicits._
      // SemDeDup survivors (cluster-then-exhaustive-compare semantic
      // dedup). Raw dump is rows-only by design: the k-means fit is
      // seeded spark.ml, not SQL-replayable — dedup_semantic_gate
      // holds the hash-matched contract.
      Dedup.semDedup(Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          "embedding", "vec_id", minCosine = 0.35, nlist = 16)
        .orderBy($"vec_id")
    },
    Gate("dedup_semantic_gate"),
    eagerBuild = true),

    QuerySpec("dedup_semantic_gate", (s, dir) => {
      import s.implicits._
      // The SemDeDup contract, checked exactly on whatever clustering
      // the seeded fit produced: (a) every doc gets exactly one
      // assignment and survivors+pruned partition the corpus, (b) the
      // pass did real work (pruned nonempty at this threshold),
      // (c) every pruned doc has a within-cluster neighbor >= the
      // threshold (it was grouped for a reason), (d) NO two survivors
      // in the same cluster are >= the threshold apart — within-cluster
      // completeness is exact because the verify is exhaustive, the
      // property LSH dedup cannot promise. SIDE-EFFECTING at
      // construction (fit + CC rounds + the checks' own joins).
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val assign = Dedup.semDedupAssign(emb, "embedding", "vec_id",
        minCosine = 0.35, nlist = 16).cache()
      val withVec = assign.join(emb, "vec_id")
      val surv = withVec.filter($"group_id" === $"vec_id")
      val pruned = withVec.filter($"group_id" =!= $"vec_id")
      val nAll = emb.count()
      val nAssign = assign.count()
      val nSurv = surv.count()
      val nPruned = pruned.count()
      val prunedWithNeighbor = pruned.as("p").join(withVec.as("o"),
          $"p.cluster" === $"o.cluster" && $"p.vec_id" =!= $"o.vec_id" &&
            graft.functions.cosine_similarity($"p.embedding", $"o.embedding")
              >= 0.35, "left_semi")
        .count()
      val survViolations = surv.as("x").join(surv.as("y"),
          $"x.cluster" === $"y.cluster" && $"x.vec_id" < $"y.vec_id" &&
            graft.functions.cosine_similarity($"x.embedding", $"y.embedding")
              >= 0.35)
        .count()
      assign.unpersist()
      Seq((nAssign == nAll && nSurv + nPruned == nAll,
        nPruned > 0,
        prunedWithNeighbor == nPruned,
        survViolations == 0L))
        .toDF("partition_ok", "pruned_nonempty", "pruned_grouped",
          "survivors_separated")
    },
    Oracle("""SELECT true AS partition_ok, true AS pruned_nonempty,
        |  true AS pruned_grouped, true AS survivors_separated""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_clusters", (s, dir) => {
      import s.implicits._
      // SIDE-EFFECTING (not a pure plan builder): connectedComponents
      // runs its label-propagation rounds eagerly (localCheckpoint per
      // round). Near-dup is NOT transitive, so pair output alone
      // under-deduplicates: this is the transitive-closure step — every
      // doc gets the smallest doc_id of its near-dup component as
      // cluster_id (docs with no near-dup cluster to themselves). The
      // edge set is the ngram-Jaccard>=0.5 pair graph the DuckDB
      // oracle can recompute exactly; the oracle then replays the
      // closure with a recursive CTE, so a wrong label ANYWHERE
      // hash-mismatches. Production runs the same operator over
      // simhash/minhash candidate pairs (see dedup_clusters_gate).
      // Tables.wide: the n-gram array build per doc dominated a
      // single-task scan (r21 A/B: +4.46 s win, the largest pin)
      val docs = Tables.wide(Tables.documents(s, dir))
        .filter(col("doc_id") < 500)
      val allPairs = docs.select($"doc_id".as("id_a"))
        .crossJoin(docs.select($"doc_id".as("id_b")))
        .filter($"id_a" < $"id_b")
      val edges = Dedup.ngramJaccard(allPairs, docs, "text", "doc_id", n = 3)
        .filter($"jaccard" >= 0.5)
      Graph.assignClusters(docs.select($"doc_id"), "doc_id", edges)
        .orderBy($"doc_id")
    },
    // the transitive closure replayed independently: same 3-gram
    // Jaccard edge set as dedup_ngram_exact, then a recursive CTE
    // walks each component (symmetric edges ⇒ reachable = component)
    // and takes min(id) — exactly connectedComponents' contract
    Oracle("""WITH RECURSIVE
        |t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1,
        |      least(CAST(i AS INT) + 3, len(toks))), ' '))) AS grams
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams)) AS inter,
        |    len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS uni
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |e AS (
        |  SELECT id_a, id_b FROM p
        |  WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5),
        |sym AS (
        |  SELECT id_a AS u, id_b AS v FROM e
        |  UNION SELECT id_b, id_a FROM e),
        |walk(id, comp) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        |  UNION
        |  SELECT s.v, w.comp FROM walk w JOIN sym s ON s.u = w.id),
        |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
        |SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS cluster_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
        |LEFT JOIN cc ON cc.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("dedup_clusters_incremental_gate", (s, dir) => {
      import s.implicits._
      // Incremental CC equivalence on the part co-order graph: the
      // "historical" half is the edges within a partkey-parity class
      // (even-even + odd-odd — its labeling necessarily has >= 2
      // components, the parities never touch), the "new batch" is the
      // mixed-parity edges, then pin labels(old ∪ new) ==
      // incremental(labels(old), new) as exact set equality — history
      // re-enters as ONE star edge per vertex, never as its raw edge
      // set (the daily-crawl dedup loop's cluster-maintenance
      // contract). `merged` pins that the batch bridged previously-
      // distinct components — guaranteed by the parity construction,
      // so a vacuous pass is impossible. n_vertices is
      // DuckDB-recomputed from the same edge derivation.
      val edges = partCoOrderPairs(s, dir)
      val eOld = edges.filter(pmod($"a", lit(2)) === pmod($"b", lit(2)))
      val eNew = edges.filter(pmod($"a", lit(2)) =!= pmod($"b", lit(2)))
      val oldLabels = Graph.connectedComponents(eOld, "a", "b")
      val inc = Graph.connectedComponentsIncremental(oldLabels, eNew,
        "a", "b")
      val full = Graph.connectedComponents(edges, "a", "b")
      val bridged = eNew
        .join(oldLabels.select($"id".as("a"), $"comp".as("ca")), Seq("a"))
        .join(oldLabels.select($"id".as("b"), $"comp".as("cb")), Seq("b"))
        .filter($"ca" =!= $"cb")
      inc.agg(count(lit(1)).cast("bigint").as("n_vertices"))
        .crossJoin(setsEqual(inc, full, Seq("id", "comp"), "equal"))
        .crossJoin(bridged.agg((count(lit(1)) > 0).as("merged")))
    },
    // n_vertices recomputed from the same co-order pair derivation;
    // the equality/merge verdicts are Spark-side set algebra
    Oracle("""WITH p AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey < l2.l_partkey
        |  WHERE l1.l_orderkey % 4 = 0)
        |SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_vertices,
        |  true AS equal, true AS merged
        |FROM (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_clusters_star_gate", (s, dir) => {
      import s.implicits._
      // Algorithm cross-check on the production graph: the
      // large-star/small-star CC (the high-diameter fallback) must
      // label the full simhash-banded candidate graph IDENTICALLY to
      // hash-min — both contracts are "component = min member id", so
      // any disagreement anywhere is a bug in one of them. One row:
      // (n_vertices, all_agree).
      val docs = Tables.documents(s, dir)
      val edges = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      val hm = Graph.connectedComponents(edges)
        .withColumnRenamed("comp", "c_hm")
      val star = Graph.connectedComponentsStar(edges)
        .withColumnRenamed("comp", "c_star")
      hm.join(star, "id")
        .agg((count(lit(1)) > 0).as("nontrivial"),
          (coalesce(sum(when($"c_hm" =!= $"c_star", 1).otherwise(0)), lit(0)) === 0)
            .as("all_agree"))
    },
    Oracle("SELECT true AS nontrivial, true AS all_agree"),
    eagerBuild = true),

    QuerySpec("dedup_clusters_gate", (s, dir) => {
      import s.implicits._
      // The production path: clusters over the FULL simhash-banded
      // candidate graph (no doc_id cap, edges Spark-only). DuckDB
      // cannot recompute simhash, so instead of value-matching we
      // assert the two properties that DEFINE a canonical component
      // labeling, computed over the whole graph inside the plan:
      //   closure  — every edge joins two vertices with equal labels
      //   minimal  — every label equals min(doc_id) over its members
      // plus a non-degeneracy count (some real cluster exists).
      val docs = Tables.documents(s, dir)
      val edges = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      val assigned = Graph.assignClusters(docs.select($"doc_id"), "doc_id", edges)
      val e2 = edges
        .join(assigned.select($"doc_id".as("id_a"), $"cluster_id".as("ca")), "id_a")
        .join(assigned.select($"doc_id".as("id_b"), $"cluster_id".as("cb")), "id_b")
      val minimal = assigned.groupBy($"cluster_id")
        .agg(min($"doc_id").as("min_member"))
      e2.agg(coalesce(sum(when($"ca" =!= $"cb", 1).otherwise(0)), lit(0))
          .as("n_open_edges"))
        .crossJoin(minimal.agg(
          sum(when($"cluster_id" =!= $"min_member", 1).otherwise(0))
            .as("n_noncanonical")))
        .crossJoin(assigned.filter($"cluster_id" =!= $"doc_id")
          .agg(count(lit(1)).as("n_merged")))
        .select($"n_open_edges" === 0, $"n_noncanonical" === 0, $"n_merged" > 0)
        .toDF("closed", "canonical", "nontrivial")
    },
    Oracle("SELECT true AS closed, true AS canonical, true AS nontrivial"),
    eagerBuild = true),

    QuerySpec("dedup_ngram_exact", (s, dir) => {
      import s.implicits._
      // ngramJaccard's arithmetic verified value-level: ALL pairs with
      // token-3-gram Jaccard >= 0.5, DuckDB recomputing the same grams
      // (quadratic by construction — correctness artifact; production
      // runs ngramJaccard only on LSH-blocked candidates). Capped to
      // doc_id < 500 (no-op at sf0.01).
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val pairs = docs.select($"doc_id".as("id_a"))
        .crossJoin(docs.select($"doc_id".as("id_b")))
        .filter($"id_a" < $"id_b")
      Dedup.ngramJaccard(pairs, docs, "text", "doc_id", n = 3)
        .filter($"jaccard" >= 0.5)
        .select($"id_a", $"id_b",
          $"jaccard".cast("decimal(10,6)").cast("double").as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1,
        |      least(CAST(i AS INT) + 3, len(toks))), ' '))) AS grams
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams)) AS inter,
        |    len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS uni
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(CAST(CAST(inter AS DOUBLE) / uni AS DECIMAL(10,6)) AS DOUBLE) AS jaccard
        |FROM p WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("dedup_fp_agree", (s, dir) => {
      import s.implicits._
      // fingerprint-keyed dedup must select exactly the ids that
      // text-keyed dedup selects; DuckDB independently computes the
      // distinct-text count the fingerprint count must equal
      val docs = Tables.documents(s, dir)
      val byFp = TextAnalysis.fingerprint(docs, "text")
        .groupBy($"fingerprint").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val byText = docs.groupBy($"text").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      byFp.agg(count(lit(1)).cast("bigint").as("n_distinct"))
        .crossJoin(setsEqual(byFp, byText, Seq("doc_id"), "ids_agree"))
    },
    // fingerprint-keyed dedup must pick exactly the ids text-keyed
    // dedup picks; DuckDB independently recomputes the distinct-text
    // count the fingerprint-group count must equal
    Oracle("""SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |  true AS ids_agree FROM documents""".stripMargin)),

    QuerySpec("dedup_simhash_complete", (s, dir) => {
      import s.implicits._
      // empirical pigeonhole check: banded candidates == brute-force
      // all-pairs Hamming <= 7 (the banding promises TOTAL recall, so
      // the sets must be equal, not merely overlap). Capped to a
      // deterministic id subset: the gate is quadratic by construction
      // and must stay bounded if the driver ever verifies at a larger
      // sf (no-op at sf0.01, where every doc_id < 500).
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val fp = docs.select($"doc_id".as("id"),
        graft.functions.simhash64($"text").as("sh"))
      val brute = fp.select($"id".as("id_a"), $"sh".as("sh_a"))
        .crossJoin(fp.select($"id".as("id_b"), $"sh".as("sh_b")))
        .filter($"id_a" < $"id_b")
        .filter(bit_count($"sh_a".bitwiseXOR($"sh_b")) <= 7)
        .select($"id_a", $"id_b")
      val banded = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(banded.agg(count(lit(1)).as("n_banded")))
        .crossJoin(setsEqual(brute, banded, Seq("id_a", "id_b"), "complete"))
        .select(($"n_brute" > 0).as("nonempty"), $"complete")
    },
    // pigeonhole-complete banding: candidates == brute-force pairs
    Oracle("SELECT true AS nonempty, true AS complete")),

    QuerySpec("dedup_incremental_gate", (s, dir) => {
      import s.implicits._
      // Incremental dedup equivalence: split the capped corpus into a
      // "historical" half (even ids → persisted band index) and a
      // "new crawl" half (odd ids), then pin the contract
      // pairs(old ∪ new) == pairs(old) ⊎ incremental(new, index(old))
      // as exact set equality + disjointness — the daily-crawl loop's
      // correctness condition (history never rescanned, no pair lost,
      // no pair double-reported). SIDE-EFFECTING (writes the index at
      // construction). Append-mode then folds the new batch in and
      // the rebuilt-vs-appended index must agree row-for-row.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val old = docs.filter($"doc_id" % 2 === 0)
      val nw = docs.filter($"doc_id" % 2 === 1)
      val idx = tmpPath("shidx", dir)
      Dedup.writeSimhashIndex(old, "text", "doc_id", idx, maxHamming = 7)
      // localCheckpoint PINS the incremental result before the append
      // below mutates the index dir it reads (lazy plans would
      // otherwise race the file listing)
      val inc = Dedup.simhashNearDupIncremental(nw, idx, "text", "doc_id",
        maxHamming = 7).select($"id_a", $"id_b").localCheckpoint()
      val full = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      val oldOnly = Dedup.simhashNearDup(old, "text", "doc_id", maxHamming = 7)
        .select($"id_a", $"id_b")
      val merged = oldOnly.union(inc)
      Dedup.writeSimhashIndex(nw, "text", "doc_id", idx, maxHamming = 7,
        mode = "append")
      val appended = s.read.parquet(idx)
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged, Seq("id_a", "id_b"), "complete"))
        .crossJoin(oldOnly.intersect(inc)
          .agg((count(lit(1)) === 0).as("disjoint")))
        .crossJoin(appended.agg(count(lit(1)).as("n_idx_rows"))
          .crossJoin(docs.agg((count(lit(1)) * 8).as("n_expected")))
          .select(($"n_idx_rows" === $"n_expected").as("append_folded")))
        .select(($"n_full" > 0).as("nonempty"),
          $"complete", $"disjoint", $"append_folded")
    },
    // incremental == full-rebuild equivalence is pinned in-plan (set
    // equality + disjointness + append fold); booleans only
    Oracle("""SELECT true AS nonempty, true AS complete, true AS disjoint,
        |  true AS append_folded""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_minhash_incremental_gate", (s, dir) => {
      import s.implicits._
      // MinHash twin of dedup_incremental_gate: even ids become the
      // persisted band index (+ shingle-set sidecar), odd ids the new
      // crawl; pairs(old ∪ new) == pairs(old) ⊎ incremental(new,
      // index(old)) as exact set equality + disjointness — banding is
      // a deterministic per-doc function of (text, seed), so the
      // candidate set decomposes exactly and the exact-Jaccard verify
      // closes the loop. Append-mode folds the new batch in; the
      // appended band table must hold numTables rows per indexed doc.
      // SIDE-EFFECTING (writes the index at construction).
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val old = docs.filter($"doc_id" % 2 === 0)
      val nw = docs.filter($"doc_id" % 2 === 1)
      val idx = tmpPath("mhidx", dir)
      Dedup.writeMinhashIndex(old, "text", "doc_id", idx)
      // pin the incremental result before append mutates the dir
      val inc = Dedup.minhashNearDupIncremental(nw, idx, "text", "doc_id")
        .select($"id_a", $"id_b").localCheckpoint()
      val full = Dedup.minhashNearDup(docs, "text", "doc_id")
        .select($"id_a", $"id_b")
      val oldOnly = Dedup.minhashNearDup(old, "text", "doc_id")
        .select($"id_a", $"id_b")
      val merged = oldOnly.union(inc)
      Dedup.writeMinhashIndex(nw, "text", "doc_id", idx, mode = "append")
      val appended = s.read.parquet(idx)
      // shingle filter drops docs shorter than the shingle; count the
      // indexed docs from the sets sidecar, not the raw corpus
      val nIndexed = s.read.parquet(idx + "__sets")
        .agg(count(lit(1)).as("n_docs"))
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged, Seq("id_a", "id_b"), "complete"))
        .crossJoin(oldOnly.intersect(inc)
          .agg((count(lit(1)) === 0).as("disjoint")))
        .crossJoin(appended.agg(count(lit(1)).as("n_idx_rows"))
          .crossJoin(nIndexed)
          .select(($"n_idx_rows" === $"n_docs" * 8).as("append_folded")))
        .select(($"n_full" > 0).as("nonempty"),
          $"complete", $"disjoint", $"append_folded")
    },
    Oracle("""SELECT true AS nonempty, true AS complete, true AS disjoint,
        |  true AS append_folded""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_embedding_incremental_gate", (s, dir) => {
      import s.implicits._
      // Embedding twin of the simhash/minhash incremental gates,
      // completing the incremental story for all three near-dup
      // families: even vec_ids become the persisted sign-LSH index
      // (+ vector sidecar), odd ids the new batch; pairs(old ∪ new)
      // == pairs(old) ⊎ incremental(new, index(old)) as exact set
      // equality + disjointness (bucketing is a deterministic per-doc
      // function of vector and seed). SIDE-EFFECTING (writes the
      // index at construction). Same (minCosine, planes) as the
      // dedup_embedding production query.
      val emb = Tables.embeddings(s, dir)
      val old = emb.filter($"vec_id" % 2 === 0)
      val nw = emb.filter($"vec_id" % 2 === 1)
      val idx = tmpPath("embidx", dir)
      Dedup.writeEmbeddingIndex(old, "embedding", "vec_id", idx,
        minCosine = 0.35, planes = 4)
      val inc = Dedup.embeddingNearDupIncremental(nw, idx, "embedding",
          "vec_id", minCosine = 0.35, planes = 4)
        .select($"id_a", $"id_b").localCheckpoint()
      def pairsOf(d: org.apache.spark.sql.DataFrame) =
        Dedup.embeddingNearDup(d, "embedding", "vec_id",
            minCosine = 0.35, planes = 4)
          .select($"id_a", $"id_b")
      val full = pairsOf(emb)
      val oldOnly = pairsOf(old)
      val merged = oldOnly.union(inc)
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged, Seq("id_a", "id_b"), "complete"))
        .crossJoin(oldOnly.intersect(inc)
          .agg((count(lit(1)) === 0).as("disjoint")))
        .select(($"n_full" > 0).as("nonempty"), $"complete", $"disjoint")
    },
    Oracle("""SELECT true AS nonempty, true AS complete,
        |  true AS disjoint""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_minhash_recall", (s, dir) => {
      import s.implicits._
      // ground truth: exact char-5-gram Jaccard >= 0.6 over all pairs
      // (the mirror of minhashNearDup's maxDist = 0.4). n_true is
      // independently recomputed by the DuckDB oracle; the recall gate
      // is a threshold boolean (8 OR'd tables make P(miss) <= 0.4^8
      // per true pair, so >= 0.9 has huge margin). Quadratic -> capped
      // to doc_id < 500 (no-op at sf0.01).
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val norm = docs.select($"doc_id",
          regexp_replace($"text", "\\s+", " ").as("t"))
        .filter(length($"t") >= 5)
      val grams = norm.select($"doc_id", array_distinct(
        transform(sequence(lit(0), length($"t") - 5),
          i => $"t".substr(i + 1, lit(5)))).as("grams"))
      val truth = grams.select($"doc_id".as("id_a"), $"grams".as("ga"))
        .crossJoin(grams.select($"doc_id".as("id_b"), $"grams".as("gb")))
        .filter($"id_a" < $"id_b")
        .withColumn("inter", size(array_intersect($"ga", $"gb")))
        .withColumn("uni", size($"ga") + size($"gb") - $"inter")
        .filter($"inter".cast("double") / $"uni" >= 0.6)
        .select($"id_a", $"id_b")
      val cand = built.minhashPairs(s, dir)
        .filter($"id_a" < 500 && $"id_b" < 500)
        .select($"id_a", $"id_b")
      truth.agg(count(lit(1)).cast("bigint").as("n_true"))
        .crossJoin(truth.join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select($"n_true",
          // empty truth set → vacuously true (0.0/0.0 is NaN, and
          // NaN >= 0.9 would red the gate exactly when there is
          // nothing to recall)
          when($"n_true" === 0, lit(true))
            .otherwise($"n_hit".cast("double") / $"n_true" >= 0.9)
            .as("recall_ok"))
    },
    // ground truth (exact char-5-gram Jaccard >= 0.6 over all pairs)
    // recomputed independently in DuckDB; the recall gate is a boolean
    Oracle("""WITH norm AS (
        |  SELECT doc_id, regexp_replace(text, '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id < 500),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, length(t) - 4),
        |    i -> substring(t, CAST(i AS INT) + 1, 5))) AS grams
        |  FROM norm WHERE length(t) >= 5),
        |p AS (
        |  SELECT len(list_intersect(a.grams, b.grams)) AS inter,
        |    len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS uni
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_true, true AS recall_ok
        |FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.6""".stripMargin),
    eagerBuild = true),

    QuerySpec("dedup_embedding_recall", (s, dir) => {
      import s.implicits._
      // ground truth: brute-force all-pairs cosine >= 0.35; the
      // hyperplane-blocked tier must recover >= 90% of it. Quadratic ->
      // capped to vec_id < 500 (no-op at sf0.01).
      val emb = Tables.embeddings(s, dir)
        .filter($"vec_id" < 500)
        .select($"vec_id", $"embedding")
      val truth = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
        .crossJoin(emb.select($"vec_id".as("id_b"), $"embedding".as("vb")))
        .filter($"id_a" < $"id_b")
        .filter(graft.functions.cosine_similarity($"va", $"vb") >= 0.35)
        .select($"id_a", $"id_b")
      val cand = Dedup.embeddingNearDup(emb, "embedding", "vec_id",
          minCosine = 0.35, planes = 4)
        .select($"id_a", $"id_b")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(truth.join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(($"n_true" > 0).as("nonempty"),
          ($"n_hit".cast("double") / $"n_true" >= 0.9).as("recall_ok"))
    },
    Oracle("SELECT true AS nonempty, true AS recall_ok")),

    QuerySpec("dedup_cluster_sizes", (s, dir) => {
      import s.implicits._
      // The duplication PROFILE of a corpus — the census a dedup run
      // is judged by before anyone looks at pairs ("how much mass
      // sits in clusters of size 2? of size 10+?"): exact-fingerprint
      // cluster sizes histogrammed, with per-size document counts
      // and the share of the corpus that would survive keep-one.
      // Doubled corpus (the keep_best twin construction) so sizes
      // ≥ 2 are guaranteed present at every sf.
      val d = Tables.documents(s, dir).select($"doc_id", $"text")
      val corpus = d.unionByName(
        d.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      val cl = corpus.groupBy(md5($"text").as("fp"))
        .agg(count(lit(1)).as("sz"))
      cl.groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).cast("bigint").as("n_clusters"),
          sum($"sz").cast("bigint").as("n_docs"))
        .orderBy($"cluster_size")
    },
    // fingerprint cluster sizes histogrammed — exact census
    Oracle("""WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents),
        |cl AS (SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS sz
        |  FROM c GROUP BY 1)
        |SELECT sz AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true),
  )
}
