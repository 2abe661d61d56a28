package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, TextAnalysis}
import graft.ml.{Projection, TextFeatures}
import graft.operators.{Graph, Percentiles}

import Shared.{built, setsEqual, tmpPath}

/** End-to-end curation pipelines composed from the other families: what
  * an LLM-data pipeline actually runs (language filter + quality filter +
  * exact dedup, token counts, dataset card, source mix), plus their
  * incremental-maintenance gates. */
object PipelineQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("pipeline_incremental_corpus_gate", (s, dir) => {
      import s.implicits._
      // THE daily-crawl capstone, composing this round's incremental
      // family end-to-end: one day of corpus curation run the
      // incremental way — near-dup screen against the PERSISTED
      // simhash index, boilerplate screen against the PERSISTED line
      // census, a kept-chars quality floor — must keep EXACTLY the
      // docs a from-scratch recompute over old ∪ new keeps. Drop
      // rules: a new doc pairing with any old doc (or a smaller-id
      // new doc) drops; boilerplate_ppm > 400000 drops (planted
      // fixture: even docs carry the extra footer → 500000, odd →
      // 333333, so the screen genuinely bites); kept_chars < 10
      // drops. SIDE-EFFECTING (writes both artifacts at
      // construction).
      val docs = Tables.documents(s, dir).select($"doc_id",
        concat(lit("SHARED HEADER\n"), $"text", lit("\n"),
          when($"doc_id" % 2 === 0, lit("EVEN FOOTER\n"))
            .otherwise(lit("")),
          lit("unique "), $"doc_id".cast("string")).as("text"))
      val old = docs.filter($"doc_id" % 4 <= 1)
      val nw = docs.filter($"doc_id" % 4 >= 2)
      val base = tmpPath("pincc", dir)
      Dedup.writeSimhashIndex(old, "text", "doc_id", s"$base/shidx",
        maxHamming = 7)
      graft.llm.TextAnalysis.writeLineCensus(old, "doc_id", "text",
        s"$base/census")
      // the new doc a pair condemns: the larger of a new-new pair,
      // else the pair's (unique) new endpoint
      def drops(pairs: org.apache.spark.sql.DataFrame) = pairs
        .filter($"id_a" % 4 >= 2 || $"id_b" % 4 >= 2)
        .select(when($"id_a" % 4 >= 2 && $"id_b" % 4 >= 2, $"id_b")
          .when($"id_a" % 4 >= 2, $"id_a")
          .otherwise($"id_b").as("doc_id"))
        .distinct()
      val incDrops = drops(Dedup.simhashNearDupIncremental(nw,
        s"$base/shidx", "text", "doc_id", maxHamming = 7))
      val fullDrops = drops(Dedup.simhashNearDup(docs, "text",
        "doc_id", maxHamming = 7))
      def screened(stats: org.apache.spark.sql.DataFrame) = stats
        .filter($"boilerplate_ppm" > 400000L || $"kept_chars" < 10L)
        .select($"doc_id")
      val incScreen = screened(graft.llm.TextAnalysis
        .boilerplateLinesIncremental(nw, "doc_id", "text",
          s"$base/census", minDocs = 5))
      val fullScreen = screened(graft.llm.TextAnalysis
        .boilerplateLines(docs, "doc_id", "text", minDocs = 5)
        .filter($"doc_id" % 4 >= 2))
      val newIds = nw.select($"doc_id")
      val keptInc = newIds.exceptAll(incDrops.intersect(newIds))
        .exceptAll(incScreen).distinct().localCheckpoint()
      val keptFull = newIds.exceptAll(fullDrops.intersect(newIds))
        .exceptAll(fullScreen).distinct()
      keptInc.agg(count(lit(1)).as("n_kept"))
        .crossJoin(setsEqual(keptInc, keptFull, Seq("doc_id"),
          "kept_equal"))
        .crossJoin(incDrops.intersect(newIds)
          .agg((count(lit(1)) > 0).as("dedup_active")))
        .crossJoin(incScreen.agg((count(lit(1)) > 0).as("screen_active")))
        .select(($"n_kept" > 0).as("nonempty"), $"kept_equal",
          $"dedup_active", $"screen_active")
    },
    Oracle(("SELECT true AS nonempty, true AS kept_equal, " +
        "true AS dedup_active, true AS screen_active")),
    eagerBuild = true),

    QuerySpec("pipeline_feature_matrix", (s, dir) => {
      import s.implicits._
      // Reference P3+P4 composed end-to-end: keyed provider sample
      // (all-or-nothing per l_suppkey, pure-arithmetic gate DuckDB
      // replicates) feeding grouped-percentile bucket features — the
      // reference's "feature matrix" flow (README.md:149-272) as one
      // plan: scan → filter → percentile agg → broadcast join-back →
      // ladder → distinct.
      val sampled = Tables.lineitem(s, dir)
        .filter(pmod(pmod($"l_suppkey" * lit(2654435761L), lit(1000003L)), lit(4)) === 0)
      Percentiles.bucketByJoin(sampled, "l_partkey", $"l_quantity".cast("int"),
          outCols = Seq("l_suppkey"))
        .select($"l_suppkey".as("provider"), $"l_partkey".as("code"), $"bucket")
        .distinct()
        .orderBy($"provider", $"code", $"bucket")
    },
    Oracle("""WITH s AS (
        |  SELECT * FROM lineitem
        |  WHERE ((l_suppkey * 2654435761) % 1000003) % 4 = 0),
        |p AS (
        |  SELECT l_partkey,
        |    quantile_cont(CAST(l_quantity AS INT), [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,0.95,0.99]) AS pct
        |  FROM s GROUP BY l_partkey)
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
        |FROM s l JOIN p ON l.l_partkey = p.l_partkey
        |ORDER BY provider, code, bucket""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("pipeline_incremental_dedup_gate", (s, dir) => {
      import s.implicits._
      // The daily-crawl dedup loop END-TO-END, composing the r10
      // incremental pieces: day 0 builds the minhash band index and a
      // total cluster labeling; day 1's batch pairs against the
      // PERSISTED index (no history rescan), folds the pairs into the
      // labeling via the star-graph CC (no edge replay), and the
      // resulting total assignment must equal a from-scratch recompute
      // over the full corpus — the invariant that lets a 100 TB corpus
      // absorb a daily crawl at daily-crawl cost. SIDE-EFFECTING
      // (writes the index at construction).
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val old = docs.filter($"doc_id" % 2 === 0)
      val nw = docs.filter($"doc_id" % 2 === 1)
      val idx = tmpPath("pinc", dir)
      Dedup.writeMinhashIndex(old, "text", "doc_id", idx)
      val oldPairs = Dedup.minhashNearDup(old, "text", "doc_id")
        .select($"id_a", $"id_b")
      val oldLabels = Graph.assignClusters(old.select($"doc_id"),
          "doc_id", oldPairs)
        .select($"doc_id".as("id"), $"cluster_id".as("comp"))
      val incPairs = Dedup.minhashNearDupIncremental(nw, idx, "text",
          "doc_id")
        .select($"id_a", $"id_b").localCheckpoint()
      val incLabels = Graph.connectedComponentsIncremental(oldLabels, incPairs)
      val incAssigned = docs.select($"doc_id")
        .join(incLabels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"))
      val fullPairs = Dedup.minhashNearDup(docs, "text", "doc_id")
        .select($"id_a", $"id_b")
      val fullAssigned = Graph.assignClusters(docs.select($"doc_id"),
          "doc_id", fullPairs)
        .select($"doc_id", $"cluster_id")
      incAssigned.agg(count(lit(1)).cast("bigint").as("n_docs"))
        .crossJoin(setsEqual(incAssigned, fullAssigned,
          Seq("doc_id", "cluster_id"), "labels_equal"))
        .crossJoin(incPairs.agg((count(lit(1)) > 0).as("nonempty_increment")))
    },
    // n_docs recomputed by DuckDB; the labeling equality is Spark-side
    // set algebra over the two total assignments
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS labels_equal,
        |  true AS nonempty_increment
        |FROM documents WHERE doc_id < 500""".stripMargin),
    eagerBuild = true),

    QuerySpec("pipeline_dataset_card", (s, dir) => {
      import s.implicits._
      // The corpus DATASET CARD in one scan — the summary table every
      // training-data release publishes (sizes, duplication, length
      // distribution, stopword mass): 10 exact-integer metrics in
      // long (metric, value) format. Distinct docs count by a 128-bit
      // fingerprint pair (the Dedup.exact convention — the oracle's
      // count(DISTINCT text) equals it up to a 2^-64 birthday bound,
      // and text itself never shuffles at 100 TB); everything else is
      // row-local column algebra into ONE map-side-combined
      // aggregate.
      val base = Tables.documents(s, dir).select($"text",
        length($"text").cast("long").as("__chars"),
        size(split($"text", " ")).cast("long").as("__toks"),
        size(filter(split($"text", " "),
          t => t.isin("the", "a", "of", "and"))).cast("long")
          .as("__stop"))
      val m = base.agg(
        count(lit(1)).as("n_docs"),
        sum($"__chars").as("total_chars"),
        sum($"__toks").as("total_tokens"),
        countDistinct(xxhash64($"text"), xxhash64(lit("dc2"), $"text"))
          .as("distinct_docs"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY __toks)"
          + " AS BIGINT)").as("median_doc_tokens"),
        sum(when($"__toks" < 50L, 1L).otherwise(0L)).as("short_docs"),
        sum(when($"__toks" > 1000L, 1L).otherwise(0L)).as("long_docs"),
        sum($"__stop").as("stop_tokens"))
      m.select(expr(
          "stack(10," +
            " 'n_docs', n_docs," +
            " 'total_chars', total_chars," +
            " 'total_tokens', total_tokens," +
            " 'distinct_docs', distinct_docs," +
            " 'dup_docs', n_docs - distinct_docs," +
            " 'mean_doc_tokens', total_tokens div n_docs," +
            " 'median_doc_tokens', median_doc_tokens," +
            " 'short_docs', short_docs," +
            " 'long_docs', long_docs," +
            " 'stop_ratio_ppm', stop_tokens * 1000000 div total_tokens" +
            ") AS (metric, value)"))
        .select($"metric", $"value".cast("long").as("value"))
        .orderBy($"metric")
    },
    // one aggregate CTE unpivoted by UNION ALL; distinct docs by
    // count(DISTINCT text) == the engine's fingerprint-pair distinct
    Oracle("""WITH b AS (SELECT text,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS stop
        |  FROM documents),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(chars) AS BIGINT) AS total_chars,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens,
        |    CAST(count(DISTINCT text) AS BIGINT) AS distinct_docs,
        |    CAST(quantile_disc(toks, 0.5) AS BIGINT)
        |      AS median_doc_tokens,
        |    CAST(sum(CASE WHEN toks < 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS short_docs,
        |    CAST(sum(CASE WHEN toks > 1000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS long_docs,
        |    CAST(sum(stop) AS BIGINT) AS stop_tokens
        |  FROM b)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM m
        |  UNION ALL SELECT 'total_chars', total_chars FROM m
        |  UNION ALL SELECT 'total_tokens', total_tokens FROM m
        |  UNION ALL SELECT 'distinct_docs', distinct_docs FROM m
        |  UNION ALL SELECT 'dup_docs', n_docs - distinct_docs FROM m
        |  UNION ALL SELECT 'mean_doc_tokens',
        |    total_tokens // n_docs FROM m
        |  UNION ALL SELECT 'median_doc_tokens', median_doc_tokens
        |    FROM m
        |  UNION ALL SELECT 'short_docs', short_docs FROM m
        |  UNION ALL SELECT 'long_docs', long_docs FROM m
        |  UNION ALL SELECT 'stop_ratio_ppm',
        |    (stop_tokens * 1000000) // total_tokens FROM m)
        |ORDER BY metric""".stripMargin),
    bench = true),

    QuerySpec("pipeline_source_mix", (s, dir) => {
      import s.implicits._
      // Per-(source, lang) corpus composition — the mix table a
      // sample_to_mix recipe consumes and every dataset card slices
      // by: docs, tokens, within-cell duplication, and doc/token
      // shares in exact ppm. One group hash-agg + a broadcast 1-row
      // total; distinct docs by the fingerprint pair (text never
      // shuffles).
      val g = Tables.documents(s, dir)
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split($"text", " ")).cast("long")).as("n_tokens"),
          countDistinct(xxhash64($"text"),
            xxhash64(lit("sm2"), $"text")).as("distinct_docs"))
      val tot = g.agg(sum($"n_docs").as("__td"),
        sum($"n_tokens").as("__tt"))
      g.crossJoin(broadcast(tot)) // 1-row corpus totals
        .select($"source", $"lang",
          $"n_docs".cast("bigint").as("n_docs"),
          $"n_tokens".cast("bigint").as("n_tokens"),
          expr("(n_docs - distinct_docs) * 1000000 div n_docs")
            .as("dup_ppm"),
          expr("n_docs * 1000000 div __td").as("doc_share_ppm"),
          expr("n_tokens * 1000000 div __tt").as("token_share_ppm"))
        .orderBy($"source", $"lang")
    },
    // langId + qualityScore + exact dedup composed — the full DuckDB
    // replica of the clean-corpus pipeline
    // group agg + corpus totals; distinct by count(DISTINCT text) ==
    // the engine's fingerprint-pair distinct; all shares integer ppm
    Oracle("""WITH g AS (SELECT source, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |      AS n_tokens,
        |    CAST(count(DISTINCT text) AS BIGINT) AS distinct_docs
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |    CAST(sum(n_tokens) AS BIGINT) AS tt FROM g)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST((n_docs - distinct_docs) * 1000000 // n_docs AS BIGINT)
        |    AS dup_ppm,
        |  CAST(n_docs * 1000000 // td AS BIGINT) AS doc_share_ppm,
        |  CAST(n_tokens * 1000000 // tt AS BIGINT) AS token_share_ppm
        |FROM g, t ORDER BY source, lang""".stripMargin),
    bench = true),

    QuerySpec("pipeline_clean_corpus", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.qualityScore(
        TextAnalysis.langId(docs, "text"), "text")
      // winner election keyed by the 128-bit content key, with the
      // (text-derived, group-constant) token count computed BEFORE the
      // shuffle — the exchange carries ~28 bytes/row, never the text.
      // Same one-shuffle plan shape as before, minus the text payload.
      scored.filter($"lang_pred" === "en" && $"quality_score" >= 0.3)
        .select(graft.functions.doc_fingerprint($"text").as("fp"),
          xxhash64($"text").as("fp2"), $"doc_id",
          size(split($"text", "\\s+")).as("n_ws_tokens"))
        .groupBy($"fp", $"fp2")
        .agg(min($"doc_id").as("doc_id"), min($"n_ws_tokens").as("n_ws_tokens"))
        .select($"doc_id", $"n_ws_tokens")
        .orderBy($"doc_id")
    },
    Oracle("""WITH t AS (
        |  SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','eine','zu','den','von'))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','los','de','y','un','una','es','que','por'))) AS DOUBLE) / greatest(len(toks), 1) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr
        |  FROM t),
        |l AS (
        |  SELECT doc_id, text,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM s),
        |q AS (
        |  SELECT doc_id,
        |    greatest(0.0, least(1.0,
        |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
        |      * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |      * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |      * (0.5 + CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE)
        |          / CAST(greatest(len(string_split_regex(text, '\s+')), 1) AS DOUBLE)))) AS quality_score
        |  FROM documents),
        |kept AS (
        |  SELECT l.text FROM l JOIN q USING (doc_id)
        |  WHERE l.lang_pred = 'en' AND q.quality_score >= 0.3),
        |dedup AS (
        |  SELECT min(d.doc_id) AS doc_id, k.text
        |  FROM (SELECT DISTINCT text FROM kept) k
        |  JOIN documents d ON d.text = k.text
        |  GROUP BY k.text)
        |SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_ws_tokens
        |FROM dedup ORDER BY doc_id""".stripMargin),
    bench = true),

    // The whole curation flow a training-data team runs, as ONE plan:
    // language filter → quality floor → repetition cap →
    // decontamination vs the benchmark split → paragraph-level dedup →
    // per-surviving-doc chunk/token budget. Every stage is an
    // oracle-proven operator above; the DuckDB oracle replays the
    // composition stage for stage, so a drift anywhere in the chain
    // hash-mismatches. Scale shape: three row-local scoring stages, a
    // broadcast gram probe, one 28-byte winner-election shuffle, one
    // id-keyed agg.
    QuerySpec("pipeline_tokenize_pack", (s, dir) => {
      import s.implicits._
      // The end-to-end training-data path, four operators composed:
      // unicode-normalized exact dedup → REAL BPE tokenization (model
      // cached per dir) → concat-and-chunk sequence packing at 512
      // tokens. Deterministic (every stage is), but not SQL-replayable
      // (the tokenizer is learned) — pipeline_tokenize_pack_gate holds
      // the hash-matched conservation contract.
      val deduped = graft.llm.Dedup.exact(Tables.documents(s, dir),
        "text", "doc_id", normalizeKeys = true)
      val toks = graft.llm.Bpe.encode(deduped, "text", "doc_id",
        built.bpe(s, dir))
      graft.operators.Scale.packSequences(
          toks.select($"doc_id", $"n_tokens"), "doc_id", "n_tokens",
          seqLen = 512L)
        .groupBy($"seq_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum($"chunk_len").cast("bigint").as("seq_fill"))
        .orderBy($"seq_id")
    },
    Gate("pipeline_tokenize_pack_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("pipeline_tokenize_pack_gate", (s, dir) => {
      import s.implicits._
      // Conservation contract of the composed pipeline, anchored to
      // DuckDB-exact counts: the dedup survivor count is replayed
      // exactly; every token lands in exactly one chunk (sum of
      // chunk_len == sum of n_tokens); every sequence except the last
      // is filled to exactly 512; offsets stay inside their sequence.
      val deduped = graft.llm.Dedup.exact(Tables.documents(s, dir),
        "text", "doc_id", normalizeKeys = true)
      val toks = graft.llm.Bpe.encode(deduped, "text", "doc_id",
        built.bpe(s, dir))
      val packed = graft.operators.Scale.packSequences(
        toks.select($"doc_id", $"n_tokens"), "doc_id", "n_tokens",
        seqLen = 512L)
      val seqFill = packed.groupBy($"seq_id")
        .agg(sum($"chunk_len").as("fill"))
      // every sequence but the last is filled to exactly 512 — the
      // max(seq_id) comes from a 1-row aggregate INSIDE the plan
      val fullSeqs = seqFill
        .crossJoin(seqFill.agg(max($"seq_id").as("__mx")))
        .agg(coalesce(min(when($"seq_id" < $"__mx", $"fill" === 512L)),
          lit(true)).as("full_seqs"))
      packed.agg(
          count_distinct($"doc_id").cast("bigint").as("n_docs"),
          sum($"chunk_len").as("tok_total"),
          min($"seq_off" >= 0 && $"seq_off" < 512 &&
            $"chunk_len" > 0 && $"chunk_len" <= 512).as("offsets_ok"))
        .crossJoin(toks.agg(sum($"n_tokens").as("tok_in")))
        .crossJoin(fullSeqs)
        .select($"n_docs",
          ($"tok_total" === $"tok_in").as("tokens_conserved"),
          $"offsets_ok", $"full_seqs")
    },
    // the curation composition replayed stage for stage: langid →
    // quality → dup-token cap → 4-gram decontamination vs the %97
    // benchmark split → paragraph dedup (64-token chunks, min
    // (doc_id, chunk_no) election) → per-doc chunk/token budget
    // the tokenizer is learned, so the packed output is rows-only;
    // this gate's anchors are exact (dedup survivors with >= 1 word)
    // and its conservation contracts are in-plan booleans
    Oracle("""WITH d AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS tokens_conserved, true AS offsets_ok, true AS full_seqs
        |FROM d
        |WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) > 0""".stripMargin),
    eagerBuild = true),

    QuerySpec("pipeline_curation", (s, dir) => {
      import s.implicits._
      // Tables.wide: langid + quality + repetition scoring are three
      // stacked per-doc text passes (r21 A/B: +1.50 s win)
      val docs = Tables.wide(Tables.documents(s, dir))
      val bench = docs.filter($"doc_id" % 97 === 0)
      val corpus = docs.filter($"doc_id" % 97 =!= 0)
      val scored = TextAnalysis.repetitionScore(
        TextAnalysis.qualityScore(TextAnalysis.langId(corpus, "text"), "text"),
        "text")
      val kept = scored.filter($"lang_pred" === "en" &&
          $"quality_score" >= 0.3 && $"dup_token_frac" <= 0.6)
        .select($"doc_id", $"text")
      val contaminated = graft.llm.Decontaminate
        .flag(kept, bench, "text", "doc_id", n = 4)
        .filter($"contaminated").select($"doc_id")
      val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
      Dedup.paragraphDedup(clean, "text", "doc_id", chunkTokens = 64)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum($"chunk_tokens").cast("bigint").as("n_tokens"))
        .orderBy($"doc_id")
    },
    Oracle("""WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks,
        |    string_split_regex(lower(text), '\s+') AS ltoks
        |  FROM documents WHERE doc_id % 97 <> 0),
        |s AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(list_filter(ltoks, x -> x IN ('der','die','das','und','ist','ein','eine','zu','den','von'))) AS DOUBLE) / greatest(len(ltoks), 1) AS s_de,
        |    CAST(len(list_filter(ltoks, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE) / greatest(len(ltoks), 1) AS s_en,
        |    CAST(len(list_filter(ltoks, x -> x IN ('el','la','los','de','y','un','una','es','que','por'))) AS DOUBLE) / greatest(len(ltoks), 1) AS s_es,
        |    CAST(len(list_filter(ltoks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS DOUBLE) / greatest(len(ltoks), 1) AS s_fr
        |  FROM t),
        |l AS (
        |  SELECT doc_id, text, toks,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM s),
        |q AS (
        |  SELECT doc_id,
        |    greatest(0.0, least(1.0,
        |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
        |      * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |      * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |      * (0.5 + CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE)
        |          / CAST(greatest(len(string_split_regex(text, '\s+')), 1) AS DOUBLE)))) AS quality_score
        |  FROM documents WHERE doc_id % 97 <> 0),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |         ELSE 0.0 END AS dup_token_frac
        |  FROM t),
        |kept AS (
        |  SELECT l.doc_id, l.text, l.toks
        |  FROM l JOIN q USING (doc_id) JOIN r USING (doc_id)
        |  WHERE l.lang_pred = 'en' AND q.quality_score >= 0.3
        |    AND r.dup_token_frac <= 0.6),
        |bg AS (
        |  SELECT CASE WHEN len(toks) >= 4 THEN
        |    list_distinct(list_transform(range(0, len(toks) - 3),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 4), ' ')))
        |    ELSE [] END AS grams
        |  FROM (SELECT string_split_regex(text, '\s+') AS toks
        |        FROM documents WHERE doc_id % 97 = 0)),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM bg),
        |kg AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 4 THEN
        |    list_distinct(list_transform(range(0, len(toks) - 3),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 4), ' ')))
        |    ELSE [] END AS grams
        |  FROM kept),
        |contaminated AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM kg)
        |  WHERE gram IN (SELECT gram FROM bench)),
        |clean AS (
        |  SELECT doc_id, toks FROM kept
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |n AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    greatest(CAST(ceil(len(toks) / 64.0) AS INT), 1) AS nc FROM clean),
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
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("pipeline_text_features", (s, dir) => {
      import s.implicits._
      // The reference's P5 text-features flow composed END-TO-END
      // (README.md:274-422): tokenize → hashed TF-IDF → PCA(k), as one
      // plan. numFeatures is 2^8 here, not the production 2^20: exact
      // covariance PCA is quadratic in feature count (spark.ml caps
      // input at 65535 dims), so the composed flow hashes into a
      // PCA-sized space — the full-width TF-IDF keeps its own entry
      // (ml_tfidf). Gate contract: every doc projects to exactly k
      // dims, every TF-IDF vector has positive norm (every fixture doc
      // has tokens), and component variances are non-increasing.
      val k = 8
      val (tfidfDf, _) = TextFeatures.tfidf(Tables.documents(s, dir), "text",
        numFeatures = 256)
      val arr = tfidfDf.withColumn("tfidf_arr",
        org.apache.spark.ml.functions.vector_to_array($"tfidf"))
      val (projected, _) = Projection.pca(arr, "tfidf_arr", k)
      val pcols = (0 until k).map(i => $"pca".getItem(i).as(s"c$i"))
      val varsOrdered = (0 until k - 1)
        .map(i => col(s"v$i") >= col(s"v${i + 1}"))
        .reduce(_ && _)
      val aggs = Seq(min($"dim").as("dim_min"), max($"dim").as("dim_max"),
        min($"l2sq" > 0).as("norms_positive")) ++
        (0 until k).map(i => variance(col(s"c$i")).as(s"v$i"))
      projected
        .select(Seq(size($"pca").as("dim"),
          aggregate($"tfidf_arr", lit(0.0), (a, x) => a + x * x).as("l2sq"))
          ++ pcols: _*)
        .agg(count(lit(1)).cast("bigint").as("n_docs"), aggs: _*)
        .select($"n_docs", lit(k).as("k"),
          ($"dim_min" === k && $"dim_max" === k).as("dims_ok"),
          $"norms_positive", varsOrdered.as("vars_ordered"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs, 8 AS k, true AS dims_ok,
        |  true AS norms_positive, true AS vars_ordered FROM documents""".stripMargin),
    eagerBuild = true),

    QuerySpec("pipeline_multimodal_curation", (s, dir) => {
      import s.implicits._
      // The END-TO-END multimodal curation flow a crawl pipeline
      // runs, composed from graded parts: decode -> quality screen
      // (drop solid-color placeholders: any flat band) -> perceptual
      // dedup (dHash + pigeonhole Hamming bands) -> connected
      // components -> keep-one winners. Corpus: 500 textured PNGs in
      // 50 brightness-shifted duplicate groups (cluster = id % 50,
      // winner iff id < 50) plus 100 gradient PNGs at ids 1000+
      // (id % 5 == 0 renders FLAT -> dropped by the screen; the
      // survivors all dHash to 0 — rows constant horizontally — and
      // form one cluster with winner 1001). The oracle states the
      // whole closed form; only the real decode -> screen -> hash ->
      // band-join -> CC chain reproduces it. SIDE-EFFECTING
      // (hash-min rounds run eagerly).
      val base = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val textured = Multimodal.syntheticTexturedPng(base, "doc_id",
        groups = 50)
      val gradient = Multimodal.syntheticGradientPng(
        base.filter($"doc_id" < 100)
          .select(($"doc_id" + 1000L).as("doc_id")), "doc_id")
      val media = textured.unionByName(gradient)
      val flatIds = Multimodal.imageQuality(media)
        .filter($"flat").select($"media_id").distinct()
      val survivors = media.join(flatIds, Seq("media_id"), "left_anti")
      val hashed = Multimodal.dhash64(survivors)
      val pairs = graft.llm.Dedup.hammingNearDup(
        hashed.filter($"decoded"), "dhash", "media_id", maxHamming = 3)
      val clustered = graft.operators.Graph.assignClusters(
          hashed.select($"media_id"), "media_id", pairs)
        .select($"media_id".cast("long").as("media_id"),
          $"cluster_id".cast("long").as("cluster_id"))
      media.select($"media_id").join(clustered, Seq("media_id"), "left")
        .select($"media_id",
          $"cluster_id".isNotNull.as("kept"),
          $"cluster_id",
          coalesce($"media_id" === $"cluster_id", lit(false))
            .as("is_winner"))
        .orderBy($"media_id")
    },
    // the whole curation flow's closed form: flat gradients (id%5=0)
    // dropped, surviving gradients one cluster under min id 1001,
    // textured groups cluster at id%50 with winners below 50
    Oracle("""WITH ids AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000 FROM documents WHERE doc_id < 100)
        |SELECT media_id,
        |  NOT (media_id >= 1000 AND media_id % 5 = 0) AS kept,
        |  CAST(CASE WHEN media_id >= 1000 AND media_id % 5 = 0
        |      THEN NULL
        |    WHEN media_id >= 1000 THEN 1001
        |    ELSE media_id % 50 END AS BIGINT) AS cluster_id,
        |  CASE WHEN media_id >= 1000 AND media_id % 5 = 0 THEN false
        |    WHEN media_id >= 1000 THEN media_id = 1001
        |    ELSE media_id < 50 END AS is_winner
        |FROM ids ORDER BY media_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("pipeline_keep_best_dup", (s, dir) => {
      import s.implicits._
      // Duplicate SURVIVORSHIP for a corpus — the election rule real
      // curation uses (dedup_exact keeps the min id; a crawl keeps
      // the HIGHEST-QUALITY twin — cleanest render, longest text):
      // the corpus is doubled into twins with a deterministic score,
      // clusters form on the exact text fingerprint, and each
      // cluster elects (score desc, doc_id asc). Hash-graded end to
      // end; the winner differs from min-id whenever the twin
      // scores higher, so an election bug cannot hide.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select($"doc_id", $"text")
      val corpus = d.unionByName(
          d.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
        .withColumn("score", pmod($"doc_id" * 37L, lit(1000)))
        .withColumn("fp", md5($"text"))
      val w = Window.partitionBy($"fp")
        .orderBy($"score".desc, $"doc_id")
      corpus.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy($"fp")))
        .filter($"__rn" === 1)
        .select($"fp".as("fingerprint"),
          $"__n".cast("bigint").as("n_dups"),
          $"doc_id".cast("bigint").as("winner_id"),
          $"score".cast("bigint").as("winner_score"))
        .orderBy($"fingerprint")
    },
    // exact-fingerprint clusters elect (score desc, id asc) — the
    // keep-best rule, with twins ensuring min-id is often WRONG
    Oracle("""WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents),
        |sc AS (SELECT doc_id, md5(text) AS fp,
        |    (doc_id * 37) % 1000 AS score FROM c),
        |r AS (SELECT fp, doc_id, score,
        |    row_number() OVER (PARTITION BY fp
        |      ORDER BY score DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS n FROM sc)
        |SELECT fp AS fingerprint, CAST(n AS BIGINT) AS n_dups,
        |  CAST(doc_id AS BIGINT) AS winner_id,
        |  CAST(score AS BIGINT) AS winner_score
        |FROM r WHERE rn = 1 ORDER BY fingerprint""".stripMargin),
    bench = true),
  )
}
