package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Blocklist, CorpusOverlap, Similarity, TextAnalysis}
import graft.operators.Scale

import Shared.{built, setsEqual, tmpPath}

/** Text analysis, tokenizers, data selection and benchmark
  * decontamination. */
object TextQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("text_phrase_search", (s, dir) => {
      import s.implicits._
      // Exact-phrase occurrence count: a k-token phrase is a row-local
      // count of matching k-grams from the codegen'd n-gram expression
      // — scan-scale, pushdown-friendly, the text never shuffles.
      Tables.documents(s, dir)
        .select($"doc_id",
          size(filter(graft.functions.token_ngrams($"text", 2),
            g => g === "hash join")).cast("bigint").as("n_occurrences"))
        .filter($"n_occurrences" > 0)
        .orderBy($"doc_id")
    },
    // the same whitespace bigrams as the collocation CTEs, counted
    // per doc; zero-hit docs drop out
    Oracle("""WITH t AS (SELECT doc_id,
        |    string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(toks) - 1, 0)),
        |    i -> toks[CAST(i AS INT) + 1] || ' ' ||
        |      toks[CAST(i AS INT) + 2])) AS bg
        |  FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g WHERE bg = 'hash join'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_line_stats", (s, dir) => {
      import s.implicits._
      // Per-document LINE structure — the Gopher-family layout
      // signal the token stats miss (code and tables are many short
      // lines; prose is few long ones): line count, max line length,
      // and exact mean line length in micros. The mean needs no
      // per-line sum: sum(line lengths) = len(text) − (n_lines − 1)
      // exactly, so the whole row is integer algebra plus one
      // array-max.
      Tables.documents(s, dir)
        .selectExpr("doc_id",
          "size(split(text, '\\n')) AS n_lines",
          "length(text) AS len",
          "CAST(array_max(transform(split(text, '\\n')," +
            " x -> length(x))) AS BIGINT) AS max_line")
        .selectExpr("doc_id", "CAST(n_lines AS BIGINT) AS n_lines",
          "CAST(CAST((len - n_lines + 1) AS DECIMAL(38,0)) * 1000000" +
            " div n_lines AS BIGINT) AS avg_line_micros", "max_line")
        .orderBy($"doc_id")
    },
    // one-scan integer line algebra; list_max mirrors array_max
    Oracle("""SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST((CAST(length(text)
        |      - len(string_split(text, chr(10))) + 1 AS HUGEINT)
        |    * 1000000) // len(string_split(text, chr(10))) AS BIGINT)
        |    AS avg_line_micros,
        |  CAST(list_max(list_transform(string_split(text, chr(10)),
        |    x -> length(x))) AS BIGINT) AS max_line
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_boilerplate", (s, dir) => {
      import s.implicits._
      // Cross-document boilerplate-line removal — the crawl-cleanup
      // pass that precedes quality scoring: a line verbatim in >= 5
      // distinct docs (headers, footers, banners) carries no
      // per-document signal. Planted fixture: every doc gets a shared
      // header (boilerplate by construction), its natural word-soup
      // line, an even-docs-only footer (boilerplate across half the
      // corpus), and a per-doc unique trailer — so both census
      // outcomes are exercised. The census shuffles fingerprints,
      // never lines; the oracle censuses the RAW lines, so a 128-bit
      // collision would hash-mismatch, not pass silently.
      val docs = Tables.documents(s, dir).select($"doc_id",
        concat(lit("SHARED HEADER\n"), $"text", lit("\n"),
          when($"doc_id" % 2 === 0, lit("EVEN FOOTER\n"))
            .otherwise(lit("")),
          lit("unique "), $"doc_id".cast("string")).as("text"))
      graft.llm.TextAnalysis.boilerplateLines(docs, "doc_id", "text",
          minDocs = 5)
        .orderBy($"doc_id")
    },
    // the raw-line census restated: a non-empty line in >= 5 distinct
    // docs is boilerplate; the engine's fingerprint census must agree
    // line for line
    Oracle("""WITH d AS (SELECT doc_id,
        |    'SHARED HEADER' || chr(10) || text || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'EVEN FOOTER' || chr(10)
        |      ELSE '' END ||
        |    'unique ' || doc_id AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line FROM d),
        |bo AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM l
        |    WHERE length(line) > 0 GROUP BY 1) WHERE nd >= 5)
        |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN bo.line IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_boilerplate,
        |  CAST(sum(CASE WHEN bo.line IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS boilerplate_ppm,
        |  CAST(sum(CASE WHEN bo.line IS NULL THEN length(l.line)
        |    ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM l LEFT JOIN bo ON l.line = bo.line
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_boilerplate_incremental", (s, dir) => {
      import s.implicits._
      // The daily-crawl form of text_boilerplate: docs with
      // doc_id%4 <= 1 are "yesterday" (their line census persisted —
      // 24 B rows, text gone), the rest today's batch. A new doc's
      // boilerplate verdict counts distinct docs across history ∪
      // batch, so the output must equal the full recompute restricted
      // to the new ids — the oracle censuses ALL raw lines and
      // filters the final grouping. Same planted fixture as
      // text_boilerplate. SIDE-EFFECTING (writes the census at
      // construction).
      val docs = Tables.documents(s, dir).select($"doc_id",
        concat(lit("SHARED HEADER\n"), $"text", lit("\n"),
          when($"doc_id" % 2 === 0, lit("EVEN FOOTER\n"))
            .otherwise(lit("")),
          lit("unique "), $"doc_id".cast("string")).as("text"))
      val cdir = tmpPath("blcen", dir)
      graft.llm.TextAnalysis.writeLineCensus(
        docs.filter($"doc_id" % 4 <= 1), "doc_id", "text", cdir)
      graft.llm.TextAnalysis.boilerplateLinesIncremental(
          docs.filter($"doc_id" % 4 >= 2), "doc_id", "text", cdir,
          minDocs = 5)
        .orderBy($"doc_id")
    },
    // the full-census boilerplate verdict restricted to the new
    // (doc_id%4 >= 2) batch — the incremental path must reproduce it
    // without re-censusing history
    Oracle("""WITH d AS (SELECT doc_id,
        |    'SHARED HEADER' || chr(10) || text || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'EVEN FOOTER' || chr(10)
        |      ELSE '' END ||
        |    'unique ' || doc_id AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line FROM d),
        |bo AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM l
        |    WHERE length(line) > 0 GROUP BY 1) WHERE nd >= 5)
        |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN bo.line IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_boilerplate,
        |  CAST(sum(CASE WHEN bo.line IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS boilerplate_ppm,
        |  CAST(sum(CASE WHEN bo.line IS NULL THEN length(l.line)
        |    ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM l LEFT JOIN bo ON l.line = bo.line
        |WHERE l.doc_id % 4 >= 2
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("text_boilerplate_incremental_gate", (s, dir) => {
      import s.implicits._
      // The census-decomposition invariant: incremental(new,
      // census(old)) == full(old ∪ new) restricted to new ids (all
      // five output columns), and append-mode census folding — the
      // appended rows re-aggregated by fingerprint must equal the
      // from-scratch census of the whole corpus row-for-row.
      // SIDE-EFFECTING (writes the census at construction).
      val docs = Tables.documents(s, dir).select($"doc_id",
        concat(lit("SHARED HEADER\n"), $"text", lit("\n"),
          when($"doc_id" % 2 === 0, lit("EVEN FOOTER\n"))
            .otherwise(lit("")),
          lit("unique "), $"doc_id".cast("string")).as("text"))
      val old = docs.filter($"doc_id" % 4 <= 1)
      val nw = docs.filter($"doc_id" % 4 >= 2)
      val cdir = tmpPath("blceng", dir)
      graft.llm.TextAnalysis.writeLineCensus(old, "doc_id", "text", cdir)
      // pin before the append below mutates the dir it reads
      val inc = graft.llm.TextAnalysis.boilerplateLinesIncremental(
        nw, "doc_id", "text", cdir, minDocs = 5).localCheckpoint()
      val full = graft.llm.TextAnalysis.boilerplateLines(
          docs, "doc_id", "text", minDocs = 5)
        .filter($"doc_id" % 4 >= 2)
      graft.llm.TextAnalysis.writeLineCensus(nw, "doc_id", "text",
        cdir, mode = "append")
      val merged = s.read.parquet(cdir)
        .groupBy($"fp", $"fp2").agg(sum($"n_docs").as("n_docs"))
      val fromScratch = graft.llm.TextAnalysis.lineCensus(
        docs, "doc_id", "text")
      inc.agg(count(lit(1)).as("n_inc"))
        .crossJoin(setsEqual(inc, full,
          Seq("doc_id", "n_lines", "n_boilerplate", "boilerplate_ppm",
            "kept_chars"), "agrees"))
        .crossJoin(setsEqual(merged, fromScratch,
          Seq("fp", "fp2", "n_docs"), "census_folds"))
        .select(($"n_inc" > 0).as("nonempty"), $"agrees",
          $"census_folds")
    },
    Oracle(("SELECT true AS nonempty, true AS agrees, " +
        "true AS census_folds")),
    eagerBuild = true),

    QuerySpec("text_census_compaction_gate", (s, dir) => {
      import s.implicits._
      // The census MAINTENANCE story's close: writeLineCensus appends
      // one row per (fingerprint, batch), so after hundreds of crawls
      // every reader re-aggregates a linearly growing table —
      // compactLineCensus re-aggregates ONCE with the verify-then-swap
      // discipline. Pinned: (a) every boilerplate verdict is
      // byte-identical before and after compaction (counts are sums
      // of disjoint batch counts — re-associating them changes
      // nothing); (b) the compacted census is one row per
      // fingerprint; (c) the directory holds fewer files. Two history
      // batches (doc_id%4 == 0 / == 1 — the disjointness the docids
      // sidecar guards) make the re-aggregation real.
      // SIDE-EFFECTING (writes, appends, and compacts the census at
      // construction).
      val docs = Tables.documents(s, dir).select($"doc_id",
        concat(lit("SHARED HEADER\n"), $"text", lit("\n"),
          when($"doc_id" % 2 === 0, lit("EVEN FOOTER\n"))
            .otherwise(lit("")),
          lit("unique "), $"doc_id".cast("string")).as("text"))
      val nw = docs.filter($"doc_id" % 4 >= 2)
      val cdir = tmpPath("blcmp", dir)
      graft.llm.TextAnalysis.writeLineCensus(
        docs.filter($"doc_id" % 4 === 0), "doc_id", "text", cdir)
      graft.llm.TextAnalysis.writeLineCensus(
        docs.filter($"doc_id" % 4 === 1), "doc_id", "text", cdir,
        mode = "append")
      val before = graft.llm.TextAnalysis.boilerplateLinesIncremental(
        nw, "doc_id", "text", cdir, minDocs = 5).localCheckpoint()
      val (filesBefore, filesAfter) =
        graft.llm.TextAnalysis.compactLineCensus(s, cdir)
      val after = graft.llm.TextAnalysis.boilerplateLinesIncremental(
        nw, "doc_id", "text", cdir, minDocs = 5)
      val census = s.read.parquet(cdir)
      before.agg(count(lit(1)).as("n_docs_scored"))
        .crossJoin(setsEqual(before, after,
          Seq("doc_id", "n_lines", "n_boilerplate", "boilerplate_ppm",
            "kept_chars"), "verdicts_identical"))
        .crossJoin(census.agg((count(lit(1)) ===
          count_distinct($"fp", $"fp2")).as("one_row_per_fp")))
        .select(($"n_docs_scored" > 0).as("nonempty"),
          $"verdicts_identical", $"one_row_per_fp",
          lit(filesAfter < filesBefore).as("fewer_files"))
    },
    Oracle(("SELECT true AS nonempty, true AS verdicts_identical, " +
        "true AS one_row_per_fp, true AS fewer_files")),
    eagerBuild = true),

    QuerySpec("text_compression", (s, dir) => {
      import s.implicits._
      // Per-document zlib compression ratio — the Gopher/RedPajama
      // quality signal measured directly (entropy/repetition are its
      // symptoms): boilerplate compresses far below prose, noise
      // barely compresses. Rows-only (no SQL engine replays zlib) —
      // text_compression_gate pins the closed-form extremes.
      graft.llm.TextAnalysis.compressionRatio(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Gate("text_compression_gate"),
    bench = true),

    QuerySpec("text_compression_gate", (s, dir) => {
      import s.implicits._
      // The gate that makes text_compression honest: on synthetic
      // extremes the ratio must separate — a pure 2000-char
      // repetition compresses below 20%, a splitmix-driven hex
      // stream stays above 40%, the ordering holds, and every ratio
      // is positive and bounded (deflate overhead can push a tiny
      // doc slightly past 100%).
      val rep = "ab" * 1000
      val sb = new StringBuilder
      var z = 0x12345678L
      for (_ <- 1 to 2000) {
        z += 0x9E3779B97F4A7C15L
        var w = z; w ^= w >>> 33; w *= 0xFF51AFD7ED558CCDL; w ^= w >>> 29
        sb.append(java.lang.Long.toHexString(w & 0xfL))
      }
      val docs = Seq((1L, rep), (2L, sb.toString)).toDF("doc_id", "text")
      graft.llm.TextAnalysis.compressionRatio(docs, "doc_id", "text")
        .agg(max(when($"doc_id" === 1, $"ratio_ppm")).as("__r1"),
          max(when($"doc_id" === 2, $"ratio_ppm")).as("__r2"),
          min($"ratio_ppm").as("__mn"), max($"ratio_ppm").as("__mx"))
        .select(($"__r1" < 200000L).as("rep_low"),
          ($"__r2" > 400000L).as("noise_high"),
          ($"__r1" < $"__r2").as("ordered"),
          ($"__mn" > 0L && $"__mx" <= 1100000L).as("bounded"))
    },
    Oracle("""SELECT true AS rep_low, true AS noise_high,
        |  true AS ordered, true AS bounded""".stripMargin)),

    QuerySpec("text_keywords", (s, dir) => {
      import s.implicits._
      // Per-doc top-3 keywords by TF-IDF in integer micro-nats
      // (add-one-smoothed idf, term-ascending ties) — every score
      // independently rounded, so the whole ranked cut replays.
      TextAnalysis.keywords(Tables.documents(s, dir), "doc_id", "text",
          k = 3)
        .orderBy($"doc_id", $"rank")
    },
    // per-(doc, term) micro-nat scores rounded independently; the
    // (score desc, tok asc) cut is total so the top-3 replays
    Oracle("""WITH t0 AS (SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM t0 WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf,
        |    CAST(round(tf.tf * ln(CAST(n.n + 1 AS DOUBLE) / (dfr.df + 1))
        |      * 1000000) AS BIGINT) AS score_micros
        |  FROM tf JOIN dfr USING (tok), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micros DESC, tok ASC) AS rn FROM s)
        |SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, score_micros,
        |  CAST(rn AS INT) AS rank
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin),
    bench = true),

    QuerySpec("unigram_tokenize", (s, dir) => {
      import s.implicits._
      // Unigram-LM (SentencePiece-style) Viterbi tokenization — the
      // other real-world tokenizer family next to bpe_tokenize. Raw
      // dump is rows-only by design (the learned vocabulary is not
      // SQL-derivable); unigram_gate holds the hash-matched contract.
      graft.llm.Unigram.encode(Tables.documents(s, dir), "text",
          "doc_id", built.unigram(s, dir))
        .select($"doc_id", $"n_pieces".cast("long").as("n_pieces"),
          concat_ws(" ", slice($"pieces", 1, 8)).as("head_pieces"))
        .orderBy($"doc_id")
    },
    Gate("unigram_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("unigram_gate", (s, dir) => {
      import s.implicits._
      // Driver-graded contracts of the unigram tokenizer: (a)
      // round-trip — pieces concatenate to each document's lowercased
      // whitespace-joined text EXACTLY (char fallback makes every
      // string segmentable, so this is a total identity); (b) with
      // the vocabulary comfortably above the corpus's distinct-word
      // count, EM settles every frequent word as ONE piece, so
      // n_pieces == word count per document; (c) the model stays
      // within its size budget. Anchors replay in DuckDB.
      val docs = Tables.documents(s, dir)
      val m = built.unigram(s, dir)
      val enc = graft.llm.Unigram.encode(docs, "text", "doc_id", m)
      val norm = docs.select($"doc_id",
        array_join(filter(split(lower($"text"), "\\s+"),
          w => length(w) > 0), "").as("word_chars"),
        size(filter(split(lower($"text"), "\\s+"),
          w => length(w) > 0)).cast("long").as("n_words"))
      norm.join(enc, "doc_id")
        .select($"doc_id", $"word_chars", $"n_words", $"n_pieces",
          array_join($"pieces", "").as("piece_chars"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          (sum(when($"piece_chars" === $"word_chars", 0L).otherwise(1L))
            === 0L).as("roundtrip_ok"),
          (sum(when($"n_pieces" === $"n_words", 0L).otherwise(1L))
            === 0L).as("word_pieces_ok"))
        .withColumn("vocab_bounded", lit(m.vocabSize <= 300))
    },
    // anchors replay exactly; the booleans are the trained-model
    // contract (vocabulary itself is not SQL-derivable)
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS roundtrip_ok, TRUE AS word_pieces_ok,
        |  TRUE AS vocab_bounded
        |FROM documents""".stripMargin),
    eagerBuild = true),

    QuerySpec("text_blocklist", (s, dir) => {
      import s.implicits._
      // One-pass Aho-Corasick multi-pattern scan: the match set equals
      // a per-pattern contains disjunction (which IS the oracle) —
      // only the cost differs, one text read vs one per pattern.
      Blocklist.scanBlocklist(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "merge batch", "window table", "zz"))
        .select($"doc_id", concat_ws(",", $"matches").as("matches"),
          $"flagged")
        .orderBy($"doc_id")
    },
    // the automaton's match set IS the contains disjunction — the
    // oracle states the semantics, the engine pays one scan
    Oracle("""SELECT doc_id,
        |  coalesce(array_to_string(list_filter(
        |    ['spark', 'merge batch', 'window table', 'zz'],
        |    p -> contains(text, p)), ','), '') AS matches,
        |  len(list_filter(
        |    ['spark', 'merge batch', 'window table', 'zz'],
        |    p -> contains(text, p))) > 0 AS flagged
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_rrf_fusion", (s, dir) => {
      import s.implicits._
      // Hybrid retrieval: BM25 top-20 fused with a freshness-proxy
      // ranking (n_chars desc) by reciprocal-rank fusion. RRF needs
      // no score calibration — only ranks — and the integer
      // micro-unit contributions make the fused scores AND the fused
      // order replay value-for-value. (The BM25 ⊕ ANN form is
      // spec-exercised; the graded twin keeps both legs
      // SQL-replayable.)
      val docs = Tables.documents(s, dir)
      val wBm = Window.orderBy($"score_micros".desc, $"doc_id")
      val bm = TextAnalysis.bm25Search(docs, "doc_id", "text",
          Seq("hash", "join", "spark"), k = 20)
        .withColumn("rank", row_number().over(wBm))
      val wFresh = Window.orderBy($"n_chars".desc, $"doc_id")
      val fresh = docs.select($"doc_id", $"n_chars")
        .orderBy($"n_chars".desc, $"doc_id").limit(20)
        .withColumn("rank", row_number().over(wFresh))
      Similarity.rrfFuse(Seq(bm.select($"doc_id", $"rank"),
          fresh.select($"doc_id", $"rank")), "doc_id", "rank")
        .orderBy($"fused_rank")
    },
    // both legs SQL-replayable (the BM25 tree is text_bm25's proven
    // mirror); RRF contributions are integer div — exact sums
    Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total
        |       FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |       WHERE tok IN ('hash', 'join', 'spark') GROUP BY 1, 2),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id,
        |    round((ln((CAST(st.n - dfr.df AS DOUBLE) + 0.5)
        |        / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
        |          * (CAST(dl.dl AS DOUBLE)
        |            / (CAST(st.total AS DOUBLE) / CAST(st.n AS DOUBLE))))))
        |      * 1000000) AS sm
        |  FROM tf JOIN dfr USING (tok) JOIN dl USING (doc_id), st),
        |bmtop AS (SELECT doc_id, CAST(sum(sm) AS BIGINT) AS score_micros
        |  FROM s GROUP BY doc_id
        |  ORDER BY score_micros DESC, doc_id LIMIT 20),
        |bm AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY score_micros DESC, doc_id) AS rank FROM bmtop),
        |freshtop AS (SELECT doc_id, n_chars FROM documents
        |  ORDER BY n_chars DESC, doc_id LIMIT 20),
        |fresh AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY n_chars DESC, doc_id) AS rank FROM freshtop),
        |u AS (SELECT doc_id, 1000000 // (60 + rank) AS c FROM bm
        |      UNION ALL SELECT doc_id, 1000000 // (60 + rank) FROM fresh)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micros,
        |  CAST(count(*) AS BIGINT) AS n_lists,
        |  CAST(row_number() OVER (
        |    ORDER BY sum(c) DESC, count(*) DESC, doc_id) AS INT)
        |    AS fused_rank
        |FROM u GROUP BY doc_id ORDER BY fused_rank""".stripMargin),
    bench = true),

    QuerySpec("text_stats", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          length($"text").as("n_chars_calc"),
          size(split($"text", " ")).as("n_tokens"),
          ((length($"text") - size(split($"text", " ")) + 1).cast("double")
            / size(split($"text", " ")).cast("double")).as("avg_token_len"))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, length(text) AS n_chars_calc,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_quality", (s, dir) => {
      import s.implicits._
      val toks = split($"text", " ")
      val nStop = size(expr(
        "filter(split(text, ' '), t -> t IN ('the','a','of','and'))"))
      Tables.documents(s, dir)
        .select($"doc_id", size(toks).as("n_tokens"), nStop.as("n_stop"),
          (nStop.cast("double") / size(toks).cast("double")).as("stop_ratio"))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and'))) AS n_stop,
        |  CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_term_freq", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"term")
        .limit(20)
    },
    Oracle("""SELECT term, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin),
    bench = true),

    QuerySpec("text_lang_dist", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"lang", $"source")
    },
    Oracle("""SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    bench = true),

    QuerySpec("text_gopher_rules", (s, dir) => {
      import s.implicits._
      // Gopher/C4-style rule-pack filter with REASONS: every rule is
      // an integer cross-multiplied predicate, so pass/fail and the
      // rule-ordered `failed` array replay exactly in DuckDB.
      // failed[] scalarizes to a comma string: raw array columns
      // crash the driver's pandas sort (agg_collect_list precedent)
      // Tables.wide: per-doc token/char census map work (r21 A/B: +0.89 s)
      TextAnalysis.gopherRules(Tables.wide(Tables.documents(s, dir)),
        "text", "doc_id")
        .select($"doc_id", $"n_words",
          concat_ws(",", $"failed").as("failed"), $"keep")
        .orderBy($"doc_id")
    },
    // every rule is an integer cross-multiplication over exact counts;
    // the failed array is assembled in the same fixed rule order
    Oracle("""WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks,
        |      t -> CAST(len(t) AS BIGINT))), 0) AS BIGINT) AS stc,
        |    CAST(len(text) AS BIGINT) AS n_chars,
        |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]',
        |      '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]',
        |      '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(len(list_intersect(
        |      list_distinct(list_filter(string_split_regex(lower(text),
        |        '\s+'), x -> x <> '')),
        |      ['the','and','of','to','a','in','is','that','it','for']))
        |      AS BIGINT) AS n_stop
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n_words,
        |    (n_words >= 5 AND n_words <= 100000) AS r_wc,
        |    (2 * n_words <= stc AND stc <= 10 * n_words) AS r_mwl,
        |    (10 * n_sym <= n_chars) AS r_sym,
        |    (5 * n_digit <= n_chars) AS r_dig,
        |    (n_stop >= 2) AS r_stop
        |  FROM m)
        |SELECT doc_id, n_words,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN NOT r_wc THEN 'word_count' END,
        |    CASE WHEN NOT r_mwl THEN 'mean_word_len' END,
        |    CASE WHEN NOT r_sym THEN 'symbol_ratio' END,
        |    CASE WHEN NOT r_dig THEN 'digit_ratio' END,
        |    CASE WHEN NOT r_stop THEN 'stopwords' END],
        |    x -> x IS NOT NULL), ','), '') AS failed,
        |  (r_wc AND r_mwl AND r_sym AND r_dig AND r_stop) AS keep
        |FROM r ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_collocations", (s, dir) => {
      import s.implicits._
      // PMI collocation mining over adjacent token pairs, micro-nat
      // quantized (the unigram-NLL convention): counts are exact
      // integers, the log's operand is a ratio of exact integers, so
      // the top-100 and every score replay value-for-value.
      TextAnalysis.collocations(Tables.documents(s, dir), "text",
          minCount = 5)
        .orderBy($"pmi_micros".desc, $"w1", $"w2")
        .limit(100)
    },
    // bigram assembly as in text_bigram_nll; PMI's log takes a ratio
    // of exact integer products, micro-nat rounded — value-for-value
    Oracle("""WITH t AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[CAST(i AS INT) + 1],
        |                     w2 := toks[CAST(i AS INT) + 2]))) AS bg
        |  FROM t),
        |b AS MATERIALIZED (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bi),
        |pair AS (SELECT w1, w2, count(*) AS np FROM b GROUP BY 1, 2),
        |l AS (SELECT w1, count(*) AS cl FROM b GROUP BY 1),
        |r AS (SELECT w2, count(*) AS cr FROM b GROUP BY 1),
        |n AS (SELECT count(*) AS nb FROM b)
        |SELECT w1, w2, CAST(np AS BIGINT) AS n_pair,
        |  CAST(round(ln(CAST(np * nb AS DOUBLE) /
        |    CAST(cl * cr AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micros
        |FROM pair JOIN l USING (w1) JOIN r USING (w2), n
        |WHERE np >= 5
        |ORDER BY pmi_micros DESC, w1, w2 LIMIT 100""".stripMargin),
    bench = true),

    QuerySpec("text_textrank", (s, dir) => {
      import s.implicits._
      // TextRank keyword extraction (Mihalcea-Tarau 2004): integer
      // PageRank over the adjacent-token collocation graph (pairs
      // seen >= 5 times, symmetrized) — corpus-level salient terms
      // from graph centrality rather than TF-IDF counts. Both pieces
      // replay value-for-value: the bigram graph is text_collocations'
      // edge set, the 5-iteration integral recurrence is
      // graph_pagerank's. Top-30 by (rank, word) is a total cut.
      val pairs = TextAnalysis.collocations(Tables.documents(s, dir),
          "text", minCount = 5)
        .filter($"w1" =!= $"w2")
        .select($"w1", $"w2")
      val edges = pairs
        .union(pairs.select($"w2".as("w1"), $"w1".as("w2"))).distinct()
      graft.operators.Graph.pageRank(edges, "w1", "w2", iters = 5)
        .orderBy($"rank_ppb".desc, $"node").limit(30)
    },
    // text_collocations' edge set feeding graph_pagerank's unrolled
    // integral recurrence — both proven replay patterns composed
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
      s"""WITH t AS (
         |  SELECT list_filter(string_split_regex(text, '\\s+'),
         |    x -> x <> '') AS toks
         |  FROM documents),
         |bi AS (
         |  SELECT unnest(list_transform(
         |    range(0, greatest(len(toks) - 1, 0)),
         |    i -> struct_pack(w1 := toks[CAST(i AS INT) + 1],
         |                     w2 := toks[CAST(i AS INT) + 2]))) AS bg
         |  FROM t),
         |b AS MATERIALIZED (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bi),
         |pair AS (SELECT w1, w2 FROM b GROUP BY 1, 2
         |  HAVING count(*) >= 5),
         |p2 AS (SELECT w1, w2 FROM pair WHERE w1 <> w2),
         |edges AS MATERIALIZED (SELECT w1 AS src, w2 AS dst FROM p2
         |  UNION SELECT w2 AS src, w1 AS dst FROM p2),
         |outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_ppb
         |       FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank_ppb FROM r5
         |ORDER BY rank_ppb DESC, node LIMIT 30""".stripMargin
    },
    bench = true, eagerBuild = true),

    QuerySpec("pack_sequences", (s, dir) => {
      import s.implicits._
      // SIDE-EFFECTING (prefix-sum subtotal pass runs eagerly).
      // Concat-and-chunk packing index at seqLen=512: one row per
      // (doc x training sequence it intersects) with in-doc and
      // in-sequence offsets. Pure function of the data — the oracle
      // replays it from the window running sum + series explode.
      val docs = Tables.documents(s, dir).select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tok"))
      Scale.packSequences(docs, "doc_id", "n_tok", seqLen = 512L)
        .select($"doc_id", $"seq_id", $"doc_off", $"seq_off", $"chunk_len")
        .orderBy($"doc_id", $"seq_id")
    },
    // Replays packSequences closed-form: exclusive running sum in
    // doc_id order -> each doc spans [start, start+n) -> explode the
    // 512-token sequence windows it intersects, offsets by arithmetic.
    Oracle("""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM d WHERE n_tok > 0),
        |e AS (
        |  SELECT doc_id, n_tok, st,
        |    unnest(generate_series(st // 512, (st + n_tok - 1) // 512)) AS seq_id
        |  FROM c)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(seq_id * 512 - st, 0) AS BIGINT) AS doc_off,
        |  CAST(greatest(st - seq_id * 512, 0) AS BIGINT) AS seq_off,
        |  CAST(least((seq_id + 1) * 512, st + n_tok)
        |    - greatest(seq_id * 512, st) AS BIGINT) AS chunk_len
        |FROM e ORDER BY doc_id, seq_id""".stripMargin),
    eagerBuild = true),

    QuerySpec("text_langid", (s, dir) => {
      import s.implicits._
      // raw double score (no round): the score is deterministic IEEE
      // division over exact ints, bit-identical in the DuckDB oracle
      TextAnalysis.langId(Tables.documents(s, dir), "text")
        .select($"doc_id", $"lang_pred", $"lang_score")
        .orderBy($"doc_id")
    },
    // replicates TextAnalysis.langId: per-language stopword-hit ratio,
    // argmax with ties broken toward the lexicographically greatest
    // lang (Spark's greatest() over (score, lang) structs)
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','eine','zu','den','von'))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','los','de','y','un','una','es','que','por'))) AS DOUBLE) / greatest(len(toks), 1) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |       WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  greatest(s_de, s_en, s_es, s_fr) AS lang_score
        |FROM s ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_token_counts", (s, dir) => {
      import s.implicits._
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "text")
        .select($"doc_id", $"n_ws_tokens", $"n_bpe_chunks", $"n_tokens_est")
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_chunks,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS INT) AS n_tokens_est
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("bpe_tokenize", (s, dir) => {
      import s.implicits._
      // Real BPE tokenization (trained on this corpus, model cached
      // per dir): one row per doc with the token count and a token-
      // stream fingerprint (md5 over a -joined token list — no
      // raw array columns in dump output, per oracle conventions).
      // No SQL oracle can replay a learned tokenizer, so this is
      // rows-only; bpe_gate is the hash-matched companion that pins
      // round-trip, bounds, and compression on the same model.
      // Tables.wide: per-doc merge-loop encode is heavy per byte
      // (r21 A/B: +0.40 s win)
      graft.llm.Bpe.encode(Tables.wide(Tables.documents(s, dir)),
          "text", "doc_id", built.bpe(s, dir))
        .select($"doc_id", $"n_tokens",
          md5(concat_ws("", $"tokens").cast("binary")).as("tokens_md5"))
        .orderBy($"doc_id")
    },
    Gate("bpe_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("bpe_gate", (s, dir) => {
      import s.implicits._
      // Driver-graded contracts of the learned tokenizer, all decided
      // inside the plan: (a) round-trip — stripping </w> markers and
      // concatenating tokens reconstructs every document's lowercased
      // whitespace words; (b) bounds — every word is >= 1 and <= |w|+1
      // tokens; (c) compression — 200 merges tokenize the training
      // corpus strictly below character count (the point of BPE). The
      // doc/word-count anchors are DuckDB-replayed exactly.
      val enc = graft.llm.Bpe.encode(Tables.documents(s, dir), "text",
        "doc_id", built.bpe(s, dir))
      // word_chars is stated in the tokenizer's ESCAPED symbol space
      // (NUL -> SOH'0', SOH -> SOH SOH) so the comparison is exact even
      // on corpora containing the escape/marker chars; identity on this
      // ASCII fixture. Escape direction is safe as plain replaces
      // (escape SOH first, then NUL).
      def escaped(c: Column): Column =
        replace(replace(c, lit("\u0001"), lit("\u0001\u0001")),
          lit("\u0000"), lit("\u00010"))
      val src = Tables.documents(s, dir).select($"doc_id",
        escaped(array_join(filter(split(lower($"text"), "\\s+"),
          w => length(w) > 0), "")).as("word_chars"),
        size(filter(split(lower($"text"), "\\s+"),
          w => length(w) > 0)).cast("long").as("n_words"))
      enc.select($"doc_id", $"n_tokens".cast("long").as("n_tokens"),
          array_join(transform($"tokens",
            t => replace(t, lit(graft.llm.Bpe.EndOfWord), lit(""))), "")
            .as("tok_chars"),
          size(filter($"tokens",
            t => t.endsWith(graft.llm.Bpe.EndOfWord))).cast("long")
            .as("n_terminal"))
        .join(src, "doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum($"n_words").cast("bigint").as("n_words_total"),
          min($"tok_chars" === $"word_chars" && $"n_terminal" === $"n_words")
            .as("roundtrip_ok"),
          min($"n_tokens" >= $"n_words" &&
            $"n_tokens" <= length($"word_chars") + $"n_words").as("bounds_ok"),
          (sum($"n_tokens") < sum(length($"word_chars") + $"n_words"))
            .as("compressed"))
    },
    // the tokenizer itself is learned (no SQL replay); the gate's
    // anchors are exact and its contracts are in-plan booleans
    Oracle("""WITH w AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0)) AS n_words
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_words_total,
        |  true AS roundtrip_ok, true AS bounds_ok, true AS compressed
        |FROM w""".stripMargin),
    eagerBuild = true),

    QuerySpec("bpe_byte_fallback_gate", (s, dir) => {
      import s.implicits._
      // Lossless-ids contract (GPT-2 byte fallback): every doc is
      // salted with characters the trained alphabet cannot contain —
      // accented é, literal NUL/SOH/'<' (the marker/escape chars), an
      // astral 𝄞 — then encodeToIds→decodeIds must reconstruct the
      // whitespace-normalized lowercased source EXACTLY, with zero
      // UnkId occurrences and every id inside [0, vocab+256). The
      // oracle states the closed form (all three booleans true).
      val model = built.bpe(s, dir)
      val salted = Tables.documents(s, dir).select($"doc_id",
        concat($"text", lit(" \u00e9x\u0000t<\u0001ra 𝄞q"))
          .as("text"))
      val ids = graft.llm.Bpe.encodeToIds(salted, "text", "doc_id", model)
      val dec = graft.llm.Bpe.decodeIds(ids, "token_ids", "doc_id", model)
      val src = salted.select($"doc_id",
        array_join(filter(split(lower($"text"), "\\s+"),
          w => length(w) > 0), " ").as("norm"))
      ids.join(dec, "doc_id").join(src, "doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min(!array_contains($"token_ids", lit(graft.llm.Bpe.UnkId)))
            .as("zero_unk"),
          min($"token_ids" ===
            filter($"token_ids", i => i >= 0 &&
              i < lit(graft.llm.Bpe.idSpaceSize(model)))).as("ids_in_range"),
          min($"decoded" === $"norm").as("roundtrip_ok"))
    },
    // closed form of the byte-fallback contract: with OOV-salted docs
    // the ids must stay in range with zero UnkId and decode must be
    // the exact whitespace-normalized lowercased source
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS zero_unk, true AS ids_in_range, true AS roundtrip_ok
        |FROM documents""".stripMargin),
    eagerBuild = true),

    QuerySpec("text_normalize", (s, dir) => {
      import s.implicits._
      // Unicode hygiene ahead of dedup keys. The fixture corpus is
      // pure ASCII (verified — already NFC), so the query plants
      // codepoint-variant suffixes: odd docs get DECOMPOSED
      // e+U+0301 plus a zero-width space, even docs the composed
      // U+00E9. normalize_text (strip → NFC → casefold) must converge
      // both to identical bytes; DuckDB's nfc_normalize replays it.
      val suffix = when(pmod($"doc_id", lit(2)) === 1,
        lit("Cafe\u0301\u200B")).otherwise(lit("Caf\u00E9"))
      Tables.documents(s, dir)
        .select($"doc_id", concat($"text", suffix).as("raw"))
        .select($"doc_id",
          graft.functions.normalize_text($"raw", caseFold = true).as("text_norm"))
        .withColumn("n_chars", length($"text_norm"))
        .orderBy($"doc_id")
    },
    // replays normalize_text's strip → NFC → casefold order exactly;
    // chr(769)=U+0301 combining acute, chr(8203..8205)+chr(65279) are
    // the zero-width/format class, chr(233)=é composed
    Oracle("""SELECT doc_id,
        |  lower(nfc_normalize(regexp_replace(
        |    text || CASE WHEN doc_id % 2 = 1
        |      THEN 'Cafe' || chr(769) || chr(8203)
        |      ELSE 'Caf' || chr(233) END,
        |    '[' || chr(8203) || '-' || chr(8205) || chr(65279) || ']',
        |    '', 'g'))) AS text_norm,
        |  CAST(length(lower(nfc_normalize(regexp_replace(
        |    text || CASE WHEN doc_id % 2 = 1
        |      THEN 'Cafe' || chr(769) || chr(8203)
        |      ELSE 'Caf' || chr(233) END,
        |    '[' || chr(8203) || '-' || chr(8205) || chr(65279) || ']',
        |    '', 'g')))) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_quality_score", (s, dir) => {
      import s.implicits._
      TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .select($"doc_id", $"quality_score", $"stop_ratio",
          $"digit_ratio", $"punct_ratio")
        .orderBy($"doc_id")
    },
    // replicates TextAnalysis.qualityScore term by term, same
    // association order → bit-identical doubles
    Oracle("""WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(greatest(len(string_split_regex(text, '\s+')), 1) AS DOUBLE) AS n_toks,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    n_stop / n_toks AS stop_ratio,
        |    (n_chars - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(n_chars, 1.0) AS digit_ratio,
        |    (n_chars - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) / greatest(n_chars, 1.0) AS punct_ratio,
        |    least(n_chars / 200.0, 1.0) AS len_score
        |  FROM b)
        |SELECT doc_id,
        |  greatest(0.0, least(1.0,
        |    len_score * (1.0 - digit_ratio) * (1.0 - punct_ratio) * (0.5 + stop_ratio))) AS quality_score,
        |  stop_ratio, digit_ratio, punct_ratio
        |FROM r ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_entropy", (s, dir) => {
      import s.implicits._
      // Character-class Shannon entropy per doc (codegen'd one-pass
      // expression): per-class micro-nat terms rounded independently
      // then integer-summed — order-free, so DuckDB's per-char unnest
      // replays every value. Low = char floods; high = base64 noise;
      // both tails carry curation signal.
      Tables.documents(s, dir)
        .select($"doc_id",
          coalesce(length($"text"), lit(0)).cast("bigint").as("n_chars"),
          coalesce(graft.functions.char_entropy($"text"), lit(0L))
            .as("h_sum_micros"))
        .withColumn("ent_per_char_micros",
          when($"n_chars" > 0,
            round($"h_sum_micros".cast("double") / $"n_chars".cast("double"))
              .cast("long")).otherwise(0L))
        .orderBy($"doc_id")
    },
    // per-char-class micro-nat terms rounded independently then
    // integer-summed — order-free, so the unnest replay matches the
    // one-pass expression value-for-value
    Oracle("""WITH ch AS (SELECT doc_id,
        |    unnest(string_split_regex(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch
        |  WHERE c <> '' GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars
        |  FROM cnt GROUP BY 1),
        |h AS (SELECT cnt.doc_id,
        |    CAST(sum(CAST(round(n * ln(CAST(n_chars AS DOUBLE) / n)
        |      * 1000000) AS BIGINT)) AS BIGINT) AS h_sum_micros
        |  FROM cnt JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(tot.n_chars, 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce(h.h_sum_micros, 0) AS BIGINT) AS h_sum_micros,
        |  CASE WHEN coalesce(tot.n_chars, 0) > 0
        |    THEN CAST(round(CAST(h.h_sum_micros AS DOUBLE) / tot.n_chars)
        |      AS BIGINT) ELSE 0 END AS ent_per_char_micros
        |FROM documents d LEFT JOIN tot USING (doc_id)
        |  LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_readability", (s, dir) => {
      import s.implicits._
      // Flesch-Kincaid grade + reading ease per doc: regex-exact
      // word/sentence/vowel-run counts, one mirrored IEEE tree,
      // micro-quantized — row-local and engine-replayable.
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    // regex-exact counts; the FK/ease trees mirrored left-associated
    Oracle("""SELECT doc_id,
        |  CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences,
        |  CAST(y AS BIGINT) AS n_syllables,
        |  CAST(round((0.39 * (CAST(w AS DOUBLE) / s)
        |    + 11.8 * (CAST(y AS DOUBLE) / w) - 15.59) * 1000000)
        |    AS BIGINT) AS fk_grade_micros,
        |  CAST(round((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |    - 84.6 * (CAST(y AS DOUBLE) / w)) * 1000000)
        |    AS BIGINT) AS reading_ease_micros
        |FROM (SELECT doc_id,
        |    greatest(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')), 1) AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
        |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
        |      AS y
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_zipf", (s, dir) => {
      import s.implicits._
      // Zipf slope of the corpus rank-frequency curve over the top
      // 1000 terms: per-term ln(rank)/ln(f) micro-quantized, OLS
      // moments as exact DECIMAL integers, one IEEE division.
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", topN = 1000)
    },
    // per-term micro-quantized log points, HUGEINT OLS moments, one
    // double division — the CUPED moment discipline
    Oracle("""WITH t0 AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS f FROM t0 WHERE tok <> ''
        |  GROUP BY 1 ORDER BY f DESC, tok LIMIT 1000),
        |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
        |  FROM f),
        |xy AS (SELECT
        |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM r),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT n AS n_terms,
        |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
        |    AS slope_micros
        |FROM m""".stripMargin),
    bench = true),

    QuerySpec("text_unigram_nll", (s, dir) => {
      import s.implicits._
      // Unigram-LM NLL quality signal: per-doc sum of -ln p(token)
      // under the corpus's own unigram model, quantized to micro-nats
      // so the sum is order-independent and DuckDB-replayable.
      // Perplexity = exp(nll_micros/1e6/n_tok) downstream.
      TextAnalysis.unigramNll(Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    // Exact replay of the micro-nat-quantized unigram NLL: same
    // tokens, same corpus frequencies, same per-token rounding
    Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |v AS (SELECT tok, count(*) AS f FROM t GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(-round(ln(CAST(f AS DOUBLE) / n) * 1000000))
        |    AS BIGINT) AS nll_micros
        |FROM t JOIN v USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_bigram_nll", (s, dir) => {
      import s.implicits._
      // Bigram-LM NLL with add-one smoothing: the context-aware
      // quality signal (word-salad has common WORDS but rare
      // TRANSITIONS). Micro-nat integers keep the per-doc sums
      // order-independent and DuckDB-replayable bit-for-bit.
      TextAnalysis.bigramNll(Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    // same tokenizer, same add-one arithmetic, same micro-nat
    // quantization — the per-doc sums are bit-identical
    Oracle("""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[CAST(i AS INT) + 1],
        |                     w2 := toks[CAST(i AS INT) + 2]))) AS bg
        |  FROM t),
        |b AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bi),
        |toks AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |ctx AS (SELECT tok AS w1, count(*) AS c1 FROM toks
        |        WHERE tok <> '' GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM ctx),
        |pair AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(-round(ln(CAST(c2 + 1 AS DOUBLE) / (c1 + vs))
        |    * 1000000)) AS BIGINT) AS bnll_micros
        |FROM b JOIN pair USING (w1, w2) JOIN ctx USING (w1), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec("text_bm25", (s, dir) => {
      import s.implicits._
      // Okapi BM25 lexical search over the corpus for the 3-term query
      // "hash join spark" — top-20 by integer micro-unit score. The
      // oracle mirrors the arithmetic tree token for token, so the
      // scores AND the ranking cut hash-match.
      TextAnalysis.bm25Search(Tables.documents(s, dir), "doc_id", "text",
        Seq("hash", "join", "spark"), k = 20)
    },
    // BM25 with the arithmetic tree mirrored exactly (same association,
    // same cast points); per-(doc,term) micro-units make the sum
    // order-independent, so ranking and scores replay value-for-value
    Oracle(bm25OracleSql),
    bench = true),

    QuerySpec("text_bm25_indexed", (s, dir) => {
      import s.implicits._
      // The SAME search through the PERSISTED inverted index + doc
      // stats sidecar (build-once via `built`, probe-many): the term
      // isin pushes to the sorted postings parquet, text is never
      // read, and the shared scorer tail makes the scores identical —
      // graded against the SAME oracle SQL as text_bm25, which is the
      // whole point.
      TextAnalysis.bm25SearchIndexed(s, built.bm25Index(s, dir),
        "doc_id", Seq("hash", "join", "spark"), k = 20)
    },
    // the indexed path is graded against the SAME corpus-defined
    // result as the ad-hoc scan — the index is an access path, not a
    // different answer
    Oracle(bm25OracleSql),
    bench = true, eagerBuild = true),

    QuerySpec("text_bm25_batch", (s, dir) => {
      import s.implicits._
      // BATCH retrieval: three queries answered in one pass over the
      // persisted index — shared df, one pushed term filter, per-qid
      // parallel top-k. Same micro-unit scores as the single-query
      // path.
      val q = Seq((1L, "hash"), (1L, "join"), (1L, "spark"),
        (2L, "data"), (2L, "query"), (3L, "spark"), (3L, "data"))
        .toDF("qid", "term")
      TextAnalysis.bm25SearchIndexedBatch(s, built.bm25Index(s, dir),
          "doc_id", q, k = 10)
        .orderBy($"qid", $"rank")
    },
    // batch retrieval: shared corpus-level df, per-(qid,doc,term)
    // micro scores, per-qid (score desc, doc asc) top-10
    Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total
        |       FROM dl),
        |q AS (SELECT * FROM (VALUES (1, 'hash'), (1, 'join'),
        |    (1, 'spark'), (2, 'data'), (2, 'query'), (3, 'spark'),
        |    (3, 'data')) AS q(qid, term)),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |       WHERE tok IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT q.qid, tf.doc_id,
        |    round((ln((CAST(st.n - dfr.df AS DOUBLE) + 0.5)
        |        / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
        |          * (CAST(dl.dl AS DOUBLE)
        |            / (CAST(st.total AS DOUBLE) / CAST(st.n AS DOUBLE))))))
        |      * 1000000) AS sm
        |  FROM tf JOIN dfr USING (tok) JOIN q ON q.term = tf.tok
        |    JOIN dl USING (doc_id), st),
        |g AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        |    CAST(sum(sm) AS BIGINT) AS score_micros FROM s GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY score_micros DESC, doc_id) AS rn FROM g)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, n_terms_hit,
        |  score_micros, CAST(rn AS INT) AS rank
        |FROM r WHERE rn <= 10 ORDER BY qid, rank""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("text_bm25_index_append_gate", (s, dir) => {
      import s.implicits._
      // Append-parity gate for the persisted lexical index: build on
      // two-thirds of the corpus, APPEND the remaining third (the
      // daily-crawl loop), and the appended index must answer the
      // standard query identically to the ad-hoc corpus-scan search —
      // scores included (shared scorer + totals derived from the
      // __docs sidecar make append self-consistent). Also pins the
      // duplicate-id append guard (re-appending would double-count
      // tf). SIDE-EFFECTING (writes the index at construction).
      val docs = Tables.documents(s, dir)
      val idx = tmpPath("bm25a", dir)
      TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" % 3 =!= 0),
        "doc_id", "text", idx)
      TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" % 3 === 0),
        "doc_id", "text", idx, mode = "append")
      val dupRejected = scala.util.Try(
        TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text", idx, mode = "append")).isFailure
      val q = Seq("hash", "join", "spark")
      val viaIndex = TextAnalysis.bm25SearchIndexed(s, idx, "doc_id", q)
      val adhoc = TextAnalysis.bm25Search(docs, "doc_id", "text", q)
      adhoc.agg((count(lit(1)) > 0).as("nonempty"))
        .crossJoin(setsEqual(viaIndex, adhoc,
          Seq("doc_id", "n_terms_hit", "score_micros"),
          "append_equals_adhoc"))
        .select($"nonempty", $"append_equals_adhoc",
          lit(dupRejected).as("dup_append_rejected"))
    },
    // index-vs-scan equality (scores included) is pinned in-plan;
    // booleans only
    Oracle("""SELECT true AS nonempty, true AS append_equals_adhoc,
        |  true AS dup_append_rejected""".stripMargin),
    eagerBuild = true),

    QuerySpec("dsir_select", (s, dir) => {
      import s.implicits._
      // DSIR curation (Xie et al. 2023): score every pool document by
      // the add-one-smoothed unigram log-likelihood ratio against the
      // English-labeled slice as target, keep the 50 most target-like.
      // Micro-nat integer quantization makes every weight — and so the
      // top-50 cut itself — replayable value-for-value in DuckDB.
      val docs = Tables.documents(s, dir)
      graft.llm.Dsir.selectTopK(docs, docs.filter($"lang" === "en"),
        "doc_id", "text", k = 50)
    },
    // DSIR log-likelihood-ratio weights replayed token for token: each
    // model's add-one log-prob rounds to micro-nats separately (the
    // unigramNll-proven shape), the difference is exact integers, and
    // the top-50 cut (ties by doc_id) falls identically on both engines
    Oracle("""WITH rt AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |r AS (SELECT doc_id, tok FROM rt WHERE tok <> ''),
        |tt AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |t AS (SELECT tok FROM tt WHERE tok <> ''),
        |cr AS (SELECT tok, count(*) AS cr FROM r GROUP BY 1),
        |ct AS (SELECT tok, count(*) AS ct FROM t GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v
        |      FROM (SELECT tok FROM cr UNION SELECT tok FROM ct)),
        |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr FROM cr),
        |nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM ct),
        |s AS (
        |  SELECT cr.tok,
        |    round(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) / (nt.nt + v.v))
        |      * 1000000)
        |    - round(ln(CAST(cr.cr + 1 AS DOUBLE) / (nr.nr + v.v))
        |      * 1000000) AS lr
        |  FROM cr LEFT JOIN ct USING (tok), v, nr, nt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(lr) AS BIGINT) AS dsir_micros
        |FROM r JOIN s USING (tok)
        |GROUP BY doc_id
        |ORDER BY dsir_micros DESC, doc_id
        |LIMIT 50""".stripMargin),
    bench = true),

    QuerySpec("dsir_resample_gate", (s, dir) => {
      import s.implicits._
      // The paper's actual RESAMPLING arm: seeded Gumbel-top-k draw
      // over the same weights. Deterministic (hash noise), so the gate
      // pins the contract: k rows drawn from the pool, the draw is
      // target-tilted (selected mean weight above the pool mean), and
      // near-zero temperature recovers the greedy ranking's weight
      // mass to within the noise span (Gumbel noise spans ~40 units =
      // 40 micro-nats at T=1, so ≤50 boundary flips cost ≤2000
      // micro-nats of sum — 0.002 nats). No SQL oracle can replay the
      // hash noise — the weights themselves are graded by dsir_select.
      val docs = Tables.documents(s, dir)
      val target = docs.filter($"lang" === "en")
      val w = graft.llm.Dsir.importanceWeights(docs, target, "doc_id", "text")
        .cache()
      val drawn = graft.llm.Dsir.resampleGumbel(docs, target, "doc_id", "text",
        k = 50, temperatureMicros = 200000L)
      val poolMean = w.agg(avg($"dsir_micros")).as[Double].head()
      val drawnRows = drawn.select($"doc_id", $"dsir_micros").collect()
      val poolIds = w.select($"doc_id").as[Long].collect().toSet
      val greedy = graft.llm.Dsir.resampleGumbel(docs, target, "doc_id", "text",
          k = 50, temperatureMicros = 1L)
        .agg(sum($"dsir_micros")).as[Long].head()
      val greedyTop = graft.llm.Dsir.selectTopK(docs, target, "doc_id", "text", 50)
        .agg(sum($"dsir_micros")).as[Long].head()
      w.unpersist()
      Seq((
        drawnRows.length == 50,
        drawnRows.forall(r => poolIds.contains(r.getLong(0))),
        drawnRows.map(_.getLong(1)).sum.toDouble / 50 > poolMean,
        greedyTop >= greedy && greedyTop - greedy <= 2000L
      )).toDF("k_drawn", "from_pool", "target_tilted", "cold_is_greedy")
    },
    Oracle("""SELECT true AS k_drawn, true AS from_pool,
        |  true AS target_tilted, true AS cold_is_greedy""".stripMargin),
    eagerBuild = true),

    QuerySpec("text_redact", (s, dir) => {
      import s.implicits._
      // PII scrub over the corpus; md5 of the redacted text keeps the
      // dump row narrow while still pinning every replaced character
      TextAnalysis.redactPii(Tables.documents(s, dir), "text")
        .select($"doc_id", md5($"text_redacted".cast("binary")).as("redacted_md5"),
          $"n_email", $"n_phone", $"n_ip")
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |    '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<phone>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<ip>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_chunk", (s, dir) => {
      import s.implicits._
      // 64-token windows, 16-token overlap — context-window prep
      TextAnalysis.chunk(Tables.documents(s, dir), "text", "doc_id",
          chunkTokens = 64, overlap = 16)
        .orderBy($"doc_id", $"chunk_no")
    },
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |n AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    greatest(CAST(ceil((len(toks) - 16) / 48.0) AS INT), 1) AS nc FROM t),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_no FROM n)
        |SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
        |  array_to_string(list_slice(toks, chunk_no * 48 + 1,
        |    least(chunk_no * 48 + 64, n)), ' ') AS chunk_text,
        |  CAST(least(64, n - chunk_no * 48) AS INT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin),
    bench = true),

    QuerySpec("decontaminate_bloom_gate", (s, dir) => {
      import s.implicits._
      // Bloom-probe decontamination vs the exact broadcast join on the
      // same split: Bloom must flag a superset (no false negatives —
      // a truly shared gram always probes true) with false-positive
      // flags bounded by the sketch sizing (≤ 1% of docs here, vast
      // margin for a 2^23-bit sketch over ~3k benchmark grams).
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter($"doc_id" % 97 =!= 0)
      val bench = docs.filter($"doc_id" % 97 === 0)
      val exact = graft.llm.Decontaminate.flag(corpus, bench, "text", "doc_id", n = 4)
        .select($"doc_id", $"contaminated".as("c_exact"))
      val bloom = graft.llm.Decontaminate.flagBloom(corpus, bench, "text", "doc_id", n = 4)
        .select($"doc_id", $"contaminated".as("c_bloom"))
      exact.join(bloom, "doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min(!$"c_exact" || $"c_bloom").as("no_false_neg"),
          (sum(when($"c_bloom" && !$"c_exact", 1L).otherwise(0L))
            <= ceil(count(lit(1)) * 0.01)).as("fp_bounded"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS no_false_neg,
        |  true AS fp_bounded FROM documents WHERE doc_id % 97 <> 0""".stripMargin),
    eagerBuild = true),

    QuerySpec("text_repetition", (s, dir) => {
      import s.implicits._
      // Gopher-style repetition signals, value-matched by the oracle
      // (each fraction is one IEEE division of exact ints)
      TextAnalysis.repetitionScore(Tables.documents(s, dir), "text")
        .select($"doc_id", $"dup_token_frac", $"top_bigram_frac",
          $"dup_trigram_frac")
        .orderBy($"doc_id")
    },
    // replicates TextAnalysis.repetitionScore: every fraction is one
    // int/int division in both engines → bit-identical doubles
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) >= 2 THEN list_transform(range(0, len(toks) - 1),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 2), ' '))
        |      ELSE [] END AS g2,
        |    CASE WHEN len(toks) >= 3 THEN list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 3), ' '))
        |      ELSE [] END AS g3
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN n > 0 THEN CAST(n - len(list_distinct(toks)) AS DOUBLE) / CAST(n AS DOUBLE)
        |       ELSE 0.0 END AS dup_token_frac,
        |  CASE WHEN len(g2) > 0 THEN
        |    CAST(list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
        |      / CAST(len(g2) AS DOUBLE)
        |       ELSE 0.0 END AS top_bigram_frac,
        |  CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
        |       ELSE 0.0 END AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("decontaminate", (s, dir) => {
      import s.implicits._
      // benchmark-overlap decontamination: every 97th doc stands in for
      // the eval set; the rest is the training corpus. n=4 token-grams
      // here (the operator default is the GPT-3-style 13-gram — on this
      // synthetic soup fixture 4 is the length where overlap exists:
      // 8 contaminated docs at sf0.01). Oracle recomputes the grams and
      // the overlap from scratch in DuckDB.
      val docs = Tables.documents(s, dir)
      graft.llm.Decontaminate.flag(
          docs.filter($"doc_id" % 97 =!= 0),
          docs.filter($"doc_id" % 97 === 0),
          "text", "doc_id", n = 4)
        .orderBy($"doc_id")
    },
    // replicates Decontaminate.flag at n=4 over the %97 benchmark split
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 4 THEN
        |    list_distinct(list_transform(range(0, len(toks) - 3),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 4), ' ')))
        |    ELSE [] END AS grams
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hits FROM corp
        |  WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("decontaminate_semantic", (s, dir) => {
      import s.implicits._
      // Semantic decontamination: benchmark = every 11th embedding,
      // corpus = the rest; flag corpus vectors within cosine >= 0.35
      // of any benchmark item via the IVF range probe (paraphrase
      // contamination no 13-gram check can see). Rows-only (seeded
      // KMeans); one-sided + recall contracts in the gate.
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val corpus = emb.filter($"vec_id" % 11 =!= 0)
      val bench = emb.filter($"vec_id" % 11 === 0)
      val nlist = Similarity.ivfAutoNlist(corpus.count())
      graft.llm.Decontaminate.flagSemantic(corpus, bench, "embedding",
          "vec_id", minCosineMicros = 350000L, nlist = nlist,
          nprobe = Similarity.ivfAutoNprobe(nlist))
        .orderBy($"vec_id")
    },
    Gate("decontaminate_semantic_gate"),
    bench = true, eagerBuild = true),

    QuerySpec("decontaminate_semantic_gate", (s, dir) => {
      import s.implicits._
      // Contracts vs the exact brute-force range set: flags are a
      // SUBSET of the truth (one-sided — the probe can only miss),
      // recall >= 0.6 over truly-contaminated docs, truth non-empty.
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val corpus = emb.filter($"vec_id" % 11 =!= 0)
      val bench = emb.filter($"vec_id" % 11 === 0)
      val nlist = Similarity.ivfAutoNlist(corpus.count())
      val got = graft.llm.Decontaminate.flagSemantic(corpus, bench,
          "embedding", "vec_id", 350000L, nlist,
          Similarity.ivfAutoNprobe(nlist))
        .filter($"contaminated").select($"vec_id").cache()
      val c = corpus.select($"vec_id".as("cid"), $"embedding".as("__vc"))
      val b = bench.select($"embedding".as("__vb"))
      val truth = c.join(b,
          round(graft.functions.cosine_similarity($"__vc", $"__vb")
            * 1e6).cast("long") >= 350000L)
        .select($"cid").distinct()
      val hits = truth.join(got.withColumnRenamed("vec_id", "cid"),
        Seq("cid"), "left_semi")
      val fabricated = got.withColumnRenamed("vec_id", "cid")
        .join(truth, Seq("cid"), "left_anti")
      truth.agg(count(lit(1)).as("__nt"))
        .crossJoin(hits.agg(count(lit(1)).as("__hit")))
        .crossJoin(fabricated.agg((count(lit(1)) === 0L).as("one_sided")))
        .select(($"__nt" > 0L).as("n_true_positive"),
          (($"__hit".cast("double") / $"__nt".cast("double")) >= 0.6)
            .as("recall_ok"),
          $"one_sided")
    },
    Oracle(("SELECT true AS n_true_positive, true AS recall_ok, " +
        "true AS one_sided")),
    eagerBuild = true),

    QuerySpec("corpus_overlap", (s, dir) => {
      import s.implicits._
      // Vocabulary overlap between two sources (doc_id parity split of
      // the corpus): exact md5-keyed 3-gram Jaccard, value-matched by
      // the oracle, plus a boolean pinning the KMV sketch — the 100 TB
      // production path — to within 0.1 of the exact answer (k=1024 ⇒
      // ~3σ at 1/sqrt(k) ≈ 0.03).
      val docs = Tables.documents(s, dir)
      val a = docs.filter($"doc_id" % 2 === 0)
      val b = docs.filter($"doc_id" % 2 =!= 0)
      val est = CorpusOverlap.kmvEstimate(a, b, "text", n = 3, k = 1024)
      CorpusOverlap.exact(a, b, "text", n = 3)
        .crossJoin(est)
        // jaccard ships unrounded: one IEEE division of exact ints is
        // bit-identical across engines, while round() is not
        .select($"n_grams_a", $"n_grams_b", $"n_shared", $"jaccard",
          (abs($"est_jaccard" - $"jaccard") <= 0.1).as("kmv_ok"))
    },
    // exact columns value-matched (DuckDB recomputes the md5-keyed
    // 3-gram vocabularies from scratch); the KMV-sketch arm is the
    // boolean gate
    Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(0, len(toks) - 2),
        |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1, CAST(i AS INT) + 3), ' ')))
        |    ELSE [] END AS grams
        |  FROM t),
        |k AS (
        |  SELECT md5(unnest(grams)) AS k,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a,
        |    CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END AS in_b
        |  FROM g),
        |m AS (SELECT k, max(in_a) AS in_a, max(in_b) AS in_b FROM k GROUP BY k),
        |agg AS (
        |  SELECT CAST(sum(in_a) AS BIGINT) AS n_grams_a,
        |    CAST(sum(in_b) AS BIGINT) AS n_grams_b,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_shared
        |  FROM m)
        |SELECT n_grams_a, n_grams_b, n_shared,
        |  CAST(n_shared AS DOUBLE) /
        |    CAST(n_grams_a + n_grams_b - n_shared AS DOUBLE) AS jaccard,
        |  true AS kmv_ok
        |FROM agg""".stripMargin),
    bench = true),

    QuerySpec("text_compress_gate", (s, dir) => {
      import s.implicits._
      // Compression-ratio quality signal (deflate_length expression):
      // DuckDB can't deflate, so the gate pins the two per-document
      // inequalities that hold for EVERY input by zlib's contracts —
      // stored-block bound (len <= n + 5*ceil(n/65535) + tiny) and
      // sub-additivity under doubling (deflate(t||t) finds the repeat)
      // — aggregated with bool_and so one violation anywhere fails.
      val scored = Tables.documents(s, dir).select(
        graft.functions.deflate_length($"text").as("dl"),
        graft.functions.deflate_length(concat($"text", $"text")).as("dl2"),
        octet_length($"text").as("nb"))
      scored.agg(
        count(lit(1)).as("n_docs"),
        coalesce(bool_and($"dl" > 0 && $"dl" <= $"nb" + ($"nb" / 65535 + 1) * 5 + 8),
          lit(true)).as("bounded"),
        coalesce(bool_and($"dl2" < $"dl" * 2 + 16), lit(true)).as("sublinear_double"))
    },
    // zlib-contract gate: the per-document inequalities hold for every
    // input, so the oracle is the literal all-true row plus the count
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS bounded, true AS sublinear_double
        |FROM documents""".stripMargin)),

    QuerySpec("text_entities", (s, dir) => {
      import s.implicits._
      // entity array joined to one sortable string: raw array<string>
      // output crashes the driver's pandas sort (unhashable ndarray)
      TextAnalysis.extractEntities(Tables.documents(s, dir), "text")
        .select($"doc_id", concat_ws("|", $"entities").as("entities"),
          size($"entities").as("n_entities"))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id,
        |  COALESCE(array_to_string(regexp_extract_all(text, '\b[A-Z][a-z]+(?: [A-Z][a-z]+)*\b'), '|'), '') AS entities,
        |  len(regexp_extract_all(text, '\b[A-Z][a-z]+(?: [A-Z][a-z]+)*\b')) AS n_entities
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_vocab_stats", (s, dir) => {
      import s.implicits._
      // One-row corpus health header: token volume, vocabulary size,
      // hapax share, type-token ratio.
      TextAnalysis.vocabStats(Tables.documents(s, dir), "text")
    },
    // integer-exact except the TTR's one division
    Oracle("""WITH t0 AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS f FROM t0 WHERE tok <> ''
        |  GROUP BY 1)
        |SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS hapax_ppm,
        |  CAST(round(CAST(count(*) AS DOUBLE) / CAST(sum(f) AS DOUBLE)
        |    * 1000000) AS BIGINT) AS ttr_micros
        |FROM f""".stripMargin),
    bench = true),

    QuerySpec("text_novelty", (s, dir) => {
      import s.implicits._
      // 3-gram novelty per doc-id decile — is the tail of the crawl
      // still adding content, or repeating it? Exact first-occurrence
      // accounting, one ppm division per decile. SIDE-EFFECTING (the
      // occurrence table localCheckpoints at construction).
      graft.llm.TextAnalysis.ngramNovelty(
        Tables.documents(s, dir), "doc_id", "text", n = 3)
    },
    // same gram construction as the dedup oracles; first occurrence
    // is min(doc_id); integer decile map; one ppm division per row
    Oracle("""WITH toks AS (SELECT doc_id AS id,
        |    string_split_regex(text, '\s+') AS t FROM documents),
        |oc AS (SELECT id,
        |    array_to_string(list_slice(t, i, i + 2), ' ') AS g
        |  FROM (SELECT id, t,
        |      unnest(range(1, greatest(len(t) - 3 + 2, 1))) AS i
        |    FROM toks)),
        |fd AS (SELECT g, min(id) AS f FROM oc GROUP BY 1),
        |b AS (SELECT min(id) AS lo, max(id) AS hi FROM oc),
        |j AS (SELECT oc.id, fd.f, b.lo, b.hi
        |  FROM oc JOIN fd ON fd.g = oc.g, b),
        |d AS (SELECT ((id - lo) * 10) // (hi - lo + 1) + 1 AS step,
        |    CASE WHEN id = f THEN 1 ELSE 0 END AS nov
        |  FROM j)
        |SELECT CAST(step AS BIGINT) AS step,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(sum(nov) AS BIGINT) AS n_novel,
        |  CAST((CAST(sum(nov) AS HUGEINT) * 1000000) // count(*)
        |    AS BIGINT) AS novelty_ppm
        |FROM d GROUP BY 1 ORDER BY step""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("text_heaps", (s, dir) => {
      import s.implicits._
      // Heaps'-law vocabulary growth over the documents corpus: the
      // curve at 10 doc-id thresholds plus the cross-multiplied
      // quantized-OLS exponent — does doubling the crawl double the
      // OOV problem? SIDE-EFFECTING (the grid and curve
      // localCheckpoint at construction).
      graft.llm.TextAnalysis.heapsLaw(
        Tables.documents(s, dir), "doc_id", "text")
    },
    // same tokenize as the dedup oracles; first occurrence is
    // min(doc_id); grid sums over doc-scale histograms; beta from
    // micro-quantized log-log points, cross-multiplied
    Oracle("""WITH toks AS (SELECT doc_id AS id,
        |    unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |tk AS (SELECT id, w FROM toks WHERE length(w) > 0),
        |pd AS (SELECT id, CAST(count(*) AS BIGINT) AS ntok
        |  FROM tk GROUP BY 1),
        |fd AS (SELECT min(id) AS f FROM tk GROUP BY w),
        |fh AS (SELECT f, CAST(count(*) AS BIGINT) AS nv
        |  FROM fd GROUP BY 1),
        |b AS (SELECT min(id) AS lo, max(id) AS hi FROM pd),
        |g AS (SELECT CAST(range AS BIGINT) AS step,
        |    b.lo + ((b.hi - b.lo + 1) * range) // 10 - 1 AS t
        |  FROM range(1, 11), b),
        |c1 AS (SELECT g.step, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM g JOIN pd ON pd.id <= g.t GROUP BY 1),
        |c2 AS (SELECT g.step, CAST(sum(nv) AS BIGINT) AS vocab
        |  FROM g JOIN fh ON fh.f <= g.t GROUP BY 1),
        |cur AS (SELECT g.step, CAST(g.t AS BIGINT) AS threshold_id,
        |    c1.n_docs, c1.n_tokens, c2.vocab
        |  FROM g JOIN c1 ON c1.step = g.step
        |  JOIN c2 ON c2.step = g.step
        |  WHERE n_tokens > 0 AND vocab > 0),
        |pts AS (SELECT
        |    CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS x,
        |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS y
        |  FROM cur),
        |bt AS (SELECT CAST(count(*) AS HUGEINT) AS k,
        |    sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx FROM pts),
        |bb AS (SELECT CASE WHEN k * sxx - sx * sx > 0
        |    THEN CAST((k * sxy - sx * sy) * 1000000
        |      // nullif(k * sxx - sx * sx, 0) AS BIGINT) END
        |    AS beta_ppm FROM bt)
        |SELECT cur.step, cur.threshold_id, cur.n_docs, cur.n_tokens,
        |  cur.vocab, bb.beta_ppm
        |FROM cur, bb ORDER BY step""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("text_code_detect", (s, dir) => {
      import s.implicits._
      // Code-vs-prose score per document — the corpus-mix classifier
      // before language-ID: symbol density + indented-line share +
      // keyword panel, pure substring arithmetic (no regex dialect
      // surface), all truncating ppm divisions. Row-local, text
      // never shuffles.
      graft.llm.TextAnalysis.codeScore(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },
    // pure substring arithmetic (replace/length), no regex; ppm via
    // truncating division; chr(10) for the newline literal (DuckDB
    // single-quoted strings do not process backslash escapes)
    Oracle("""WITH d AS (SELECT doc_id, text AS t FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |    CAST((length(t) - length(replace(t, '{', '')))
        |      + (length(t) - length(replace(t, '}', '')))
        |      + (length(t) - length(replace(t, ';', '')))
        |      + (length(t) - length(replace(t, '=', '')))
        |      + (length(t) - length(replace(t, '(', '')))
        |      + (length(t) - length(replace(t, ')', ''))) AS BIGINT)
        |      AS sym,
        |    CAST(length(t) - length(replace(t, chr(10), '')) AS BIGINT)
        |      AS nl,
        |    CAST((length(t) - length(replace(t, chr(10) || '    ', '')))
        |      // 5 AS BIGINT) AS ind,
        |    CAST((CASE WHEN length(t) > length(replace(t, 'def ', ''))
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN length(t) > length(replace(t, 'return', ''))
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN length(t) > length(replace(t, 'import ', ''))
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN length(t) > length(replace(t, 'void ', ''))
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN length(t) > length(replace(t, '#include', ''))
        |        THEN 1 ELSE 0 END) AS BIGINT) AS kw
        |  FROM d),
        |p AS (SELECT doc_id, n_chars,
        |    CAST((sym * 1000000) // n_chars AS BIGINT) AS symbol_ppm,
        |    CAST((ind * 1000000) // greatest(nl, 1) AS BIGINT)
        |      AS indent_ppm,
        |    kw AS kw_hits
        |  FROM c)
        |SELECT doc_id, n_chars, symbol_ppm, indent_ppm, kw_hits,
        |  symbol_ppm + indent_ppm + kw_hits * 50000 AS code_score_ppm,
        |  symbol_ppm + indent_ppm + kw_hits * 50000 >= 120000 AS is_code
        |FROM p ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("text_distinct_ngrams", (s, dir) => {
      import s.implicits._
      // Distinct-1/2/3 corpus diversity per source: the template-spam
      // / mode-collapse detector — exact gram counts, one truncating
      // ppm division; gram boundaries replay exactly in DuckDB.
      // Tables.wide: 1..3-gram explode map work (r21 A/B: +1.08 s)
      TextAnalysis.distinctNgrams(Tables.wide(Tables.documents(s, dir)),
          "text", "source", maxN = 3)
        .orderBy($"source", $"n")
    },
    // same gram boundaries as the dedup oracles (list_slice windows
    // over whitespace tokens, empties filtered); one ppm division
    Oracle {
      def perN(n: Int) =
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS total_grams,
           |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
           |  CAST(CAST(count(DISTINCT g) AS HUGEINT) * 1000000
           |    // count(*) AS BIGINT) AS distinct_ppm
           |FROM (
           |  SELECT source, unnest(CASE WHEN len(toks) >= $n
           |    THEN list_transform(range(0, len(toks) - $n + 1),
           |      i -> array_to_string(list_slice(toks, CAST(i AS INT) + 1,
           |        CAST(i AS INT) + $n), ' '))
           |    ELSE [] END) AS g
           |  FROM t)
           |GROUP BY source""".stripMargin
      s"""WITH t AS (SELECT source,
         |    list_filter(string_split_regex(text, '\\s+'),
         |      x -> x <> '') AS toks
         |  FROM documents)
         |${(1 to 3).map(perN).mkString("\nUNION ALL\n")}
         |ORDER BY source, n""".stripMargin
    },
    bench = true),
  )

  /** One BM25 oracle, two graded access paths: `text_bm25` (ad-hoc
    * corpus scan) and `text_bm25_indexed` (persisted inverted index)
    * must both hash-match this SQL — the index changes the plan, not
    * the answer. */
  private lazy val bm25OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      |  FROM documents),
      |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total
      |       FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
      |       WHERE tok IN ('hash', 'join', 'spark') GROUP BY 1, 2),
      |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |s AS (
      |  SELECT tf.doc_id,
      |    round((ln((CAST(st.n - dfr.df AS DOUBLE) + 0.5)
      |        / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
      |          * (CAST(dl.dl AS DOUBLE)
      |            / (CAST(st.total AS DOUBLE) / CAST(st.n AS DOUBLE))))))
      |      * 1000000) AS sm
      |  FROM tf JOIN dfr USING (tok) JOIN dl USING (doc_id), st)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
      |  CAST(sum(sm) AS BIGINT) AS score_micros
      |FROM s GROUP BY doc_id
      |ORDER BY score_micros DESC, doc_id
      |LIMIT 20""".stripMargin
}
