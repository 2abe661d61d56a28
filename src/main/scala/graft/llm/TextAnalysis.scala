package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.doc_fingerprint
import graft.operators.{Moments, Quality}

/** Text analysis for training-data pipelines (north star): language
  * ID, quality scoring, token counting, fingerprinting. All pure
  * column expressions — row-local, shuffle-free, codegen-friendly.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. (Real pipelines plug in fastText-style
    * models via the same operator surface.) */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "por"))

  private def tokens(c: Column): Column = split(c, "\\s+")

  /** Language-ID: argmax over stopword-hit ratios per profile.
    * Returns (…, lang_pred, lang_score). Unknown → "und".
    *
    * The token array and the best-scoring struct are each materialized
    * once in their own projection; later expressions reference the
    * attribute, not a copy of the tree (CollapseProject keeps the
    * non-cheap alias un-inlined). The naive form — `greatest(...)`
    * referenced three times, each score re-splitting the text —
    * duplicated the tree ~12×, defeated codegen CSE, and cost 15.8 s /
    * 16 MiB task binaries at sf0.1. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val withToks = df.withColumn("__toks", tokens(lower(col(textCol))))
    val scores = stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(col("__toks"), t => t.isin(words.map(lit(_)): _*)))
      struct((hits.cast("double") / greatest(size(col("__toks")), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    withToks
      .withColumn("__best", greatest(scores: _*))
      .withColumn("lang_pred",
        when(col("__best.score") > 0, col("__best.lang")).otherwise("und"))
      .withColumn("lang_score", col("__best.score"))
      .drop("__toks", "__best")
  }

  /** Whitespace token count + a BPE-ish subword estimate: unicode
    * word/number/punct chunks via regexp, plus the chars/4 rule of
    * thumb used for LLM budgeting. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("n_ws_tokens", size(tokens(col(textCol))))
      .withColumn("n_bpe_chunks",
        size(regexp_extract_all(col(textCol),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))))
      .withColumn("n_tokens_est",
        ceil(length(col(textCol)).cast("double") / 4.0).cast("int"))
  }

  /** Unigram language-model NLL — the CCNet/RedPajama-style
    * perplexity quality signal: each token scored by the corpus's own
    * unigram log-probability, summed per document. Emitted as an
    * INTEGER micro-nat sum (`-round(ln p * 1e6)` per token) so the
    * aggregate is order-independent and exactly replayable by any
    * engine; downstream perplexity = `exp(nll_micros / 1e6 / n_tok)`.
    * High NLL/token = rare-token soup (boilerplate, mojibake, code in
    * a prose corpus) — the filter cut. Docs with no tokens drop out.
    *
    * Scale: one explode + a vocabulary hash-agg + an unhinted
    * token-keyed join of the exploded stream against the vocabulary
    * dim (broadcast while it fits, shuffle otherwise) + the per-doc
    * re-agg. The corpus total is a 1-row broadcast. Nothing holds
    * text after the explode — only (id, token). */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val vocab = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__f"))
    val total = vocab.agg(sum(col("__f")).as("__tot"))
    toks.join(vocab, "__tok")
      .crossJoin(broadcast(total)) // 1-row corpus total
      .withColumn("__nll_micros",
        (-round(log(col("__f").cast("double") / col("__tot").cast("double"))
          * 1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_tok"),
        sum(col("__nll_micros")).cast("bigint").as("nll_micros"))
  }

  /** Bigram language-model NLL with add-one smoothing — the
    * context-aware upgrade of [[unigramNll]]: each transition scored
    * by P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V) over the corpus's
    * own counts, summed per document as integer micro-nats (same
    * replayable convention). Unigram NLL misses word-salad whose
    * WORDS are common but whose TRANSITIONS are not (shuffled text,
    * keyword stuffing, template glue) — exactly what the bigram
    * surprisal catches. Docs with < 2 tokens drop out.
    *
    * Scale: bigrams assemble ROW-LOCALLY from the token array (one
    * slide over `tokens`, no self-join, no window); then one
    * bigram-keyed hash-agg, one context-keyed hash-agg, and two
    * token-keyed joins of the exploded stream — fixed-width-ish token
    * keys, documents never shuffle whole. V is a 1-row broadcast. */
  def bigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksCol = filter(tokens(col(textCol)), t => t =!= "")
    val bi = df.select(col(idCol), toksCol.as("__toks"))
      .select(col(idCol), explode(when(size(col("__toks")) >= 2,
          transform(sequence(lit(0), size(col("__toks")) - 2),
            i => struct(
              element_at(col("__toks"), i + 1).as("w1"),
              element_at(col("__toks"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val ctx = toks.groupBy(col("__tok").as("__w1")).agg(count(lit(1)).as("__c1"))
    val pair = bi.groupBy(col("__w1").as("__p1"), col("__w2").as("__p2"))
      .agg(count(lit(1)).as("__c2"))
    val vocabSize = ctx.agg(count(lit(1)).as("__v"))
    bi.join(pair, col("__w1") === col("__p1") && col("__w2") === col("__p2"))
      .join(ctx, "__w1")
      .crossJoin(broadcast(vocabSize)) // 1-row vocabulary size
      .withColumn("__bnll_micros",
        (-round(log((col("__c2") + 1L).cast("double") /
          (col("__c1") + col("__v")).cast("double")) * 1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("__bnll_micros")).cast("bigint").as("bnll_micros"))
  }

  /** Quality score in [0,1]: penalizes very short docs, all-caps,
    * high digit/punct density, low stopword ratio (the C4/Gopher-style
    * hand rules, expressed as one column formula). */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val toks = tokens(t)
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val stop = stopwordProfiles("en")
    val stopRatio = size(filter(tokens(lower(t)),
      x => x.isin(stop.map(lit(_)): _*))).cast("double") / nToks
    val digitRatio = (nChars - length(regexp_replace(t, "[0-9]", ""))) / greatest(nChars, lit(1.0))
    val punctRatio = (nChars - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))) / greatest(nChars, lit(1.0))
    val lenScore = least(nChars / 200.0, lit(1.0))
    val score = greatest(lit(0.0), least(lit(1.0),
      lenScore * (lit(1.0) - digitRatio) * (lit(1.0) - punctRatio)
        * (lit(0.5) + stopRatio)))
    // raw doubles, no rounding: every term is deterministic IEEE
    // arithmetic over exact integers, so the oracle replicating the
    // same expression tree is bit-identical (round()'s decimal
    // tie-breaking is NOT engine-portable)
    df.withColumn("quality_score", score)
      .withColumn("stop_ratio", stopRatio)
      .withColumn("digit_ratio", digitRatio)
      .withColumn("punct_ratio", punctRatio)
  }

  /** Token n-grams from an ALREADY-SPLIT token array column;
    * documents shorter than `n` tokens have none. Callers should bind
    * `toks` to a materialized attribute, not an inline `split` tree —
    * this expression references it up to three times, and higher-order
    * functions evaluate interpreted, so an inlined tree re-splits the
    * document per reference. */
  def tokenGramsFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Token n-grams of a raw text column, via the codegen'd
    * [[graft.expr.TokenNGrams]] (value-identical to
    * [[tokenGramsFromTokens]] over `split(c, "\\s+")`, ~10× cheaper —
    * see that expression's scaladoc). Used by [[Decontaminate]]; the
    * DuckDB oracles replicate the same gram boundaries. */
  def tokenGrams(c: Column, n: Int): Column =
    graft.functions.token_ngrams(c, n)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted
    * to whitespace tokens — the fixture has no newlines): fraction of
    * repeated tokens, the most-frequent-bigram's share of all bigrams,
    * and the fraction of repeated trigrams. High values = boilerplate/
    * spam; filter downstream like quality_score.
    *
    * Implemented as ONE custom codegen Expression
    * ([[graft.expr.RepetitionStats]]), not column algebra — the
    * higher-order-function forms all run INTERPRETED and were measured
    * at sf0.1 (one partition): naive nested
    * `transform(distinct, g -> count(filter(...)))` with the gram tree
    * inlined in lambdas: 20+ min; gram arrays materialized as
    * attributes: 14 s; sort + run-length `aggregate`: 4 s; xxhash64
    * gram identity: 3 s. The single-pass JVM loop: ~0.6 s steady-state, with exact
    * string-gram identity. The lesson generalizes: past a few dozen
    * per-row element operations, a custom Expression beats
    * higher-order column algebra by the interpretation constant. */
  def repetitionScore(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__rs", graft.functions.repetition_stats(col(textCol)))
      .withColumn("dup_token_frac", col("__rs.dup_token_frac"))
      .withColumn("top_bigram_frac", col("__rs.top_bigram_frac"))
      .withColumn("dup_trigram_frac", col("__rs.dup_trigram_frac"))
      .drop("__rs")

  /** Rolling-hash fingerprint column (see graft.expr.DocFingerprint). */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", doc_fingerprint(col(textCol)))

  /** Token-window chunking: split each document into windows of
    * `chunkTokens` whitespace tokens advancing by `chunkTokens -
    * overlap` — the standard context-window prep for embedding /
    * pretraining pipelines. Pure column algebra (split → transform →
    * posexplode), so it stays in codegen and scales as a row-local
    * flatMap: no shuffle, output rows ≈ input tokens / step.
    * Output: (id, chunk_no, chunk_text, chunk_tokens). */
  def chunk(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens (got $overlap, $chunkTokens)")
    val step = chunkTokens - overlap
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nc", greatest(
        ceil((col("__n") - lit(overlap)).cast("double") / step).cast("int"), lit(1)))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__nc") - 1), i =>
          struct(
            concat_ws(" ", slice(col("__toks"), i * step + 1, lit(chunkTokens)))
              .as("chunk_text"),
            least(lit(chunkTokens), col("__n") - i * step).as("chunk_tokens")))))
      .select(col(idCol), col("pos").as("chunk_no"),
        col("col.chunk_text"), col("col.chunk_tokens"))
  }

  /** PII patterns shared by [[redactPii]] and its oracle — kept to a
    * regex dialect Spark (Java) and DuckDB (RE2) agree on. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",
    "ip"    -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** PII scrub (training-data hygiene): replace emails/phones/IPs with
    * typed placeholders and count what was redacted. Row-local
    * regexp_replace/regexp_extract_all chain — codegen'd, shuffle-free,
    * linear in text size at any corpus scale. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) { case (c, (kind, pat)) =>
      regexp_replace(c, pat, s"<$kind>")
    }
    piiPatterns.foldLeft(df.withColumn("text_redacted", redacted)) {
      case (d, (kind, pat)) =>
        d.withColumn(s"n_$kind",
          size(regexp_extract_all(col(textCol), lit(pat), lit(0))))
    }
  }

  /** NER-lite: capitalized-span extraction (the JVM-side approximation
    * of the reference's NLTK `ne_chunk` pipeline, README.md:339-358 —
    * documented as heuristic, see SURVEY.md §2.3). Consecutive
    * capitalized tokens merge into one entity span. */
  def extractEntities(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("entities",
      regexp_extract_all(col(textCol),
        lit("\\b[A-Z][a-z]+(?: [A-Z][a-z]+)*\\b"), lit(0)))

  /** Okapi BM25 ranked retrieval (Robertson & Spärck Jones; Lucene's
    * `+1`-inside-the-log idf variant so scores never go negative) —
    * the lexical-search complement to the embedding ANN family:
    *
    *   score(d,Q) = Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)     = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)
    *
    * Per-(doc,term) contributions quantize to integer MICRO-units
    * (`round(x·1e6)`), so the per-doc sum is order-independent and the
    * whole ranking — including the top-k cut — replays value-for-value
    * in DuckDB when the oracle mirrors the arithmetic tree exactly
    * (`text_bm25`). Defaults k1=1.2, b=0.75 are the literature's.
    *
    * Scale shape: one explode for doc lengths (count-only hash-agg,
    * 16-byte rows), the query-term postings shrink AT THE SCAN
    * (`isin` filter pushes into the exploded stream — only matching
    * (id, term) rows survive into the tf agg), document-frequency and
    * corpus stats are tiny broadcasts, and the final ranking is a
    * TakeOrderedAndProject. Nothing text-sized ever shuffles. */
  /** PMI collocation mining (Church & Hanks 1990): adjacent token
    * pairs scored by pointwise mutual information over the bigram
    * corpus — `pmi(w1,w2) = ln(c12 · N / (cL(w1) · cR(w2)))`, where
    * `c12` counts the pair, `cL`/`cR` count each word's occurrences
    * in the first/second slot, and N is the total bigram count. The
    * standard phrase-mining primitive: high-PMI pairs are the
    * multi-word units ("new york", "machine learning") a tokenizer or
    * index should treat as one term. `minCount` floors the pair count
    * — PMI is notoriously noisy on hapax pairs (a 1-occurrence pair
    * of two rare words maxes the statistic).
    *
    * Returns (w1, w2, n_pair, pmi_micros), PMI quantized to integer
    * micro-nats exactly like [[unigramNll]]: every operand of the log
    * is an exact integer ratio, so the rounded micro-nat value
    * replays engine-for-engine.
    *
    * Scale shape: bigrams assemble ROW-LOCALLY from the token array
    * (no self-join); then three token-keyed hash-aggs (pair, left
    * slot, right slot) and two slot-keyed joins of the PAIR table
    * (already collapsed to distinct pairs — the exploded stream never
    * joins). N is a 1-row broadcast. Nothing in the plan depends on
    * document length. */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1 (got $minCount)")
    val toksCol = filter(tokens(col(textCol)), t => t =!= "")
    val bi = df.select(toksCol.as("__toks"))
      .select(explode(when(size(col("__toks")) >= 2,
          transform(sequence(lit(0), size(col("__toks")) - 2),
            i => struct(
              element_at(col("__toks"), i + 1).as("w1"),
              element_at(col("__toks"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val pair = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val left = bi.groupBy(col("w1")).agg(count(lit(1)).as("__cl"))
    val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("__cr"))
    val total = bi.agg(count(lit(1)).as("__n"))
    pair.filter(col("n_pair") >= minCount)
      .join(left, "w1")
      .join(right, "w2")
      .crossJoin(broadcast(total)) // 1-row bigram total
      .withColumn("pmi_micros", Quality.pmiMicros(col("n_pair"), col("__n"),
        col("__cl"), col("__cr")))
      .select(col("w1"), col("w2"), col("n_pair").cast("bigint").as("n_pair"),
        col("pmi_micros"))
  }

  /** Gopher-style rule-pack document filter (Rae et al. 2021 §A1.1.2
    * popularized hard rule filtering; C4 (Raffel et al. 2020) is the
    * other ancestor): a fixed battery of cheap structural rules, each
    * a named pass/fail, returning per-doc (n_words, failed[], keep).
    * Unlike [[qualityScore]]'s soft score this is the REASONS form —
    * a curation pipeline wants to know *why* a doc fell out (and to
    * tune one rule without re-deriving a scalar), and an ablation
    * wants rule-level counts.
    *
    * Rules (all integer cross-multiplied — no ratio ever computed as
    * a double, so both engines agree exactly):
    *  - `word_count`: minWords <= n_words <= maxWords
    *  - `mean_word_len`: 2 <= mean token length <= 10, tested as
    *    2*n_words <= sum_token_chars <= 10*n_words
    *  - `symbol_ratio`: non-alphanumeric-non-space chars <= 10% of
    *    chars (10 * n_sym <= n_chars)
    *  - `digit_ratio`: digits <= 20% of chars (5 * n_digit <= n_chars)
    *  - `stopwords`: >= 2 DISTINCT English stopwords present (the
    *    Gopher "stop word" rule — machine-generated keyword lists
    *    rarely carry function words)
    *
    * Row-local, codegen'd, shuffle-free — linear in text bytes at any
    * corpus scale; the `failed` array is built in rule order so the
    * output is deterministic. */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = filter(tokens(t), x => x =!= "")
    val nWords = size(toks).cast("long")
    val sumTokChars = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val nChars = length(t).cast("long")
    val nSym = (length(t) - length(regexp_replace(t, "[^A-Za-z0-9 ]", "")))
      .cast("long")
    val nDigit = (length(t) - length(regexp_replace(t, "[0-9]", "")))
      .cast("long")
    val stop = stopwordProfiles("en")
    val nStop = size(array_intersect(
      array_distinct(filter(tokens(lower(t)), x => x =!= "")),
      array(stop.map(lit(_)): _*))).cast("long")
    val rules: Seq[(String, Column)] = Seq(
      "word_count" -> (nWords >= minWords && nWords <= maxWords),
      "mean_word_len" -> (lit(2L) * nWords <= sumTokChars &&
        sumTokChars <= lit(10L) * nWords),
      "symbol_ratio" -> (lit(10L) * nSym <= nChars),
      "digit_ratio" -> (lit(5L) * nDigit <= nChars),
      "stopwords" -> (nStop >= 2L))
    df.withColumn("n_words", nWords)
      .withColumn("failed", array_compact(array(rules.map { case (name, ok) =>
        when(!ok, lit(name)) }: _*)))
      .withColumn("keep", size(col("failed")) === 0)
  }

  def bm25Search(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val tf = toks.filter(col("__tok").isin(terms.map(lit(_)): _*))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
    bm25Score(tf, dl, idCol, k, k1, b)
  }

  /** Flesch-Kincaid readability per document — the classic
    * grade-level signal a curation pipeline buckets on (too-low =
    * fragment soup, too-high = legalese/generated filler):
    * `grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`
    * and `ease = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`, both micro-quantized. Counting is
    * regex-exact and engine-portable: words = non-empty whitespace
    * tokens, sentences = `[.!?]+` runs (min 1), syllables =
    * `[aeiouy]+` vowel runs in the lowercased text (min 1 — the
    * standard heuristic; a per-word floor would need a per-word pass
    * for marginal accuracy). Row-local, codegen'd, shuffle-free;
    * the two divisions are one mirrored IEEE tree. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nWords = greatest(size(filter(tokens(t), x => x =!= "")), lit(1))
      .cast("long")
    val nSent = greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long")
    val nSyl = greatest(regexp_count(lower(t), lit("[aeiouy]+")), lit(1))
      .cast("long")
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = nSyl.cast("double") / nWords.cast("double")
    df.select(col(idCol), nWords.as("n_words"), nSent.as("n_sentences"),
      nSyl.as("n_syllables"),
      round((lit(0.39) * wps + lit(11.8) * spw - lit(15.59)) * 1e6)
        .cast("long").as("fk_grade_micros"),
      round((lit(206.835) - lit(1.015) * wps - lit(84.6) * spw) * 1e6)
        .cast("long").as("reading_ease_micros"))
  }

  /** Zipf-law fit of the corpus rank-frequency curve — the corpus
    * health check (natural text slopes ≈ −1 on log-log; template
    * floods flatten it, boilerplate dedup failures steepen it): OLS
    * slope of `ln f` against `ln rank` over the top-`topN` terms.
    *
    * Exactness: per-term `x = round(ln(rank)·10⁶)`,
    * `y = round(ln(f)·10⁶)` quantize independently (order-free), the
    * OLS moments are DECIMAL-widened integer sums ([[Moments.sums]],
    * the [[graft.operators.Features.cuped]] moment discipline), and
    * the slope is ONE IEEE division ([[Moments.slope]]) —
    * engine-replayable to the micro.
    *
    * Scale: one token hash-agg (the row-scale pass), a TakeOrdered
    * top-`topN` cut ((f desc, tok asc) — total order), then all
    * arithmetic on `topN` rows. Fitting the TAIL of a petabyte
    * vocabulary is statistically pointless (hapax mass) and the top
    * terms are what Zipf predicts — the cut is the method, not a
    * shortcut. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 10, s"topN must be >= 10 (got $topN)")
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), col("tok")).limit(topN)
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(desc("f"), col("tok"))))
    val xy = ranked.select(
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("__x"),
      round(log(col("f").cast("double")) * 1e6).cast("long").as("__y"))
    val (x, y) = (col("__x"), col("__y"))
    val aggs = Moments.sums("__n", Seq("__sx" -> x, "__sy" -> y),
      Seq(("__sxy", x, y), ("__sxx", x, x)))
    xy.agg(aggs.head, aggs.tail: _*)
      .select(col("__n").cast("bigint").as("n_terms"),
        round(Moments.slope(col("__n"), col("__sxy"), col("__sx"),
          col("__sy"), col("__sxx")) * 1e6).cast("long").as("slope_micros"))
  }

  /** Corpus vocabulary statistics — the one-row corpus health header
    * (token volume, vocabulary size, hapax share, type-token ratio):
    * hapax share near 1 flags OCR noise / id floods, a collapsing TTR
    * flags template repetition — the cheap companions to [[zipfFit]]'s
    * slope. All integer-exact except the TTR's single division. */
  def vocabStats(df: DataFrame, textCol: String): DataFrame = {
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    tf.agg(sum(col("f")).cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("__hapax"))
      .select(col("n_tokens"), col("n_types"),
        expr("CAST(__hapax AS DECIMAL(38,0)) * 1000000 div n_types")
          .cast("long").as("hapax_ppm"),
        round(col("n_types").cast("double") /
          col("n_tokens").cast("double") * 1e6).cast("long")
          .as("ttr_micros"))
  }

  /** Distinct-n corpus diversity — the generation-quality /
    * dedup-health metric next to [[vocabStats]]'s TTR: per group and
    * per n ∈ [1, maxN], total n-grams, DISTINCT n-grams, and the
    * distinct share in ppm (Li et al. 2016's distinct-1/distinct-2,
    * corpus-level). A crawl slice whose distinct-2 ppm collapses is
    * template spam; a model whose distinct-n falls against its
    * training corpus is mode-collapsing — same number, both
    * directions.
    *
    * Gram boundaries are the [[tokenGramsFromTokens]] contract over
    * whitespace tokens with empties filtered, so an oracle replays
    * the exact gram sets; the ppm is one truncating division of
    * exact counts. Groups with no n-grams at some n (every doc
    * shorter than n) emit no row for that n, not a 0/0.
    *
    * Scale: ONE tokenize pass for every n — each document's token
    * array expands to (n, gram) pairs for all n in one explode, so
    * the corpus is read and split exactly once (maxN passes would
    * re-read it maxN times); the (group, n, gram)-keyed exact
    * distinct shuffles the same ~Σn·corpus bytes the per-n passes
    * would, just in one exchange (the price of an EXACT distinct;
    * use a sketch upstream if an estimate suffices). */
  def distinctNgrams(df: DataFrame, textCol: String, groupCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 5, s"maxN must be in [1,5] (got $maxN)")
    val base = df.select(col(groupCol).cast("string").as("__grp"),
      expr(s"filter(split($textCol, '\\\\s+'), x -> x <> '')")
        .as("__toks"))
    val pairs = flatten(array((1 to maxN).map(n =>
      transform(tokenGramsFromTokens(col("__toks"), n),
        g => struct(lit(n.toLong).as("n"), g.as("g")))): _*))
    base.select(col("__grp"), explode(pairs).as("__ng"))
      .select(col("__grp"), col("__ng.n").as("n"),
        col("__ng.g").as("__g"))
      .groupBy(col("__grp"), col("n"))
      .agg(count(lit(1)).as("__total"),
        countDistinct(col("__g")).as("__distinct"))
      .select(col("__grp").as(groupCol), col("n"),
        col("__total").cast("bigint").as("total_grams"),
        col("__distinct").cast("bigint").as("distinct_grams"),
        expr("CAST(__distinct AS DECIMAL(38,0)) * 1000000 div __total")
          .as("distinct_ppm"))
  }

  /** Per-document keyword extraction — top-k terms by TF·IDF in
    * integer micro-units (the summarization/tagging primitive next to
    * [[bm25Search]]'s retrieval): `score = tf · ln((N+1)/(df+1))`
    * (add-one-smoothed idf, so corpus-universal terms score ~0 and
    * hapax terms stay finite), each (doc, term) score independently
    * rounded to micro-nats — order-free, engine-replayable. Ties
    * break on the term string ascending, making the top-k cut total.
    *
    * Scale shape: one tokenize pass → (id, tok) hash-agg, one
    * token-keyed df agg (broadcast back — vocabulary-scale), one
    * doc-keyed window for the top-k (doc ids are high-cardinality, so
    * the window parallelizes; no global sort). Returns
    * (idCol, tok, tf, score_micros, rank), rank 1..k. */
  def keywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val n = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__n"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(desc("score_micros"), col("tok"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(n)) // 1-row corpus size
      .withColumn("score_micros",
        round(col("tf").cast("double") *
          log((col("__n") + 1L).cast("double") /
            (col("__df") + 1L).cast("double")) * 1e6).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("tok"), col("tf").cast("bigint").as("tf"),
        col("score_micros"), col("rank"))
  }

  /** Shared BM25 scorer over a term-frequency table `tf`
    * (idCol, __tok, __tf) and doc-length table `dl` (idCol, __dl) —
    * the tail of both the ad-hoc [[bm25Search]] and the persisted
    * [[bm25SearchIndexed]] path, so the two produce IDENTICAL doubles
    * by construction. Corpus stats (N, Σdl) derive from `dl` (one
    * narrow index-scale agg → 1-row broadcast); per-term document
    * frequency derives from `tf` (already term-filtered). The
    * arithmetic TREE below is mirrored token-for-token by the
    * text_bm25 oracle — change one association and the micro-units
    * drift; idf and the saturation term stay fully parenthesized. */
  private def bm25Score(tf: DataFrame, dl: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__total"))
    val dfreq = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), "__tok")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__total").cast("double") / col("__n").cast("double"))
      .withColumn("__idf",
        log(((col("__n") - col("__df")).cast("double") + 0.5) /
          (col("__df").cast("double") + 0.5) + 1.0))
      .withColumn("__s_micros",
        round((col("__idf") * (col("__tf").cast("double") * (lit(k1) + 1.0)) /
          (col("__tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * (col("__dl").cast("double") / col("__avgdl"))))) * 1e6)
          .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_terms_hit"),
        sum(col("__s_micros")).cast("bigint").as("score_micros"))
      .orderBy(desc("score_micros"), col(idCol))
      .limit(k)
  }

  /** Persist the lexical index of a corpus — the BM25 twin of the
    * engine's other appendable indexes, under the [[SideIndex]]
    * protocol with the tokenizer contract as its layout: `dir` holds
    * the inverted postings (token, id, tf) RANGE-PARTITIONED AND
    * SORTED on the token, so a query's `isin` filter reaches the
    * parquet scan as a pushed predicate and row-group min/max prune
    * everything but the probed terms' neighborhoods; the `__docs` id
    * sidecar holds the (id, dl) doc lengths.
    *
    * `mode = "append"` folds a NEW batch's postings + doc lengths in
    * (the daily-crawl loop); re-appending an indexed id is refused
    * (its tf would double-count). Corpus totals (N, Σdl) are
    * deliberately NOT persisted — [[bm25SearchIndexed]] derives them
    * from the `__docs` sidecar (one narrow index-scale agg), which
    * makes an append self-consistent with zero stat-merge
    * bookkeeping. */
  def bm25SaveIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, mode: String = "overwrite",
      partitions: Int = 32): Unit = {
    val ids = df.select(col(idCol).cast("long").as("id"))
    val toks = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    SideIndex.write("bm25SaveIndex", dir, mode, bm25Layout,
      toks.groupBy(col("id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .repartitionByRange(partitions, col("tok"))
        .sortWithinPartitions(col("tok")),
      Some(SideIndex.IdSidecar("__docs",
        toks.groupBy(col("id")).agg(count(lit(1)).as("dl")), ids)))
  }

  /** The layout of [[bm25SaveIndex]]'s `__meta`: whitespace
    * tokenization, empty tokens dropped. Bump the tag on any change
    * to [[tokens]] semantics. */
  private val bm25Layout: SideIndex.Layout = Seq("tokenizer" -> "ws-v1")

  /** BM25 over a PERSISTED index — query cost is postings-scale, not
    * corpus-scale: the term `isin` pushes to the postings parquet scan
    * (sorted layout → row-group pruning), doc lengths join from the
    * fixed-width `__docs` sidecar, and the text column is never read.
    * Identical scores to [[bm25Search]] over the indexed corpus by
    * construction (shared [[bm25Score]] tail — the `text_bm25_indexed`
    * gate grades this through the SAME oracle as `text_bm25`). */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, queryTerms: Seq[String],
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val postings =
      SideIndex.open("bm25SearchIndexed", spark, indexDir, bm25Layout)
    val terms = queryTerms.distinct
    val dl = spark.read.parquet(indexDir + "__docs")
      .select(col("id").as(idCol), col("dl").as("__dl"))
    val tf = postings
      .filter(col("tok").isin(terms.map(lit(_)): _*))
      .select(col("id").as(idCol), col("tok").as("__tok"),
        col("tf").as("__tf"))
    bm25Score(tf, dl, idCol, k, k1, b)
  }

  /** BATCH retrieval over the persisted index — one pass answers a
    * whole table of queries (the RAG-evaluation / offline-reranking
    * shape: thousands of queries against one corpus): `queries` is
    * (qid, term) rows; the result is each query's top-k docs with the
    * same micro-unit scores as [[bm25Search]]. The union of query
    * terms collects to the driver (guarded by `maxQueryTerms` —
    * query VOCABULARY is human-scale even when the query COUNT is
    * not) so the term filter still pushes into the postings scan;
    * qids then fan out via one broadcast join, per-term df is shared
    * across queries (computed once), and the per-query top-k is a
    * qid-partitioned window — parallel in the query count. */
  def bm25SearchIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, queries: DataFrame,
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75,
      maxQueryTerms: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings =
      SideIndex.open("bm25SearchIndexedBatch", spark, indexDir, bm25Layout)
    val q = queries.select(col("qid").cast("long").as("qid"),
      col("term").cast("string").as("__tok")).distinct()
    val termList = q.select(col("__tok")).distinct()
      .limit(maxQueryTerms + 1).collect().map(_.getString(0))
    require(termList.length <= maxQueryTerms,
      s"query batch spans more than $maxQueryTerms distinct terms — " +
        "the pushed-filter plan needs a driver-bounded vocabulary; " +
        "split the batch or raise maxQueryTerms")
    require(termList.nonEmpty, "queries must be non-empty")
    val dl = spark.read.parquet(indexDir + "__docs")
      .select(col("id").as(idCol), col("dl").as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__total"))
    val tf = postings
      .filter(col("tok").isin(termList.map(lit(_)): _*))
      .select(col("id").as(idCol), col("tok").as("__tok"),
        col("tf").as("__tf"))
    val dfreq = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score_micros"), col(idCol))
    tf.join(broadcast(dfreq), "__tok")
      .join(broadcast(q), "__tok") // fan out to qids
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__total").cast("double") / col("__n").cast("double"))
      .withColumn("__idf",
        log(((col("__n") - col("__df")).cast("double") + 0.5) /
          (col("__df").cast("double") + 0.5) + 1.0))
      .withColumn("__s_micros",
        round((col("__idf") * (col("__tf").cast("double") * (lit(k1) + 1.0)) /
          (col("__tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * (col("__dl").cast("double") / col("__avgdl"))))) * 1e6)
          .cast("long"))
      .groupBy(col("qid"), col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_terms_hit"),
        sum(col("__s_micros")).cast("bigint").as("score_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("n_terms_hit"),
        col("score_micros"), col("rank"))
  }

  /** Code-vs-prose detection — the corpus-mix classifier a training
    * pipeline runs before language-ID makes sense (code crushes an
    * NL language model's perplexity stats, and a prose filter
    * silently deletes the code split): scores each document on
    * symbol density (`{};=()` per char), indented-line share (the
    * layout fingerprint of every language with blocks), and a small
    * keyword panel (`def `, `return`, `import `, `void `, `#include`)
    * — pure substring arithmetic, NO regex (the one text feature
    * class where two engines' regex dialects can silently disagree;
    * `count(pat) = (len(s) − len(replace(s, pat, ''))) / len(pat)`
    * replays exactly anywhere).
    *
    * Exactness: every count is an integer of length/replace
    * arithmetic; the ratios are truncating ppm divisions; the score
    * is the integer sum `symbol_ppm + indent_ppm + kw_hits·50000`
    * (weights are the contract, stated not learned); `is_code`
    * compares the score against the threshold — an integer compare.
    * Row-local everything: zero shuffles beyond the scan.
    *
    * Scale: embarrassingly parallel map over the corpus; emits one
    * fixed-width row per document, text never shuffles. */
  /** Heaps'-law vocabulary growth curve + exponent — the corpus-size
    * planning read ([[vocabStats]] says how big the vocabulary IS;
    * this says how fast it GROWS: `V ≈ K·Tᵝ`, and β tells you
    * whether doubling the crawl doubles the tokenizer's OOV problem
    * or barely moves it): cumulative distinct words and tokens at a
    * grid of doc-id thresholds, plus β fitted by OLS on the
    * log-log curve.
    *
    * Exactness: a word's first occurrence is `min(doc_id)` (a
    * multiset property); per grid threshold the doc/token/vocab
    * counts are conditional integer sums over DOC-SCALE histograms
    * crossed with the ≤ `gridSteps`-row threshold list — no global
    * window, no single-task pass anywhere; the log-log points
    * quantize to integer micros FIRST (`round(ln·10⁶)` — mirrored
    * ln), so the OLS slope is the cross-multiplied integer form
    * `β_ppm = ((kΣxy − ΣxΣy)·10⁶) div (kΣxx − (Σx)²)` — order-free.
    * Thresholds with zero tokens are absent; β needs ≥ 2 distinct
    * points (degenerate grids emit the curve with a NULL β).
    * Returns one row per grid step:
    * (step, threshold_id, n_docs, n_tokens, vocab, beta_ppm). */
  /** N-gram novelty curve over crawl order — how much of each slice
    * of the corpus is TEXT THE CORPUS ALREADY CONTAINS: per doc-id
    * decile, the share of n-gram occurrences whose gram first
    * appeared in an EARLIER document ([[heapsLaw]] tracks new WORDS;
    * this tracks repeated PHRASES — the redundancy/memorization
    * read that tells a dedup pipeline whether the tail of the crawl
    * is still adding content). A gram occurrence is novel iff its
    * gram's first-occurrence doc is its own doc (every occurrence
    * inside the introducing doc counts novel — the doc-grain
    * contract, stated).
    *
    * Exactness: first occurrence is `min(doc_id)` (multiset
    * property); the decile is the integer map
    * `((id − lo)·steps) div span + 1`; counts are exact integers
    * with one truncating ppm division per decile. Gram strings
    * shuffle once for the first-occurrence join — the documented
    * price of exactness (the [[distinctNgrams]] stance; sketch
    * upstream if the corpus outgrows it).
    *
    * Returns one row per non-empty decile:
    * (step, n_occurrences, n_novel, novelty_ppm). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, gridSteps: Int = 10): DataFrame = {
    require(n >= 1 && n <= 16, s"n must be in [1, 16] (got $n)")
    require(gridSteps >= 2 && gridSteps <= 1000,
      s"gridSteps must be in [2, 1000] (got $gridSteps)")
    val occ = df.select(col(idCol).cast("long").as("__id"),
        explode(graft.functions.token_ngrams(col(textCol), n))
          .as("__g"))
      .localCheckpoint(true) // two consumers: first-occurrence + join
    val firstDoc = occ.groupBy(col("__g"))
      .agg(min(col("__id")).as("__fd"))
    val bounds = occ.agg(min(col("__id")).as("__lo"),
      max(col("__id")).as("__hi"))
    occ.join(firstDoc, "__g")
      .crossJoin(broadcast(bounds)) // 1-row id range
      .withColumn("step", expr(
        s"(__id - __lo) * $gridSteps div (__hi - __lo + 1) + 1"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_occurrences"),
        sum(when(col("__id") === col("__fd"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("step"),
        col("n_occurrences").cast("bigint").as("n_occurrences"),
        col("n_novel").cast("bigint").as("n_novel"),
        expr("CAST(n_novel AS DECIMAL(38,0)) * 1000000" +
          " div n_occurrences").cast("long").as("novelty_ppm"))
      .orderBy(col("step"))
  }

  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
      gridSteps: Int = 10): DataFrame = {
    require(gridSteps >= 2 && gridSteps <= 1000,
      s"gridSteps must be in [2, 1000] (got $gridSteps)")
    val toks = df.select(col(idCol).cast("long").as("__id"),
        explode(split(col(textCol), "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
    val perDoc = toks.groupBy(col("__id"))
      .agg(count(lit(1)).as("__ntok"))
    val fdHist = toks.groupBy(col("__w"))
      .agg(min(col("__id")).as("__fd"))
      .groupBy(col("__fd")).agg(count(lit(1)).as("__nv"))
    val bounds = perDoc.agg(min(col("__id")).as("__lo"),
      max(col("__id")).as("__hi"))
    val grid = bounds.crossJoin(
        df.sparkSession.range(1L, gridSteps + 1L)
          .select(col("id").as("step")))
      .select(col("step"), (col("__lo") +
        expr(s"(__hi - __lo + 1) * step div $gridSteps") - 1L)
        .as("threshold_id"))
      .localCheckpoint(true) // grid-scale, three consumers
    val curve = grid
      .join(perDoc.crossJoin(broadcast(grid.select(col("step").as("__s"),
          col("threshold_id").as("__t"))))
        .filter(col("__id") <= col("__t"))
        .groupBy(col("__s"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens")),
        col("step") === col("__s"))
      .join(fdHist.crossJoin(broadcast(grid.select(col("step").as("__s2"),
          col("threshold_id").as("__t2"))))
        .filter(col("__fd") <= col("__t2"))
        .groupBy(col("__s2"))
        .agg(sum(col("__nv")).as("vocab")),
        col("step") === col("__s2"))
      .filter(col("n_tokens") > 0L && col("vocab") > 0L)
      .select(col("step"), col("threshold_id"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("vocab").cast("bigint").as("vocab"))
      .localCheckpoint(true) // consumed twice: output + the beta fit
    val pts = curve.select(
      round(log(col("n_tokens").cast("double")) * lit(1e6)).cast("long")
        .as("__x"),
      round(log(col("vocab").cast("double")) * lit(1e6)).cast("long")
        .as("__y"))
    val (x, y) = (col("__x"), col("__y"))
    val aggs = Moments.sums("__k", Seq("__sx" -> x, "__sy" -> y),
      Seq(("__sxy", x, y), ("__sxx", x, x)))
    val (k, sx) = (col("__k"), col("__sx"))
    val beta = pts.agg(aggs.head, aggs.tail: _*)
      .select(Moments.centered(k, col("__sxy"), sx, col("__sy")).as("__cxy"),
        Moments.centered(k, col("__sxx"), sx, sx).as("__cxx"))
      .select(when(col("__cxx") > 0,
        expr("CAST(__cxy * 1000000 div nullif(__cxx, 0) AS BIGINT)"))
        .as("beta_ppm"))
    curve.crossJoin(broadcast(beta)) // 1-row fitted exponent
      .orderBy(col("step"))
  }

  /** Per-document zlib compression ratio — the Gopher/RedPajama
    * quality signal the rest of the text-quality family approximates
    * from the outside: entropy ([[textEntropy]]) and repetition score
    * SYMPTOMS of low-information text, the deflate ratio measures the
    * information directly (boilerplate, repeated templates, and
    * keyword-stuffed spam compress far below prose; random noise
    * barely compresses at all). Returns (id, raw_bytes,
    * deflate_bytes, ratio_ppm = deflate·10⁶ div raw; empty text
    * reports NULL ratio).
    *
    * Grading: no SQL engine can replay zlib, so this is a
    * GATE-PAIRED rows-only query — `text_compression_gate` pins the
    * closed-form ordering on synthetic extremes (a pure repetition
    * must compress below 20 %, a splitmix-mixed hex stream must stay
    * above 40 %, and every ratio is positive and bounded). Within one
    * JVM the output is deterministic (level-6 Deflater, UTF-8 bytes).
    *
    * Scale: mapPartitions with ONE reused Deflater per partition
    * (reset per row — allocation is the classic deflate-in-a-loop
    * cost); output is 32 bytes/row, the text never re-shuffles. */
  def compressionRatio(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("__id"),
        col(textCol).cast("string").as("__t"))
      .filter(col("__id").isNotNull)
      .as[(Long, String)]
      .mapPartitions { rows =>
        val d = new java.util.zip.Deflater(6, false)
        val buf = new Array[Byte](1 << 16)
        val out = rows.map { case (id, t) =>
          val raw =
            if (t == null) Array.empty[Byte] else t.getBytes("UTF-8")
          d.reset()
          d.setInput(raw)
          d.finish()
          var comp = 0L
          while (!d.finished()) comp += d.deflate(buf)
          (id, raw.length.toLong, comp,
            if (raw.length == 0) Option.empty[Long]
            else Some(comp * 1000000L / raw.length))
        }
        out // the Deflater frees with the partition's JVM references
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "ratio_ppm")
  }

  /** Cross-document BOILERPLATE line detection — the cleanup pass a
    * crawl corpus needs before any quality scoring: a line that
    * appears verbatim in at least `minDocs` DISTINCT documents
    * (navigation, footers, cookie banners, license headers) carries
    * no per-document signal and poisons n-gram statistics. Per
    * document: exact line count, boilerplate-line count, truncating
    * boilerplate ppm, and the character mass that SURVIVES removal
    * (the cleaned-size budget a downstream tokenizer sees). Empty
    * lines are never boilerplate (they appear everywhere by
    * construction and removing them is a formatting choice, not a
    * dedup decision).
    *
    * Scale: the [[graft.llm.Dedup]] fingerprint posture — the census
    * shuffles (xxhash64-pair, doc_id) = 24 bytes/row, never the line
    * text; the per-doc pass joins against the boilerplate set on
    * FINGERPRINTS ONLY, with `length(line)` precomputed and the text
    * column dropped before the join — so even when the boiler set
    * exceeds the broadcast threshold (template-flooded corpora) and
    * the join degrades to a shuffle, only fixed-width rows move.
    * A 128-bit pair collision would surface as an oracle hash
    * mismatch, not silent wrongness (the oracle censuses the raw
    * lines). */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 5): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val lines = lineFingerprints(docs, idCol, textCol)
    val boiler = lineCensus(docs, idCol, textCol)
      .filter(col("n_docs") >= minDocs)
      .select(col("fp"), col("fp2"), lit(true).as("__boiler"))
    perDocBoilerStats(lines, boiler)
  }

  /** (doc_id, fp, fp2, len) line projection shared by the batch and
    * incremental boilerplate forms — the text exists only inside this
    * select; everything downstream is 28 B fixed-width. */
  private def lineFingerprints(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(coalesce(col(textCol).cast("string"), lit("")),
          "\n", -1)).as("line"))
      .select(col("doc_id"), xxhash64(col("line")).as("fp"),
        xxhash64(col("line"), lit(1)).as("fp2"),
        length(col("line")).cast("long").as("len"))

  /** The cross-document LINE CENSUS: one row per distinct non-empty
    * line fingerprint with its DISTINCT-document count — the
    * aggregable core of boilerplate detection (disjoint doc sets'
    * counts ADD exactly, which is what makes the incremental form
    * below decompose). 24 B/row; the line text never shuffles. */
  def lineCensus(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    lineFingerprints(docs, idCol, textCol)
      .filter(col("len") > 0)
      .select(col("fp"), col("fp2"), col("doc_id")).distinct()
      .groupBy(col("fp"), col("fp2"))
      .agg(count(lit(1)).as("n_docs"))

  /** the join-back + per-doc aggregation shared by both forms */
  private def perDocBoilerStats(lines: DataFrame,
      boiler: DataFrame): DataFrame =
    lines.join(boiler, Seq("fp", "fp2"), "left")
      .withColumn("__is_boiler",
        coalesce(col("__boiler"), lit(false)) && col("len") > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__is_boiler"), 1L).otherwise(0L))
          .as("n_boilerplate"),
        sum(when(!col("__is_boiler"), col("len")).otherwise(0L))
          .as("kept_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_boilerplate"),
        expr("n_boilerplate * 1000000L div n_lines")
          .as("boilerplate_ppm"),
        col("kept_chars"))

  /** Persist a corpus batch's [[lineCensus]] as parquet — the
    * historical half of INCREMENTAL boilerplate detection (the
    * daily-crawl loop [[graft.llm.Dedup.writeSimhashIndex]] gives
    * dedup): `mode = "append"` folds a NEW batch's census rows in.
    * Batches must have DISJOINT doc-id sets (the crawl contract) —
    * then distinct-doc counts add exactly and readers aggregate by
    * fingerprint; history is never re-censused, its text never
    * reloads. The census is a [[SideIndex]] without layout (no
    * `__meta`); its `__docids` id sidecar records the batch's
    * distinct doc ids (8 B per doc vs 24 B per distinct line), so an
    * append whose batch intersects it is refused — a re-crawled doc
    * id would otherwise silently double-count in `n_docs` and inflate
    * boilerplate verdicts corpus-wide. A census dir written before
    * the sidecar existed has no `__docids` and fails the append
    * loudly — rebuild it (or backfill the sidecar) rather than
    * appending unguarded. */
  def writeLineCensus(docs: DataFrame, idCol: String, textCol: String,
      dir: String, mode: String = "overwrite"): Unit = {
    val ids = docs.select(col(idCol).cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    SideIndex.write("writeLineCensus", dir, mode, Nil,
      lineCensus(docs, idCol, textCol),
      Some(SideIndex.IdSidecar("__docids", ids, ids)))
  }

  /** Compact an append-grown line census back to ONE row per
    * fingerprint — [[writeLineCensus]] appends one row per
    * (fingerprint, batch), so after hundreds of crawls every reader
    * re-aggregates a linearly growing table; this re-aggregates ONCE
    * and swaps the result in with the
    * [[graft.sources.Writers.compactParquet]] verify-then-swap
    * discipline (write aside, verify the aggregate equals the live
    * table's re-aggregation EXACTLY, rename the old dir away before
    * renaming the new one in — no instant has zero copies; a
    * mid-swap crash leaves a recoverable `__compact_old`). Counts are
    * unchanged by construction (sums of disjoint batch counts), so
    * every boilerplate verdict is byte-identical before and after —
    * the `text_census_compaction_gate` contract. The `__docids`
    * sidecar is already one row per doc and needs no re-aggregation.
    * Returns (filesBefore, filesAfter). */
  def compactLineCensus(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetRowsPerFile: Long = 1L << 22): (Long, Long) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    if (!fs.exists(p)) {
      // mid-swap crash: the old dir is the complete pre-compaction
      // census; the tmp may be a complete compacted one — prefer the
      // old copy (always complete by construction)
      if (fs.exists(old)) require(fs.rename(old, p),
        s"recovery rename $old -> $p failed")
      else if (fs.exists(tmp)) require(fs.rename(tmp, p),
        s"recovery rename $tmp -> $p failed")
      else throw new IllegalStateException(
        s"$dir does not exist and no compaction debris to recover from")
    }
    fs.delete(tmp, true); fs.delete(old, true) // stale debris
    val live = spark.read.parquet(dir)
    val filesBefore = live.select(input_file_name()).distinct().count()
    val agg = live.groupBy(col("fp"), col("fp2"))
      .agg(sum(col("n_docs")).as("n_docs"))
    val nGroups = agg.count()
    val parts = math.max(1L,
      (nGroups + targetRowsPerFile - 1) / targetRowsPerFile)
    agg.repartition(parts.toInt).write.parquet(tmp.toString)
    // verify BEFORE the swap: the written aggregate must equal the
    // live table's re-aggregation as a SET (count + anti-join both
    // ways over the full row) — abort with the original intact on
    // any drift
    val written = spark.read.parquet(tmp.toString)
    val keys = Seq("fp", "fp2", "n_docs")
    val drift = written.join(agg, keys, "left_anti").limit(1).count() +
      agg.join(written, keys, "left_anti").limit(1).count()
    require(written.count() == nGroups && drift == 0L,
      s"census compaction drift at $dir (aborted, original intact)")
    require(fs.rename(p, old), s"rename $p -> $old failed")
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
    fs.delete(old, true)
    val filesAfter = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    (filesBefore, filesAfter)
  }

  /** Per-document boilerplate stats of a NEW batch against a
    * persisted census — [[boilerplateLines]]'s incremental form: a
    * line is boilerplate when its distinct-doc count across
    * history ∪ batch reaches `minDocs`, so the output equals the full
    * recompute over (old ∪ new) RESTRICTED to the new docs
    * (`text_boilerplate_incremental_gate` pins it). Call
    * [[writeLineCensus]] with `mode = "append"` afterwards to fold
    * the batch in for tomorrow.
    *
    * Scale: history joins as 24 B census rows (its text never
    * reloads); the batch censuses once; same fingerprint-only
    * join-back as the batch form. */
  def boilerplateLinesIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, censusDir: String,
      minDocs: Int = 5): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val spark = newDocs.sparkSession
    val lines = lineFingerprints(newDocs, idCol, textCol)
    val boiler = spark.read.parquet(censusDir)
      .select(col("fp"), col("fp2"), col("n_docs"))
      .unionByName(lineCensus(newDocs, idCol, textCol))
      .groupBy(col("fp"), col("fp2"))
      .agg(sum(col("n_docs")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("fp"), col("fp2"), lit(true).as("__boiler"))
    perDocBoilerStats(lines, boiler)
  }

  def codeScore(df: DataFrame, idCol: String, textCol: String,
      thresholdPpm: Long = 120000L): DataFrame = {
    val txt = col("__txt")
    // the pattern rides as a QUOTED regex literal — the substring
    // count (len − len(removed)) / len(pat) is exact integer
    // arithmetic (the double division divides an exact multiple)
    def cnt(pat: String): Column =
      ((length(txt) - length(regexp_replace(txt,
        lit(java.util.regex.Pattern.quote(pat)), lit("")))) /
        lit(pat.length)).cast("long")
    val symbols = Seq("{", "}", ";", "=", "(", ")").map(cnt)
      .reduce(_ + _)
    val kw = Seq("def ", "return", "import ", "void ", "#include")
      .map(p => when(cnt(p) > 0L, 1L).otherwise(0L)).reduce(_ + _)
    df.select(col(idCol), col(textCol).as("__txt"))
      .filter(txt.isNotNull && length(txt) > 0)
      .withColumn("n_chars", length(txt).cast("long"))
      .withColumn("__sym", symbols)
      .withColumn("__nl", cnt("\n"))
      .withColumn("__ind", cnt("\n    "))
      .withColumn("kw_hits", kw)
      .withColumn("symbol_ppm",
        expr("(__sym * 1000000) div n_chars"))
      .withColumn("indent_ppm",
        expr("(__ind * 1000000) div greatest(__nl, CAST(1 AS BIGINT))"))
      .withColumn("code_score_ppm",
        col("symbol_ppm") + col("indent_ppm") + col("kw_hits") * 50000L)
      .withColumn("is_code", col("code_score_ppm") >= thresholdPpm)
      .select(col(idCol), col("n_chars"), col("symbol_ppm"),
        col("indent_ppm"), col("kw_hits").cast("bigint").as("kw_hits"),
        col("code_score_ppm"), col("is_code"))
  }

  /** Multinomial Naive Bayes, hash-gradable end to end — train on
    * one split, score the other, return the confusion matrix: the
    * classical text classifier (language ID, source attribution,
    * spam) as a REPLAYABLE query where library NB fits are not. The
    * per-class log-posterior decomposes so the sparse join suffices:
    * `score_c = ln P(c) − nTok·ln(totTok_c + V) + Σ_tok ln(cnt_{t,c}+1)`
    * — unseen (token, class) pairs contribute ln 1 = 0 exactly, so
    * only TRAINED pairs join; every term micro-quantizes
    * (`round(ln(·)·10⁶)` — ln agrees between engines), the per-(doc,
    * class) sums are order-free integers, and the argmax tie-breaks
    * (score desc, label asc). Returns (label_true, label_pred, n)
    * over the test split.
    *
    * Scale: training is one (token, label) hash-agg + two
    * label-scale tables; scoring explodes test tokens ONCE, joins
    * the token-keyed count table, and sums per (doc, label) — the
    * label grid rides a BROADCAST (labels guard loudly at
    * `maxClasses`); nothing pairwise in documents. SIDE-EFFECTING:
    * a 1-row class-count guard runs eagerly. */
  def naiveBayesConfusion(train: DataFrame, test: DataFrame,
      textCol: String, labelCol: String, idCol: String,
      maxClasses: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trn = train.select(col(idCol).as("__id"),
        col(labelCol).cast("string").as("__c"),
        split(col(textCol), " ").as("__toks"))
      .filter(col("__c").isNotNull && col("__toks").isNotNull)
    val nClasses = trn.select(col("__c")).distinct().count()
    require(nClasses >= 2 && nClasses <= maxClasses,
      s"$nClasses classes (need 2..$maxClasses) — a label column this " +
        "wide is not a classification target")
    val tokTrain = trn.select(col("__c"), explode(col("__toks")).as("__t"))
    val tc = tokTrain.groupBy(col("__c"), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__c"), col("__t"),
        round(log(col("__n").cast("double") + lit(1.0)) * lit(1e6))
          .cast("long").as("__lnc"))
    val classStats = tokTrain.groupBy(col("__c"))
      .agg(count(lit(1)).as("__tot"))
    val vocab = tokTrain.select(col("__t")).distinct()
      .agg(count(lit(1)).as("__v"))
    val priors = trn.groupBy(col("__c")).agg(count(lit(1)).as("__d"))
    val dTot = trn.agg(count(lit(1)).as("__dt"))
    val classes = classStats.join(priors, Seq("__c"))
      .crossJoin(vocab).crossJoin(dTot) // label-scale x two 1-rows
      .select(col("__c").as("__pc"),
        round(log(col("__d").cast("double") /
          col("__dt").cast("double")) * lit(1e6)).cast("long")
          .as("__prior"),
        round(log((col("__tot") + col("__v")).cast("double")) *
          lit(1e6)).cast("long").as("__lnden"))
    val tst = test.select(col(idCol).as("__id"),
        col(labelCol).cast("string").as("__true"),
        split(col(textCol), " ").as("__toks"))
      .filter(col("__true").isNotNull && col("__toks").isNotNull)
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    // sparse part: only trained (token, class) pairs contribute
    val sparse = tst.select(col("__id"), explode(col("__toks")).as("__t"))
      .join(tc, Seq("__t"))
      .groupBy(col("__id"), col("__c"))
      .agg(sum(col("__lnc")).as("__sp"))
    val sparseR = sparse.select(col("__id").as("__sid"),
      col("__c").as("__sc"), col("__sp"))
    val scored = tst.select(col("__id"), col("__true"), col("__ntok"))
      .crossJoin(broadcast(classes)) // doc x label grid
      .join(sparseR, col("__id") === col("__sid") &&
        col("__pc") === col("__sc"), "left")
      .select(col("__id").as("__doc"), col("__true"), col("__pc"),
        (col("__prior") - col("__ntok") * col("__lnden") +
          coalesce(col("__sp"), lit(0L))).as("__score"))
    val w = Window.partitionBy(col("__doc"))
      .orderBy(col("__score").desc, col("__pc"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__true").as("label_true"),
        col("__pc").as("label_pred"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy(col("label_true"), col("label_pred"))
  }
}
