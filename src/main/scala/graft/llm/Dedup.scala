package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{doc_fingerprint, normalize_text, simhash64}

/** Deduplication for LLM-training corpora (north star; no analogue in
  * the reference, which predates the need — SURVEY.md §2.8).
  *
  * Scale design, in order of cost at 100 TB:
  *  - [[exact]]: shuffle (fingerprint, id) pairs — 16 bytes/row, never
  *    the document text. One hash-agg.
  *  - [[simhashNearDup]]: one codegen'd pass to fingerprint, then B
  *    band-rotations as self-join keys. Candidate pairs only where a
  *    16-bit band collides; verify by Hamming distance. No O(n²).
  *  - [[minhashNearDup]]: shingle → one-minhash-per-table OR-banding
  *    (the standard Broder/Leskovec pipeline, codegen'd end to end) +
  *    exact-Jaccard verify on candidates; join cost scales with
  *    bucket collision counts, not n².
  *  - [[ngramJaccard]]: exact Jaccard verification on candidate pairs
  *    (use after LSH blocking; never call on an unblocked corpus).
  */
object Dedup {

  /** Exact dedup keeping the smallest id per distinct payload
    * (`idCol` must be unique per row, e.g. a doc id).
    *
    * Two-phase so the document text NEVER crosses a shuffle keyed by
    * itself: (1) aggregate `min(id)` over a 128-bit content key — the
    * codegen'd 64-bit fingerprint plus an independent xxhash64, so the
    * winner exchange carries 24 bytes/row and a birthday collision
    * needs ~2^64 distinct docs (a lone 64-bit key would already expect
    * collisions at the 10^10-doc corpus this targets); (2) semi-join
    * the winner ids back to the source for the payload — broadcast
    * when the winner set fits, an 8-byte-keyed shuffle otherwise.
    * The `dedup_fp_agree` gate in [[graft.queries.DedupQueries]]
    * cross-checks the keyed distinct count against the true
    * text-distinct count.
    *
    * ADVERSARIAL CAVEAT: the birthday bound assumes random inputs.
    * DocFingerprint is a base-31 polynomial — trivially collidable on
    * crafted text — so against a hostile corpus exactness rests on
    * xxhash64 alone (also non-cryptographic). A crafted double
    * collision silently merges two distinct documents. For corpora an
    * adversary can seed (open web crawls), pass `strongKey = true`:
    * the second key becomes SHA-256 of the text, removing the
    * crafted-collision class entirely for one extra hash pass and a
    * 64-byte-wider shuffle row; the two-phase shuffle shape is
    * unchanged.
    *
    * `normalizeKeys = true` runs the keys through
    * [[graft.functions.normalize_text]] (zero-width strip + NFC) first,
    * so codepoint-variant twins of the same visible text (composed vs
    * decomposed accents, zero-width-space padding) dedup together —
    * standard corpus hygiene the raw byte key misses. The OUTPUT rows
    * keep their original text; only the election key normalizes.
    * Row-local, so the shuffle shape is unchanged. */
  def exact(df: DataFrame, textCol: String, idCol: String,
      strongKey: Boolean = false, normalizeKeys: Boolean = false): DataFrame = {
    val keyText =
      if (normalizeKeys) normalize_text(col(textCol)) else col(textCol)
    val key2 =
      if (strongKey) sha2(keyText, 256) else xxhash64(keyText)
    val winners = df
      .select(doc_fingerprint(keyText).as("fp"),
        key2.as("fp2"), col(idCol).as("__win"))
      .groupBy(col("fp"), col("fp2"))
      .agg(min(col("__win")).as("__win"))
      .select(col("__win"))
    df.join(winners, col(idCol) === col("__win"), "left_semi")
      .select(col(idCol), col(textCol))
  }

  /** Drop-duplicates form (Spark's hash-agg based `dropDuplicates`). */
  def distinctRows(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** Paragraph-level dedup (the C4/Gopher step after document dedup):
    * split each document into non-overlapping `chunkTokens`-token
    * windows ([[TextAnalysis.chunk]] with overlap 0 — swap in a
    * newline split upstream for literal paragraphs), elect ONE winner
    * per distinct chunk text across the whole corpus (smallest
    * (id, chunk_no)), and return the surviving chunks.
    *
    * Same two-phase scale shape as [[exact]], one level finer: the
    * winner election shuffles (fp, fp2, id, chunk_no) — ~28 bytes per
    * CHUNK, never the chunk text — and the survivors come back via an
    * equi-join on (id, chunk_no). Chunking itself is row-local column
    * algebra, so the whole operator costs one hash-agg plus one
    * 12-byte-keyed join at any corpus size. [[exact]]'s adversarial-
    * collision caveat applies per chunk. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 64): DataFrame = {
    val chunks = TextAnalysis.chunk(df, textCol, idCol, chunkTokens, overlap = 0)
    val winners = chunks
      .select(doc_fingerprint(col("chunk_text")).as("fp"),
        xxhash64(col("chunk_text")).as("fp2"),
        struct(col(idCol), col("chunk_no")).as("__pos"))
      .groupBy(col("fp"), col("fp2"))
      .agg(min(col("__pos")).as("__pos"))
      .select(col(s"__pos.$idCol").as(idCol), col("__pos.chunk_no").as("chunk_no"))
    chunks.join(winners, Seq(idCol, "chunk_no"), "left_semi")
  }

  /** Band-explode 64-bit fingerprints `(id, sh)` into (id, sh, band,
    * key) pigeonhole rows for radius `maxHamming`: `maxHamming + 1`
    * near-equal-width bands (graft.expr.BandLayout — shared with the
    * HammingJoinRewrite optimizer rule). The blocking layout of the
    * text simhash, of any other 64-bit perceptual fingerprint (e.g.
    * [[graft.llm.Multimodal.dhash64]]) and of the persisted band
    * index. */
  private def banded(fp: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0,63] (got $maxHamming)")
    val layout = graft.expr.BandLayout(maxHamming + 1)
    val bandKeys = layout.zipWithIndex.map { case ((offset, mask), b) =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), offset).bitwiseAND(lit(mask)).as("key"))
    }
    fp.select(col("id"), col("sh"),
      explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.key"))
  }

  private def textFp(df: DataFrame, textCol: String, idCol: String) =
    df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh"))

  private def bitsFp(df: DataFrame, bitsCol: String, idCol: String) =
    df.select(col(idCol).as("id"), col(bitsCol).cast("long").as("sh"))

  /** The collision join of every blocked near-dup family: `rows`
    * carry `id`, the blocking `keys` and the `carry` columns. Returns
    * one row per key collision — the new-vs-new pairs (id_a < id_b)
    * and, given an `index` of the same row shape, the new-vs-index
    * pairs (least/greatest of `id_n =!= id_o`, so a doc re-arriving
    * under an indexed id pairs with nothing of itself) — with the
    * `pair` columns computed from the two sides' carried columns. A
    * pair may collide under several keys, so each caller reduces:
    * distinct, per-pair min or a count. `pair` must be symmetric in
    * its sides, since a new-vs-index pair's orientation follows its
    * ids. Both joins hash-partition on the keys; nothing quadratic. */
  private def collisions(rows: DataFrame, keys: Seq[String],
      index: Option[DataFrame] = None, carry: Seq[String] = Nil,
      pair: (String => Column, String => Column) => Seq[Column] =
        (_, _) => Nil): DataFrame = {
    def side(df: DataFrame, s: String) = df.select(keys.map(col) ++
      ("id" +: carry).map(c => col(c).as(s"${c}_$s")): _*)
    def on(a: String, b: String) =
      pair(c => col(s"${c}_$a"), c => col(s"${c}_$b"))
    val newVsNew = side(rows, "a").join(side(rows, "b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +: on("a", "b"): _*)
    index.fold(newVsNew)(idx => side(rows, "n").join(side(idx, "o"), keys)
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a") +:
        greatest(col("id_n"), col("id_o")).as("id_b") +: on("n", "o"): _*)
      .union(newVsNew))
  }

  /** Candidate pairs with both ends' `c` attached as `c_a`/`c_b` — the
    * verify side of the MinHash and embedding families. The rows are
    * the new batch's plus, given an index's id sidecar, the sidecar
    * rows whose ids the batch does not hold (the batch's in-flight
    * rows win for a re-arriving id; history never re-reads its text),
    * semi-filtered to the ids of some candidate pair, so sets and
    * vectors ship at near-dup scale, not corpus scale. */
  private def verifyPairs(cand: DataFrame, batch: DataFrame,
      sidecar: Option[DataFrame], c: String): DataFrame = {
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val rows = sidecar.fold(batch)(old => batch.unionByName(
        old.join(batch.select(col("id")), Seq("id"), "left_anti")))
      .join(candIds, Seq("id"), "left_semi")
    cand.join(rows.select(col("id").as("id_a"), col(c).as(c + "_a")), "id_a")
      .join(rows.select(col("id").as("id_b"), col(c).as(c + "_b")), "id_b")
  }

  /** Hamming near-dup pairs of fingerprints `fp` within themselves
    * and, given a band index, against it: (id_a, id_b, hamming <=
    * maxHamming), id_a < id_b. A pair may collide on several bands;
    * for single fingerprints every collision carries the same
    * distance, so distinct is the reduction, while multi-fingerprint
    * signatures (`perPairMin`) take the per-pair MIN, which subsumes
    * the dedup — stacking distinct under it would shuffle the pair
    * stream twice. Either way one shuffle. */
  private def hammingPairs(fp: DataFrame, maxHamming: Int,
      index: Option[DataFrame], perPairMin: Boolean): DataFrame = {
    val hits = collisions(banded(fp, maxHamming), Seq("band", "key"), index,
      Seq("sh"), (a, b) =>
        Seq(bit_count(a("sh").bitwiseXOR(b("sh"))).as("hamming")))
    val pairs =
      if (perPairMin) hits.groupBy(col("id_a"), col("id_b"))
        .agg(min(col("hamming")).as("hamming"))
      else hits.distinct()
    pairs.filter(col("hamming") <= maxHamming)
  }

  private def fpLayout(maxHamming: Int): SideIndex.Layout =
    Seq("maxHamming" -> maxHamming)

  /** SimHash near-dup candidate pairs: ALL document pairs whose 64-bit
    * SimHash differs by <= maxHamming bits. Banding: the fingerprint is
    * split into `maxHamming + 1` near-equal-width bands; by pigeonhole,
    * any pair within Hamming distance maxHamming agrees exactly on at
    * least one band — so the self-join runs per-band on band equality
    * (a broadcast-free shuffle join), then exact Hamming verifies. The
    * recall guarantee is total for every radius; the COST is not: band
    * width is 64/(maxHamming+1) bits, so radii past ~7 shrink the band
    * keyspace toward all-pairs. At 100 TB keep maxHamming <= 7
    * (8 bands × 8 bits) and use [[minhashNearDup]] for coarser radii. */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(textFp(df, textCol, idCol), maxHamming, None,
      perPairMin = false)

  /** Hamming near-dup pairs over an ARBITRARY precomputed 64-bit
    * fingerprint column — the [[simhashNearDup]] pigeonhole machinery
    * (maxHamming+1 fixed-width band keys, equi-join, XOR popcount)
    * opened to non-text fingerprints: perceptual image dHash
    * ([[graft.llm.Multimodal.dhash64]]) being the motivating caller —
    * re-encoded/brightness-shifted duplicate images hash to byte-new
    * payloads that mm_content_hash can never pair, but their dHashes
    * sit within a few bits. Same recall contract: a pair at distance
    * <= maxHamming shares at least one of the maxHamming+1 bands by
    * pigeonhole, so recall is 1.0 BY CONSTRUCTION, never probabilistic.
    * Returns (id_a, id_b, hamming) with id_a < id_b. */
  def hammingNearDup(df: DataFrame, bitsCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(bitsFp(df, bitsCol, idCol), maxHamming, None,
      perPairMin = false)

  /** Hamming near-dup pairs over MULTI-fingerprint signatures — the
    * [[hammingNearDup]] machinery for entities carrying SEVERAL 64-bit
    * fingerprints each (a video's signature is one dHash per frame,
    * [[graft.llm.Multimodal.dhashFrames]]): two entities are near-dups
    * when ANY fingerprint pair sits within `maxHamming`, and the
    * reported distance is the MINIMUM over their fingerprint pairs.
    * Recall is still 1.0 by pigeonhole — the minimizing fingerprint
    * pair shares a band, so the pair is found and the min is exact
    * (pairs whose every fingerprint distance exceeds maxHamming are
    * correctly absent). Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale: band-keyed equi-join over k·(maxHamming+1) fixed-width
    * rows per k-frame entity + ONE pair-keyed min hash-agg (the min
    * subsumes the single-fingerprint path's distinct — exactly one
    * reduction layer) — never all-pairs, payloads never shuffle.
    *
    * Min exactness under the threshold: the true minimizing
    * fingerprint pair sits within `maxHamming`, so by pigeonhole it
    * collides on some band and its distance enters the min; larger
    * collided distances can only lose, and a pair whose min exceeds
    * the threshold is filtered after the agg. */
  def signatureNearDup(df: DataFrame, bitsCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(bitsFp(df, bitsCol, idCol), maxHamming, None,
      perPairMin = true)

  /** Persist the simhash band index of a corpus — the historical half
    * of INCREMENTAL dedup: fingerprint + band rows (id, sh, band, key)
    * under the [[SideIndex]] protocol, layout `maxHamming`.
    * `mode = "append"` folds a new batch into the index after it has
    * been dedup'd (the daily-crawl loop: dedup against history, then
    * append the survivors — history is never rescanned, never
    * refingerprinted). The band index has no id sidecar and its
    * append is not id-guarded: a re-appended id only repeats band
    * rows, which the readers' distinct (or per-pair min) absorbs. */
  def writeSimhashIndex(df: DataFrame, textCol: String, idCol: String,
      dir: String, maxHamming: Int = 3, mode: String = "overwrite"): Unit =
    SideIndex.write("writeSimhashIndex", dir, mode, fpLayout(maxHamming),
      banded(textFp(df, textCol, idCol), maxHamming))

  /** Persist the band index of an ARBITRARY precomputed 64-bit
    * fingerprint column — [[writeSimhashIndex]]'s machinery opened to
    * non-text fingerprints (perceptual image/audio hashes:
    * [[graft.llm.Multimodal.dhash64]] / `ahash64`), so a multimodal
    * corpus gets the same daily-crawl loop text has: dedup the new
    * batch against history via [[hammingNearDupIncremental]], then
    * append the survivors — history is never re-decoded, never
    * re-fingerprinted, never rescanned. Unguarded on ids, like
    * [[writeSimhashIndex]]: a signature index repeats ids per frame
    * by design. */
  def writeHammingIndex(df: DataFrame, bitsCol: String, idCol: String,
      dir: String, maxHamming: Int = 3, mode: String = "overwrite"): Unit =
    SideIndex.write("writeHammingIndex", dir, mode, fpLayout(maxHamming),
      banded(bitsFp(df, bitsCol, idCol), maxHamming))

  private def fpIndex(op: String, newFp: DataFrame, indexDir: String,
      maxHamming: Int): Option[DataFrame] =
    Some(SideIndex.open(op, newFp.sparkSession, indexDir,
      fpLayout(maxHamming)))

  /** Near-dup pairs of a NEW batch against a persisted index plus
    * within itself — incremental dedup without rescanning history:
    * `pairs(old ∪ new) = pairs(old) ∪ incremental(new, index(old))`,
    * disjointly (the equivalence `dedup_incremental_gate` pins).
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming <=
    * maxHamming, every pair touching at least one new doc. A new doc
    * re-arriving under an id already in the index pairs with nothing
    * of itself but still pairs with its near-dups.
    *
    * Scale shape: the index joins on fixed-width (band, key) — the
    * historical TEXT never loads, only its 28-byte band rows; the new
    * batch fingerprints once. Both joins hash-partition on band keys;
    * nothing quadratic, nothing collected but the 1-row layout check. */
  def simhashNearDupIncremental(newDf: DataFrame, indexDir: String,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    val fp = textFp(newDf, textCol, idCol)
    hammingPairs(fp, maxHamming,
      fpIndex("simhashNearDupIncremental", fp, indexDir, maxHamming),
      perPairMin = false)
  }

  /** Near-dup pairs of a NEW batch of precomputed 64-bit fingerprints
    * against a [[writeHammingIndex]] — [[simhashNearDupIncremental]]'s
    * contract for multimodal fingerprints: every pair touches at
    * least one new id, `pairs(old ∪ new) = pairs(old) ⊎ incremental`,
    * history joins as 28-byte band rows (payloads never re-decoded). */
  def hammingNearDupIncremental(newDf: DataFrame, indexDir: String,
      bitsCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    val fp = bitsFp(newDf, bitsCol, idCol)
    hammingPairs(fp, maxHamming,
      fpIndex("hammingNearDupIncremental", fp, indexDir, maxHamming),
      perPairMin = false)
  }

  /** Incremental form of [[signatureNearDup]] — the daily-crawl loop
    * for MULTI-fingerprint entities (a video is one dHash per frame):
    * persist the frame rows through [[writeHammingIndex]] (the index
    * holds one band row per (id, frame fingerprint, band) — the same
    * 28-byte layout, ids just repeat per frame), then pair a new
    * batch's frames against history + itself and aggregate to the
    * per-pair MINIMUM distance. Yesterday's frames never re-decode,
    * never re-pair among themselves: the video-pair decomposition
    * `pairs(old ∪ new) = pairs(old) ⊎ incremental` is exact because a
    * pair's minimizing frame pair lives wholly on one side of it
    * (both-old pairs use only old frames; pairs touching a new id are
    * exactly the incremental frame joins). Returns (id_a, id_b,
    * hamming ≤ maxHamming), id_a < id_b, every pair touching at least
    * one new id.
    *
    * Scale: identical dataflow to [[hammingNearDupIncremental]] with
    * the reduction swapped to the per-pair min, with
    * [[signatureNearDup]]'s min-exactness argument. */
  def signatureNearDupIncremental(newDf: DataFrame, indexDir: String,
      bitsCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    val fp = bitsFp(newDf, bitsCol, idCol)
    hammingPairs(fp, maxHamming,
      fpIndex("signatureNearDupIncremental", fp, indexDir, maxHamming),
      perPairMin = true)
  }

  /** Distinct shingle-hash set per doc (whitespace-normalized chars) —
    * shared by [[minhashNearDup]] and the persisted-index forms. */
  private def minhashSets(df: DataFrame, textCol: String, idCol: String,
      shingle: Int, seed: Long): DataFrame =
    df.select(col(idCol).as("id"),
        regexp_replace(col(textCol), "\\s+", " ").as("__t"))
      .filter(length(col("__t")) >= shingle)
      .select(col("id"), array_distinct(
        transform(sequence(lit(0), length(col("__t")) - shingle),
          i => xxhash64(col("__t").substr(i + 1, lit(shingle)), lit(seed))))
        .as("__sh"))

  /** Banding: per table t, the min of a t-salted rehash of the set —
    * (id, t, mh), one 24-byte row per (doc, table). */
  private def minhashBands(sh: DataFrame, numTables: Int): DataFrame =
    sh.select(col("id"), explode(array(
        (0 until numTables).map(t => struct(lit(t).as("t"),
          array_min(transform(col("__sh"), x => xxhash64(x, lit(t))))
            .as("mh"))): _*)).as("b"))
      .select(col("id"), col("b.t").as("t"), col("b.mh").as("mh"))

  /** Distinct MinHash candidate pairs (a pair may collide in several
    * tables) verified by EXACT Jaccard over the shingle sets of the
    * batch and, for indexed ids, of the `__sets` sidecar. */
  private def minhashPairs(sh: DataFrame, numTables: Int,
      index: Option[(DataFrame, DataFrame)], maxDist: Double): DataFrame = {
    val cand = collisions(minhashBands(sh, numTables), Seq("t", "mh"),
      index.map(_._1)).distinct()
    verifyPairs(cand, sh, index.map(_._2), "__sh")
      .withColumn("__inter",
        size(array_intersect(col("__sh_a"), col("__sh_b"))))
      .withColumn("jaccard_dist", lit(1.0) - col("__inter").cast("double") /
        (size(col("__sh_a")) + size(col("__sh_b")) - col("__inter")))
      .filter(col("jaccard_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("jaccard_dist"))
  }

  private def minhashLayout(shingle: Int, numTables: Int,
      seed: Long): SideIndex.Layout =
    Seq("shingle" -> shingle, "tables" -> numTables, "seed" -> seed)

  /** Character-shingle MinHash-LSH near-dup pairs with exact Jaccard
    * distance below `maxDist` over the shingle-hash sets. Returns
    * (id_a, id_b, jaccard_dist).
    *
    * Classic Broder banding, one minhash per table (b = `numTables`,
    * r = 1): a pair at Jaccard j collides in a table with probability
    * j, so P(candidate) = 1-(1-j)^b — 0.9996 at the default
    * (j >= 0.4, b = 8) threshold. Entirely codegen'd columnar ops
    * (xxhash64 + array higher-order functions), no ml Vector UDTs:
    * the banding pass shuffles (table, minhash, id) = 24-byte rows;
    * the verify pass computes EXACT Jaccard over distinct
    * shingle-hash sets, shipping arrays only for docs that appear in
    * some candidate pair (semi-filtered first) — near-dup-scale, not
    * corpus-scale. This replaced spark.ml MinHashLSH's
    * approxSimilarityJoin (same pipeline, ~6× faster here, and the
    * distance is exact rather than subject to 2^18 feature-hash
    * collisions). */
  def minhashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxDist: Double = 0.6, shingle: Int = 5, numTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1 (got $numTables)")
    minhashPairs(minhashSets(df, textCol, idCol, shingle, seed), numTables,
      None, maxDist)
  }

  /** Persist the MinHash band index of a corpus — the MinHash twin of
    * [[writeSimhashIndex]] (the daily-crawl loop: dedup a new batch
    * against history without rescanning or re-shingling it), under
    * the [[SideIndex]] protocol with layout (shingle, tables, seed).
    * `dir` holds the (id, t, mh) band rows the candidate join probes;
    * the `__sets` id sidecar holds each doc's distinct shingle-hash
    * set (the exact-Jaccard verify needs the HISTORICAL side's set for
    * new-vs-old candidates — persisting it is what keeps the verify
    * from re-reading historical text). `mode = "append"` folds an
    * already-deduped batch in. */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
      dir: String, shingle: Int = 5, numTables: Int = 8,
      seed: Long = 42L, mode: String = "overwrite"): Unit = {
    require(numTables >= 1, s"numTables must be >= 1 (got $numTables)")
    val sh = minhashSets(df, textCol, idCol, shingle, seed)
    SideIndex.write("writeMinhashIndex", dir, mode,
      minhashLayout(shingle, numTables, seed), minhashBands(sh, numTables),
      Some(SideIndex.IdSidecar("__sets", sh, df.select(col(idCol).as("id")))))
  }

  /** Near-dup pairs of a NEW batch against a persisted MinHash index
    * plus within itself — `pairs(old ∪ new) = pairs(old) ⊎
    * incremental(new, index(old))`, disjointly (the same contract
    * [[simhashNearDupIncremental]] pins; banding is a deterministic
    * per-doc function of text and seed, so candidates decompose
    * exactly). Historical docs contribute 24-byte band rows to the
    * candidate join and shingle-hash ARRAYS only for docs that appear
    * in some candidate pair (semi-filtered) — historical text never
    * loads. */
  def minhashNearDupIncremental(newDf: DataFrame, indexDir: String,
      textCol: String, idCol: String, maxDist: Double = 0.6,
      shingle: Int = 5, numTables: Int = 8, seed: Long = 42L): DataFrame = {
    val spark = newDf.sparkSession
    val idx = SideIndex.open("minhashNearDupIncremental", spark, indexDir,
      minhashLayout(shingle, numTables, seed))
    minhashPairs(minhashSets(newDf, textCol, idCol, shingle, seed),
      numTables, Some((idx, spark.read.parquet(indexDir + "__sets"))),
      maxDist)
  }

  /** Exact token n-gram Jaccard similarity for candidate pairs.
    * `pairs` must carry (id_a, id_b); `docs` maps id → text. Intended
    * as the verify stage after [[simhashNearDup]]/[[minhashNearDup]]
    * blocking. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    def grams(c: Column): Column = {
      val toks = split(c, " ")
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    }
    val g = docs.select(col(idCol).as("gid"), grams(col(textCol)).as("grams"))
    pairs
      .join(g.select(col("gid").as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(g.select(col("gid").as("id_b"), col("grams").as("grams_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("uni", size(array_union(col("grams_a"), col("grams_b"))))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("uni").cast("double"))
          .as("jaccard"))
  }

  /** Charikar-derived table count shared by [[embeddingNearDup]] and
    * the persisted-index forms (see [[embeddingNearDup]]'s doc). */
  private def lshTableCount(minCosine: Double, planes: Int,
      targetRecall: Double, maxTables: Int): Int = {
    require(minCosine > -1.0 && minCosine < 1.0,
      s"minCosine must be in (-1,1) (got $minCosine)")
    val p = 1.0 - math.acos(minCosine) / math.Pi
    val pTable = math.pow(p, planes)
    math.max(1, math.min(maxTables,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pTable)).toInt))
  }

  private def embeddingLayout(planes: Int, tables: Int,
      seed: Long): SideIndex.Layout =
    Seq("planes" -> planes, "tables" -> tables, "seed" -> seed)

  /** Embedding near-dup: pairs with cosine >= `minCosine`, blocked by
    * multi-table random-hyperplane sign LSH (OR-of-ANDs) to avoid
    * O(n²). The number of tables is DERIVED from the threshold: with
    * per-plane sign-agreement probability p = 1 - acos(minCosine)/π
    * (Charikar 2002), a table of `planes` planes catches a
    * threshold-grade pair with probability p^planes, so
    * `ceil(log(1-targetRecall) / log(1-p^planes))` independent tables
    * bound the per-pair miss rate at 1-targetRecall. High thresholds
    * (real near-dups, >= 0.9) need few tables of many planes; low
    * thresholds are intrinsically expensive for sign LSH — the derived
    * table count makes that cost explicit instead of silently dropping
    * recall. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, planes: Int = 12, targetRecall: Double = 0.95,
      maxTables: Int = 32, seed: Long = 42L): DataFrame = {
    val tables = lshTableCount(minCosine, planes, targetRecall, maxTables)
    collisions(
      Similarity.cosineLshBucketsMulti(emb, vecCol, idCol, planes, tables, seed),
      Seq("table", "bucket"), carry = Seq("vec"), pair = (a, b) => Seq(
        graft.functions.cosine_similarity(a("vec"), b("vec")).as("cosine")))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }

  /** Persist the sign-LSH bucket index of an embedding corpus — the
    * embedding twin of [[writeSimhashIndex]]/[[writeMinhashIndex]],
    * completing the incremental story for all three near-dup
    * families, under the [[SideIndex]] protocol with layout (planes,
    * tables, seed). `dir` holds (table, bucket, id) rows the candidate
    * join probes; the `__vecs` id sidecar holds each doc's vector (the
    * exact-cosine verify needs the HISTORICAL side's vector for
    * new-vs-old candidates without re-reading the corpus). `tables`
    * derives from (minCosine, planes, targetRecall) exactly as in
    * [[embeddingNearDup]]. `mode = "append"` folds an already-deduped
    * batch in. */
  def writeEmbeddingIndex(emb: DataFrame, vecCol: String, idCol: String,
      dir: String, minCosine: Double = 0.95, planes: Int = 12,
      targetRecall: Double = 0.95, maxTables: Int = 32,
      seed: Long = 42L, mode: String = "overwrite"): Unit = {
    val tables = lshTableCount(minCosine, planes, targetRecall, maxTables)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    SideIndex.write("writeEmbeddingIndex", dir, mode,
      embeddingLayout(planes, tables, seed),
      Similarity.cosineLshBucketsMulti(emb, vecCol, idCol, planes, tables, seed)
        .select(col("table"), col("bucket"), col("id")),
      Some(SideIndex.IdSidecar("__vecs", vecs, vecs.select(col("id")))))
  }

  /** Embedding near-dup pairs of a NEW batch against a persisted
    * sign-LSH index plus within itself — `pairs(old ∪ new) =
    * pairs(old) ⊎ incremental(new, index(old))`, disjointly:
    * bucketing is a deterministic per-doc function of (vector, seed),
    * so the candidate set decomposes exactly and the exact-cosine
    * verify closes the loop. Historical docs contribute (table,
    * bucket, id) rows to the candidate join and vectors only for docs
    * appearing in some candidate pair (semi-filtered) — the
    * historical corpus never re-buckets. */
  def embeddingNearDupIncremental(newEmb: DataFrame, indexDir: String,
      vecCol: String, idCol: String, minCosine: Double = 0.95,
      planes: Int = 12, targetRecall: Double = 0.95, maxTables: Int = 32,
      seed: Long = 42L): DataFrame = {
    val tables = lshTableCount(minCosine, planes, targetRecall, maxTables)
    val spark = newEmb.sparkSession
    val idx = SideIndex.open("embeddingNearDupIncremental", spark, indexDir,
      embeddingLayout(planes, tables, seed))
    val cand = collisions(Similarity.cosineLshBucketsMulti(newEmb, vecCol,
        idCol, planes, tables, seed), Seq("table", "bucket"), Some(idx))
      .distinct()
    verifyPairs(cand, newEmb.select(col(idCol).as("id"), col(vecCol).as("vec")),
        Some(spark.read.parquet(indexDir + "__vecs")), "vec")
      .withColumn("cosine",
        graft.functions.cosine_similarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Span-level exact-substring dedup — the "ExactSubstr" pass of
    * modern corpus curation (Lee et al. 2022, *Deduplicating Training
    * Data Makes Language Models Better*): doc-level [[exact]] only
    * removes whole-file twins, but most web duplication is boilerplate
    * SPANS inside otherwise-unique pages. Returns the duplicated
    * token-coordinate intervals per document so a curation pipeline
    * can cut them.
    *
    * Lee et al. build one corpus-wide suffix array — a single-machine
    * design. The Spark-first reformulation works on n-token shingles
    * (the RETRO / Bloom-ngram school): a position is DUPLICATED when
    * its n-shingle occurs >= `minCount` times anywhere in the corpus;
    * a true repeated substring of length >= n makes every shingle
    * inside it duplicated, so every such substring is contained in
    * some reported span (no false negatives at granularity n). A
    * reported span may splice shingles that repeat against different
    * partners — conservative over-marking, the right direction for
    * curation.
    *
    * Scale shape at 100 TB: the shingle pass shuffles
    * (xxhash64, doc_id, pos) = 24-byte rows — the TEXT never leaves
    * its scan; the duplicate-set join is keyed on the 8-byte hash;
    * the island merge shuffles (doc_id, pos) ints and sorts per doc.
    * No suffix array, no all-pairs anything. A false-positive span
    * needs an xxhash64 collision landing inside one document.
    *
    * `maxGap` controls span assembly over ascending duplicated
    * positions: merge while `pos - prev <= maxGap`. The default `n`
    * is interval union (overlapping/touching n-token windows fuse —
    * what a cutter wants); `1` keeps only maximal runs of
    * consecutively-duplicated positions (the strict repeated-substring
    * reading). Output: (idCol, span_start, span_end, n_shingles),
    * token coordinates, end exclusive. */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 20, minCount: Long = 2L, maxGap: Int = -1): DataFrame = {
    require(n >= 2, s"shingle length must be >= 2 (got $n)")
    val gap = if (maxGap < 0) n else maxGap
    val toks = split(col(textCol), "\\s+")
    // one row per shingle start: hash of the n tokens from pos,
    // space-joined (unambiguous: \s+-split tokens contain no spaces)
    val sh = df
      .filter(size(toks) >= n)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), size(toks) - n),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n)))))))
      .toDF(idCol, "pos", "h")
    val dup = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    sh.join(dup, "h") // 8-byte key; Catalyst/AQE picks build side
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= gap, 0)
          .otherwise(1)) // null lag (first row) falls to otherwise
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .drop("island")
  }

  /** Cut the spans reported by [[duplicatedSpans]] out of the text:
    * returns (idCol, textCol) where every token whose index falls in a
    * span is dropped and the survivors re-join on single spaces
    * (whitespace runs are not preserved — curation output, not a
    * byte-exact editor). Docs with no spans pass through unchanged.
    * Row-local after one join: spans group to an array per doc (at
    * most len/n entries — bounded), then a higher-order filter keeps
    * tokens outside every interval. */
  def removeSpans(df: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val perDoc = spans.groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    df.join(perDoc, col(idCol) === col("__sid"), "left_outer")
      .withColumn("__kept",
        when(col("__spans").isNull, split(col(textCol), "\\s+"))
          .otherwise(filter(
            split(col(textCol), "\\s+"),
            (t, i) => !exists(col("__spans"),
              s => i >= s.getField("span_start") &&
                i < s.getField("span_end")))))
      .select(col(idCol), concat_ws(" ", col("__kept")).as(textCol))
  }

  /** SemDeDup (Abbas et al. 2023, *SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication* — public method):
    * SEMANTIC dedup over an embedding column. Where
    * [[embeddingNearDup]] hunts near-copies with LSH recall
    * trade-offs, SemDeDup first k-means-clusters the corpus and then
    * compares pairs EXHAUSTIVELY — but only within a cluster, which is
    * the paper's whole trick: the candidate set shrinks from O(n²) to
    * Σ|cluster|², and cross-cluster pairs (already far apart by the
    * clustering objective) are the sacrificed recall. Within each
    * cluster, documents with cosine ≥ `minCosine` form groups
    * (transitive closure via hash-min CC) and one survivor per group
    * is kept — min-id, this module's canonical election.
    *
    * Returns the SURVIVORS: (`idCol`, `cluster`). Within-cluster
    * completeness is exact (no LSH in the verify), so no two survivors
    * in the same cluster are ≥ `minCosine` apart — the gate's
    * invariant. SIDE-EFFECTING at construction (KMeans fit + CC
    * rounds run jobs).
    *
    * Scale shape: the fit samples/iterates via spark.ml KMeans (seeded);
    * assignment is one broadcast pass; the pair join keys on the
    * cluster id, so its cost is Σ|cluster|² — `maxClusterRows` fails
    * loudly before a degenerate clustering (everything in one bucket)
    * can detonate a quadratic join; raise `nlist` (paper: n/√n-scale
    * cluster counts) rather than the cap. */
  def semDedup(emb: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, nlist: Int = 16, seed: Long = 42L,
      maxClusterRows: Long = 100000L): DataFrame =
    semDedupAssign(emb, vecCol, idCol, minCosine, nlist, seed, maxClusterRows)
      .filter(col("group_id") === col(idCol).cast("long"))
      .select(col(idCol), col("cluster"))

  /** The full per-document SemDeDup assignment behind [[semDedup]]:
    * (`idCol`, `cluster`, `group_id`) for EVERY input row, where
    * `group_id` is the min id of the document's within-cluster
    * semantic group (its own id when nothing ≥ `minCosine` shares the
    * cluster). Survivors are the rows with `group_id == id`; auditors
    * and gates use the rest (who pruned whom, per cluster). */
  def semDedupAssign(emb: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, nlist: Int = 16, seed: Long = 42L,
      maxClusterRows: Long = 100000L): DataFrame = {
    val (assigned, _) = Similarity.ivfAssign(
      emb.select(col(idCol), col(vecCol)), vecCol, nlist, seed)
    val biggest = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    require(biggest <= maxClusterRows,
      s"largest cluster has $biggest rows > maxClusterRows=$maxClusterRows; " +
        s"the within-cluster pair join is quadratic per cluster — raise " +
        s"nlist (currently $nlist) to shrink clusters, or raise the cap " +
        s"if the cost is understood")
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    val pairs = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.cosine_similarity(col("vec_a"), col("vec_b"))
        >= minCosine)
      .select(col("id_a"), col("id_b"))
    // hash-min CC labels every grouped doc with its group's min id;
    // ungrouped docs anchor their own singleton group
    val comps = graft.operators.Graph.connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("comp"))
    assigned.select(col(idCol), col("cluster"))
      .join(comps, assigned(idCol).cast("long") === col("__cc_id"), "left_outer")
      .withColumn("group_id", coalesce(col("comp"), col(idCol).cast("long")))
      .drop("__cc_id", "comp")
  }

  /** Per-doc DISTINCT (id, gram) posting rows — [[containment]]'s
    * gram projection, shared with the persisted-index forms so the
    * incremental path can never drift on tokenization or shingling. */
  private def gramRows(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    df.select(col(idCol).as("id"), explode(grams).as("gram"))
  }

  private def gramSizes(g: DataFrame): DataFrame =
    g.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))

  /** The [[containment]] loud-quadratic pre-flight over a posting
    * stream: the hottest gram's document frequency, as a 1-row head
    * (NULL-coalesced — an empty stream is zero hotness, not an NPE). */
  private def requireNoHotGram(g: DataFrame, n: Int,
      maxGramDf: Long): Unit = {
    val hottest = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(coalesce(max(col("df")), lit(0L))).head().getLong(0)
    require(hottest <= maxGramDf,
      s"hottest $n-gram appears in $hottest docs > maxGramDf=$maxGramDf; " +
        s"the candidate fan-out is quadratic per gram — raise n, strip " +
        s"the boilerplate upstream, or raise the cap if the cost is " +
        s"understood")
  }

  /** The containment threshold in integer micro-units, after the
    * argument checks both containment forms share. */
  private def containmentPpm(n: Int, minContainment: Double): Long = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1] (got $minContainment)")
    require(n >= 1, s"n must be >= 1 (got $n)")
    math.round(minContainment * 1000000L)
  }

  /** The shared-gram count per candidate pair plus the threshold filter
    * and output projection shared by the batch and incremental
    * containment forms: integer cross-multiplied inclusion, the double
    * derived after. `sizes` maps id → n_grams. */
  private def containmentPairs(g: DataFrame, index: Option[DataFrame],
      sizes: DataFrame, minPpm: Long): DataFrame =
    collisions(g, Seq("gram"), index)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("bigint").as("n_overlap"))
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("n_a")),
        "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("n_b")),
        "id_b")
      .filter(col("n_overlap") * lit(1000000L) >=
        lit(minPpm) * least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_overlap"),
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        (col("n_overlap").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))

  /** ASYMMETRIC n-gram containment (Broder 1997's containment, the
    * complement of resemblance/Jaccard): pairs where the smaller
    * gram set is mostly inside the larger one —
    * `|grams(A) ∩ grams(B)| / min(|grams(A)|, |grams(B)|) >=
    * minContainment`. This is the quote/subset detector Jaccard
    * structurally misses: a 50-token article embedded verbatim in a
    * 5000-token page has Jaccard ≈ 0.01 but containment 1.0. Returns
    * (id_a, id_b, n_overlap, n_a, n_b, containment) with id_a < id_b.
    *
    * Scale shape — posting-list join, never all-pairs: distinct
    * (gram, id) rows shuffle once on the gram (the same shape BM25
    * gives query terms); candidate pairs exist ONLY where a gram is
    * shared, and the overlap count is one hash-agg over the join.
    * The threshold test cross-multiplies in integer micro-units
    * (`overlap * 1e6 >= minPpm * min(n_a, n_b)`), so inclusion is
    * exact — the reported `containment` double is derived output, not
    * the filter. The quadratic hazard is a STOP-GRAM: a gram shared
    * by k docs fans out k² candidate rows, so the operator counts
    * per-gram document frequency first and FAILS LOUDLY when any gram
    * exceeds `maxGramDf` (dropping hot grams silently would
    * under-count overlap and change answers; the caller must decide —
    * raise n, pre-filter boilerplate, or raise the cap). That df
    * pre-flight is one narrow hash-agg over rows the join needs
    * anyway. */
  def containment(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minContainment: Double = 0.5,
      maxGramDf: Long = 10000L): DataFrame = {
    val minPpm = containmentPpm(n, minContainment)
    val g = gramRows(df, textCol, idCol, n)
    requireNoHotGram(g, n, maxGramDf)
    containmentPairs(g, None, gramSizes(g), minPpm)
  }

  /** Persist the n-gram POSTING index of a corpus — the containment
    * twin of [[writeSimhashIndex]], under the [[SideIndex]] protocol
    * with layout `n`: `dir` holds the per-doc distinct (gram, id)
    * posting rows the candidate join probes (exactly the BM25 posting
    * shape); the `__sizes` id sidecar holds each doc's gram-set size
    * (the denominator — historical text never reloads). Batches must
    * have DISJOINT doc ids (distinct posting rows then ADD exactly,
    * the line-census contract), and an append is refused otherwise. */
  def writeGramIndex(df: DataFrame, textCol: String, idCol: String,
      dir: String, n: Int = 3, mode: String = "overwrite"): Unit = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val g = gramRows(df, textCol, idCol, n)
    SideIndex.write("writeGramIndex", dir, mode, Seq("n" -> n), g,
      Some(SideIndex.IdSidecar("__sizes", gramSizes(g),
        df.select(col(idCol).as("id")))))
  }

  /** Containment pairs of a NEW batch against a persisted gram index
    * plus within itself — the quote/subset detector's daily-crawl
    * form: `pairs(old ∪ new) = pairs(old) ⊎ incremental(new,
    * index(old))`, disjointly, because grams are a deterministic
    * per-doc function of text and batches have disjoint ids (a mixed
    * pair's overlap is exactly the new-vs-index join's gram count; a
    * both-old pair never touches the batch). The batch's ids are
    * checked against the `__sizes` sidecar like an append's. History
    * joins as posting rows and a sizes sidecar — its text never
    * re-explodes, never re-shuffles.
    *
    * The [[containment]] loud-quadratic guard evaluates over
    * history ∪ batch (one narrow hash-agg over the union): a hot
    * gram must fail loudly even when its heat is split across the
    * crawl boundary. Returns the containment columns, every pair
    * touching at least one new id. */
  def containmentIncremental(newDf: DataFrame, indexDir: String,
      textCol: String, idCol: String, n: Int = 3,
      minContainment: Double = 0.5,
      maxGramDf: Long = 10000L): DataFrame = {
    val minPpm = containmentPpm(n, minContainment)
    val spark = newDf.sparkSession
    val op = "containmentIncremental"
    val idx = SideIndex.open(op, spark, indexDir, Seq("n" -> n))
    SideIndex.requireDisjoint(op, newDf.select(col(idCol).as("id")),
      indexDir + "__sizes")
    val gNew = gramRows(newDf, textCol, idCol, n)
    requireNoHotGram(gNew.unionByName(idx), n, maxGramDf)
    containmentPairs(gNew, Some(idx), gramSizes(gNew)
      .unionByName(spark.read.parquet(indexDir + "__sizes")), minPpm)
  }

  /** LSH S-curve tuning table — the question every banding choice
    * answers blind: for `bands` tables of `rowsPerBand` min-hashes,
    * what fraction of TRUE near-duplicates at Jaccard similarity J
    * does the index actually surface?
    * `P(detect | J) = 1 − (1 − J^r)^b` — steep around the implicit
    * threshold `(1/b)^{1/r}`; a pipeline that tightens `maxDist`
    * without re-reading this curve silently loses recall. One row
    * per J on a 5 %-step grid.
    *
    * Determinism: powers go through `exp(k·ln(x))` — the mirrored
    * `ln`/`exp` pair both engines replay bit-for-bit on identical
    * doubles (the Wilson–Hilferty convention) — and the grid stays
    * inside (0, 1) so every log argument is strictly positive.
    * Micro-quantized outputs; no data is read at all (the curve is a
    * property of the CONFIG, not the corpus). */
  def lshTuning(spark: org.apache.spark.sql.SparkSession,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands and rowsPerBand must be >= 1 (got $bands, $rowsPerBand)")
    val j = col("id").cast("double") / lit(100.0)
    val pBand = exp(lit(rowsPerBand.toDouble) * log(j))
    val pDetect = lit(1.0) -
      exp(lit(bands.toDouble) * log(lit(1.0) - pBand))
    spark.range(5L, 100L, 5L)
      .select(col("id").cast("bigint").as("j_pct"),
        round(pBand * 1e6).cast("long").as("p_band_micros"),
        round(pDetect * 1e6).cast("long").as("p_detect_micros"))
      .orderBy(col("j_pct"))
  }
}
