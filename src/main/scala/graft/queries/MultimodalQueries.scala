package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal}

import Shared.{setsEqual, tmpPath}

/** Multimodal plumbing: decoding, perceptual hashes, media quality. */
object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("mm_content_hash", (s, dir) => {
      import s.implicits._
      // Binary-column plumbing: byte length + content hash of the
      // payload (here: the text payload cast to binary; for real
      // image/audio bytes the plan shape is identical).
      Tables.documents(s, dir)
        .select($"doc_id",
          octet_length($"text").as("byte_len"),
          md5($"text".cast("binary")).as("content_hash"))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
        |  md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("mm_decode", (s, dir) => {
      import s.implicits._
      // mean_byte stays un-rounded: integer byte-sum / int count is one
      // IEEE division, bit-identical in any engine (round() is not)
      Multimodal.decodeImageStub(
          Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .orderBy($"media_id")
    },
    // the decode STUB's fake metadata is pure byte arithmetic; the
    // documents fixture is ASCII (verified octet_length == length at
    // every sf), so DuckDB codepoints == payload bytes
    Oracle("""WITH m AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n FROM documents)
        |SELECT media_id,
        |  CAST(64 + CASE WHEN n = 0 THEN 0 ELSE ascii(substring(text, 1, 1)) % 192 END AS INT) AS width,
        |  CAST(64 + CASE WHEN n < 2 THEN 0 ELSE ascii(substring(text, 2, 1)) % 192 END AS INT) AS height,
        |  CAST(n AS INT) AS n_bytes,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(range(0, n),
        |      i -> ascii(substring(text, CAST(i AS INT) + 1, 1)))) AS DOUBLE) / n END AS mean_byte
        |FROM m ORDER BY media_id""".stripMargin),
    bench = true),

    QuerySpec("mm_decode_real", (s, dir) => {
      import s.implicits._
      // GENUINE codec round-trip: encode deterministic constant-fill
      // PNGs (dims + gray level closed-form in the id), then decode
      // with javax.imageio and report what the RASTER says. The
      // oracle states the closed form — a fabricated decode could not
      // match it, because the values only agree if the bytes were
      // really encoded and parsed. Undecodable payloads keep the
      // stub fallback path (mm_decode covers it).
      Multimodal.decodeImage(
          Multimodal.syntheticPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy($"media_id")
    },
    // the decode is real (javax.imageio parses the PNG bytes); the
    // oracle can therefore state the encoder's closed-form inputs
    Oracle("""SELECT doc_id AS media_id, true AS decoded,
        |  CAST(4 + doc_id % 13 AS INT) AS width,
        |  CAST(4 + doc_id % 11 AS INT) AS height,
        |  3 AS channels,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_px
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("mm_phash_dedup", (s, dir) => {
      import s.implicits._
      // Perceptual image near-dup — the case mm_content_hash is blind
      // to: byte-NEW payloads (re-encoded / brightness-edited copies)
      // with near-identical pixel structure. 500 deterministic
      // textured PNGs in 50 texture groups (10 brightness-shifted
      // renders each): a REAL ImageIO decode feeds a 64-bit dHash,
      // whose neighbor comparisons are exactly invariant to the shift
      // — so the pigeonhole band join must return precisely the
      // within-group pairs at hamming 0, which is the closed form the
      // oracle states. A fabricated hash could not match it: the
      // values only agree if the PNGs were really encoded, decoded,
      // box-averaged, and banded.
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.dhash64(
        Multimodal.syntheticTexturedPng(ids, "doc_id", groups = 50))
      graft.llm.Dedup.hammingNearDup(hashed.filter($"decoded"),
          "dhash", "media_id", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // perceptual-dedup closed form: ids sharing id % 50 render the
    // SAME texture at different brightness, and dHash's neighbor
    // comparisons are exactly shift-invariant, so the pairs are
    // precisely the within-group pairs at hamming 0 (cross-group
    // textures are independent 64-bit patterns, nowhere near the
    // 3-bit band threshold) — values only the real encode -> decode
    // -> box-mean -> band-join chain can reproduce
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true),

    QuerySpec("mm_phash_clusters", (s, dir) => {
      import s.implicits._
      // The perceptual pairs taken to the DEDUP CONTRACT: dHash
      // near-dup pairs -> connected components -> one canonical
      // winner per cluster (keep-one is a graph problem — near-dup
      // is not transitive). On the textured corpus the closed form
      // is total: cluster = the group's min id (= id % 50), winner
      // iff id < 50 — which only the real hash -> band-join -> CC
      // chain reproduces. SIDE-EFFECTING (hash-min rounds run
      // eagerly).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.dhash64(
        Multimodal.syntheticTexturedPng(ids, "doc_id", groups = 50))
      val pairs = graft.llm.Dedup.hammingNearDup(
        hashed.filter($"decoded"), "dhash", "media_id", maxHamming = 3)
      graft.operators.Graph.assignClusters(
          hashed.select($"media_id"), "media_id", pairs)
        .select($"media_id".cast("long").as("media_id"),
          $"cluster_id".cast("long").as("cluster_id"),
          ($"media_id" === $"cluster_id").as("is_winner"))
        .orderBy($"media_id")
    },
    // the dedup contract's closed form on the textured corpus: each
    // texture group's min id is the group index itself
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT CAST(id AS BIGINT) AS media_id,
        |  CAST(id % 50 AS BIGINT) AS cluster_id,
        |  id < 50 AS is_winner
        |FROM ids ORDER BY media_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_phash_incremental", (s, dir) => {
      import s.implicits._
      // The daily-crawl loop for MULTIMODAL corpora — the persisted
      // band-index pattern text dedup has had since dedup_incremental
      // _gate, opened to perceptual fingerprints: index yesterday's
      // 250 image dHashes once (17 B/row — the pixels are never
      // re-decoded), then pair today's 250 against the index plus
      // within themselves. Closed form: the within-group pairs
      // touching at least one new id, at hamming 0 — old-vs-old
      // pairs must NOT reappear. SIDE-EFFECTING (writes the index at
      // construction).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.dhash64(
          Multimodal.syntheticTexturedPng(ids, "doc_id", groups = 50))
        .filter($"decoded")
        .localCheckpoint(true) // index write + incremental consumer
      val idx = tmpPath("phidx", dir)
      graft.llm.Dedup.writeHammingIndex(
        hashed.filter($"media_id" < 250), "dhash", "media_id", idx,
        maxHamming = 3)
      graft.llm.Dedup.hammingNearDupIncremental(
          hashed.filter($"media_id" >= 250), idx, "dhash", "media_id",
          maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // incremental multimodal dedup closed form: every within-group
    // pair that touches at least one new id (id >= 250; id_a < id_b
    // makes that id_b) at hamming 0 — and nothing else: old-vs-old
    // pairs live in yesterday's artifact, not today's
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |  AND b.id >= 250
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_ahash_dedup", (s, dir) => {
      import s.implicits._
      // Perceptual AUDIO near-dup — closes the modality gap next to
      // mm_phash_dedup: a re-encoded/gain-shifted/level-shifted
      // duplicate clip is byte-new (mm_content_hash is blind) but its
      // lag-energy structure is EXACTLY preserved. 500 deterministic
      // noise WAVs in 50 waveform groups (10 gain/offset-transformed
      // renders each): a REAL javax.sound decode feeds the 64-bit
      // band-energy fingerprint, whose within-slice band comparisons
      // are exactly invariant to integer gain (energies scale by
      // gain²) and DC offset (cancels in differences) — so the
      // pigeonhole band join must return precisely the within-group
      // pairs at hamming 0, the closed form the oracle states. A
      // fabricated hash could not match it: the values only agree if
      // the WAVs were really encoded, decoded, lag-differenced, and
      // banded.
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.ahash64(
        Multimodal.syntheticNoiseWav(ids, "doc_id", groups = 50))
      graft.llm.Dedup.hammingNearDup(hashed.filter($"decoded"),
          "ahash", "media_id", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // audio perceptual-dedup closed form: ids sharing id % 50 carry
    // the SAME noise waveform under integer gain + DC offset, and the
    // lag-energy fingerprint's comparisons are exactly invariant to
    // both (gain scales every energy by gain², offsets cancel in
    // differences), so the pairs are precisely the within-group pairs
    // at hamming 0 — values only the real WAV encode -> decode ->
    // lag-difference -> band-join chain can reproduce
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true),

    QuerySpec("mm_ahash_clusters", (s, dir) => {
      import s.implicits._
      // The audio perceptual pairs taken to the DEDUP CONTRACT
      // (mm_phash_clusters' posture): near-dup pairs -> connected
      // components -> one canonical winner per cluster. Closed form
      // on the noise corpus: cluster = id % 50, winner iff id < 50 —
      // which only the real decode -> fingerprint -> band-join -> CC
      // chain reproduces. SIDE-EFFECTING (hash-min rounds run
      // eagerly).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.ahash64(
        Multimodal.syntheticNoiseWav(ids, "doc_id", groups = 50))
      val pairs = graft.llm.Dedup.hammingNearDup(
        hashed.filter($"decoded"), "ahash", "media_id", maxHamming = 3)
      graft.operators.Graph.assignClusters(
          hashed.select($"media_id"), "media_id", pairs)
        .select($"media_id".cast("long").as("media_id"),
          $"cluster_id".cast("long").as("cluster_id"),
          ($"media_id" === $"cluster_id").as("is_winner"))
        .orderBy($"media_id")
    },
    // the audio dedup contract's closed form: each waveform group's
    // min id is the group index itself
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT CAST(id AS BIGINT) AS media_id,
        |  CAST(id % 50 AS BIGINT) AS cluster_id,
        |  id < 50 AS is_winner
        |FROM ids ORDER BY media_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_ahash_incremental", (s, dir) => {
      import s.implicits._
      // The daily-crawl loop for the AUDIO modality — completing the
      // image (r18) / video (r19) / audio incremental grid over the
      // same persisted Hamming band index: clips with id%4 <= 1 are
      // "yesterday" (their 64-bit band-energy fingerprints indexed,
      // 28 B/row — the waveforms never re-decode), the rest today's
      // crawl. id%4 interleaves both halves through every id%50
      // waveform group (the mm_vhash_incremental device — a parity
      // split would never cross the index boundary), so the
      // new-vs-history join is exercised for real. Closed form: the
      // mm_ahash_dedup within-group pairs minus both-old pairs, at
      // hamming 0. SIDE-EFFECTING (writes the index at construction).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.ahash64(
          Multimodal.syntheticNoiseWav(ids, "doc_id", groups = 50))
        .filter($"decoded")
        .localCheckpoint(true) // index write + incremental consumer
      val idx = tmpPath("ahidx", dir)
      Dedup.writeHammingIndex(hashed.filter($"media_id" % 4 <= 1),
        "ahash", "media_id", idx, maxHamming = 3)
      Dedup.hammingNearDupIncremental(
          hashed.filter($"media_id" % 4 >= 2), idx, "ahash", "media_id",
          maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // the mm_ahash_dedup closed form minus its both-old pairs: every
    // incremental pair touches a new-batch (id%4 >= 2) id
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |  AND (a.id % 4 >= 2 OR b.id % 4 >= 2)
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_ahash_incremental_gate", (s, dir) => {
      import s.implicits._
      // The audio incremental invariant, per the mm_vhash template:
      // pairs(old ∪ new) == pairs(old) ⊎ incremental(new, index(old))
      // as exact set equality + disjointness, and append-mode folds
      // the new fingerprints in — (maxHamming+1) band rows per
      // decoded clip afterwards. SIDE-EFFECTING (writes the index;
      // clips decode once into a local checkpoint shared by the
      // branches).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val hashed = Multimodal.ahash64(
          Multimodal.syntheticNoiseWav(ids, "doc_id", groups = 50))
        .filter($"decoded").localCheckpoint(true)
      val old = hashed.filter($"media_id" % 4 <= 1)
      val nw = hashed.filter($"media_id" % 4 >= 2)
      val idx = tmpPath("ahidxg", dir)
      Dedup.writeHammingIndex(old, "ahash", "media_id", idx,
        maxHamming = 3)
      // pin the incremental result before append mutates the dir
      val inc = Dedup.hammingNearDupIncremental(nw, idx, "ahash",
          "media_id", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming").localCheckpoint()
      val full = Dedup.hammingNearDup(hashed, "ahash", "media_id",
        maxHamming = 3).select($"id_a", $"id_b", $"hamming")
      val oldOnly = Dedup.hammingNearDup(old, "ahash", "media_id",
        maxHamming = 3).select($"id_a", $"id_b", $"hamming")
      val merged = oldOnly.union(inc)
      Dedup.writeHammingIndex(nw, "ahash", "media_id", idx,
        maxHamming = 3, mode = "append")
      val appended = s.read.parquet(idx)
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged,
          Seq("id_a", "id_b", "hamming"), "complete"))
        .crossJoin(oldOnly.select($"id_a", $"id_b")
          .intersect(inc.select($"id_a", $"id_b"))
          .agg((count(lit(1)) === 0).as("disjoint")))
        .crossJoin(appended.agg(count(lit(1)).as("n_idx_rows"))
          .crossJoin(hashed.agg((count(lit(1)) * 4).as("n_expected")))
          .select(($"n_idx_rows" === $"n_expected").as("append_folded")))
        .select(($"n_full" > 0).as("nonempty"),
          $"complete", $"disjoint", $"append_folded")
    },
    Oracle(("SELECT true AS nonempty, true AS complete, true AS disjoint, " +
        "true AS append_folded")),
    eagerBuild = true),

    QuerySpec("mm_vhash_dedup", (s, dir) => {
      import s.implicits._
      // Perceptual VIDEO near-dup — the last modality in the
      // perceptual-dedup family: a video's signature is the dHash of
      // each frame (mm_decode_video_frames' container walk + JPEG
      // decode feeding mm_phash_dedup's hash), and two videos pair
      // when ANY frame pair sits within the Hamming threshold. 500
      // deterministic block-textured MJPEG-AVIs in 50 groups
      // (brightness-shifted renders whose 8×8-aligned textures
      // survive quality-1.0 JPEG bit-for-bit): the banded any-frame
      // join must return precisely the within-group pairs at min
      // hamming 0 — the closed form the oracle states, reproducible
      // only by the real container walk -> frame decode -> dHash ->
      // band-join -> min-agg chain.
      // Tables.wide: AVI encode + frame dHash per id (r21 A/B: +0.78 s)
      val ids = Tables.wide(Tables.documents(s, dir)).select($"doc_id")
        .filter($"doc_id" < 500)
      val sigs = Multimodal.dhashFrames(
        Multimodal.syntheticBlockMjpegAvi(ids, "doc_id", groups = 50))
      graft.llm.Dedup.signatureNearDup(sigs.filter($"decoded"),
          "dhash", "media_id", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // video perceptual-dedup closed form: ids sharing id % 50 carry
    // the SAME 8×8-block-aligned frame textures (exact through
    // quality-1.0 JPEG) under a uniform brightness shift that dHash's
    // comparisons cancel exactly, so the any-frame banded pairs are
    // precisely the within-group pairs at min hamming 0
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true),

    QuerySpec("mm_vhash_clusters", (s, dir) => {
      import s.implicits._
      // The video perceptual pairs taken to the DEDUP CONTRACT
      // (completing the image/audio/video symmetry): any-frame
      // near-dup pairs -> connected components -> one canonical
      // winner per cluster. Closed form on the block-texture corpus:
      // cluster = id % 50, winner iff id < 50. SIDE-EFFECTING
      // (hash-min rounds run eagerly).
      // Tables.wide: see mm_vhash_dedup (r21 A/B: +1.06 s)
      val ids = Tables.wide(Tables.documents(s, dir)).select($"doc_id")
        .filter($"doc_id" < 500)
      val sigs = Multimodal.dhashFrames(
        Multimodal.syntheticBlockMjpegAvi(ids, "doc_id", groups = 50))
      val pairs = graft.llm.Dedup.signatureNearDup(
        sigs.filter($"decoded"), "dhash", "media_id", maxHamming = 3)
      graft.operators.Graph.assignClusters(
          sigs.select($"media_id").distinct(), "media_id", pairs)
        .select($"media_id".cast("long").as("media_id"),
          $"cluster_id".cast("long").as("cluster_id"),
          ($"media_id" === $"cluster_id").as("is_winner"))
        .orderBy($"media_id")
    },
    // the video dedup contract's closed form: each texture group's
    // min id is the group index itself
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT CAST(id AS BIGINT) AS media_id,
        |  CAST(id % 50 AS BIGINT) AS cluster_id,
        |  id < 50 AS is_winner
        |FROM ids ORDER BY media_id""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_vhash_incremental", (s, dir) => {
      import s.implicits._
      // Incremental VIDEO near-dup — the daily-crawl loop for the
      // per-frame signature family (images/audio already have it via
      // mm_phash_incremental): media ids with id%4 <= 1 are
      // "yesterday", their frame dHashes persisted as a Hamming band
      // index; the rest the new crawl. (An even/odd split would
      // degenerate here: group = id%50 fixes parity within a group,
      // so no pair would ever cross the index boundary — id%4
      // interleaves both halves through every group and exercises the
      // new-vs-history join for real.) The incremental pairs are the
      // mm_vhash_dedup closed form MINUS its both-old pairs, at min
      // hamming 0, computed without re-decoding or re-pairing
      // history. SIDE-EFFECTING (writes the index at construction).
      // Tables.wide: see mm_vhash_dedup (r21 A/B: +0.59 s)
      val ids = Tables.wide(Tables.documents(s, dir)).select($"doc_id")
        .filter($"doc_id" < 500)
      val sigs = Multimodal.dhashFrames(
          Multimodal.syntheticBlockMjpegAvi(ids, "doc_id", groups = 50))
        .filter($"decoded")
      val idx = tmpPath("vhidx", dir)
      Dedup.writeHammingIndex(sigs.filter($"media_id" % 4 <= 1),
        "dhash", "media_id", idx, maxHamming = 3)
      Dedup.signatureNearDupIncremental(
          sigs.filter($"media_id" % 4 >= 2), idx, "dhash", "media_id",
          maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    // the mm_vhash_dedup closed form minus its both-old pairs: every
    // incremental pair touches a new-batch (id%4 >= 2) id
    Oracle("""WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 500)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM ids a JOIN ids b ON a.id < b.id AND a.id % 50 = b.id % 50
        |  AND (a.id % 4 >= 2 OR b.id % 4 >= 2)
        |ORDER BY id_a, id_b""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("mm_vhash_incremental_gate", (s, dir) => {
      import s.implicits._
      // The signature-family incremental invariant, per the
      // dedup_incremental_gate template: pairs(old ∪ new) ==
      // pairs(old) ⊎ incremental(new, index(old)) as exact set
      // equality + disjointness at the VIDEO-pair level (min-hamming
      // aggregated), and append-mode folds the new frames in —
      // (maxHamming+1) band rows per decoded frame afterwards.
      // SIDE-EFFECTING (writes the index; frames decode once into a
      // local checkpoint shared by all five branches).
      val ids = Tables.documents(s, dir).select($"doc_id")
        .filter($"doc_id" < 500)
      val sigs = Multimodal.dhashFrames(
          Multimodal.syntheticBlockMjpegAvi(ids, "doc_id", groups = 50))
        .filter($"decoded").localCheckpoint(true)
      val old = sigs.filter($"media_id" % 4 <= 1)
      val nw = sigs.filter($"media_id" % 4 >= 2)
      val idx = tmpPath("vhidxg", dir)
      Dedup.writeHammingIndex(old, "dhash", "media_id", idx,
        maxHamming = 3)
      // pin the incremental result before append mutates the dir
      val inc = Dedup.signatureNearDupIncremental(nw, idx, "dhash",
          "media_id", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming").localCheckpoint()
      val full = Dedup.signatureNearDup(sigs, "dhash", "media_id",
        maxHamming = 3).select($"id_a", $"id_b", $"hamming")
      val oldOnly = Dedup.signatureNearDup(old, "dhash", "media_id",
        maxHamming = 3).select($"id_a", $"id_b", $"hamming")
      val merged = oldOnly.union(inc)
      Dedup.writeHammingIndex(nw, "dhash", "media_id", idx,
        maxHamming = 3, mode = "append")
      val appended = s.read.parquet(idx)
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(setsEqual(full, merged,
          Seq("id_a", "id_b", "hamming"), "complete"))
        .crossJoin(oldOnly.select($"id_a", $"id_b")
          .intersect(inc.select($"id_a", $"id_b"))
          .agg((count(lit(1)) === 0).as("disjoint")))
        .crossJoin(appended.agg(count(lit(1)).as("n_idx_rows"))
          .crossJoin(sigs.agg((count(lit(1)) * 4).as("n_expected")))
          .select(($"n_idx_rows" === $"n_expected").as("append_folded")))
        .select(($"n_full" > 0).as("nonempty"),
          $"complete", $"disjoint", $"append_folded")
    },
    Oracle(("SELECT true AS nonempty, true AS complete, true AS disjoint, " +
        "true AS append_folded")),
    eagerBuild = true),

    QuerySpec("mm_audio_quality", (s, dir) => {
      import s.implicits._
      // The audio QUALITY screen a curation pipeline runs before a
      // clip earns training budget (the audio face of text_quality):
      // exact sample count, peak, silence ratio, clipping ratio over
      // the genuinely decoded PCM. Pulse WAVs (constant-amplitude
      // active prefix + digital silence) give every metric a
      // non-degenerate closed form the oracle states — values only a
      // real encode -> decode -> count chain reproduces.
      Multimodal.audioQuality(
          Multimodal.syntheticPulseWav(Tables.documents(s, dir), "doc_id"),
          silenceThreshold = 500, clipThreshold = 20000)
        .orderBy($"media_id")
    },
    // pulse-WAV closed forms (see Multimodal.syntheticPulseWav):
    // n = 256 + (id%64)*16, active prefix a = (id%97)+1 at amplitude
    // amp = 1000 + (id%50)*500; active samples are never silent
    // (amp >= 1000 > 500), the zero tail always is; clipping kicks in
    // at amp >= 20000 i.e. id%50 >= 38
    Oracle("""WITH m AS (SELECT doc_id,
        |    256 + (doc_id % 64) * 16 AS n,
        |    (doc_id % 97) + 1 AS a,
        |    1000 + (doc_id % 50) * 500 AS amp
        |  FROM documents)
        |SELECT doc_id AS media_id, true AS decoded,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(amp AS BIGINT) AS peak,
        |  CAST(((n - a) * 1000000) // n AS BIGINT) AS silence_ppm,
        |  CAST(CASE WHEN amp >= 20000 THEN (a * 1000000) // n
        |    ELSE 0 END AS BIGINT) AS clip_ppm
        |FROM m ORDER BY media_id""".stripMargin),
    bench = true),

    QuerySpec("mm_image_quality", (s, dir) => {
      import s.implicits._
      // The image QUALITY screen — the last modality to get one
      // (audio landed in mm_audio_quality): per image and per BAND
      // the exact min/max/milli-mean, dark/bright extreme-pixel ppm,
      // and the flat-band flag, over a genuinely decoded raster.
      // Gradient PNGs give every statistic a closed form (PNG is
      // lossless; red at row y is base + y·step, green/blue shifted
      // +20/+40) that only a real encode -> decode -> per-band count
      // chain reproduces; id % 5 == 0 plants genuinely flat rasters.
      Multimodal.imageQuality(
          Multimodal.syntheticGradientPng(Tables.documents(s, dir),
            "doc_id"),
          darkThreshold = 32, brightThreshold = 192)
        .orderBy($"media_id", $"band")
    },
    // gradient-PNG closed forms (see Multimodal.syntheticGradientPng):
    // PNG is lossless, so the oracle re-derives every per-band stat by
    // replaying the raster — red at row y is base + y*step with
    // base = 10 + id%100, step = id%5, h = 8 + id%9, w = 16; green and
    // blue are red + 20 / + 40; each y row carries 16 identical pixels
    Oracle("""WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS h,
        |    10 + doc_id % 100 AS base, doc_id % 5 AS step
        |  FROM documents),
        |bands AS (SELECT m.*, b.band, b.d FROM m,
        |  (VALUES (0, 0), (1, 20), (2, 40)) AS b(band, d)),
        |vals AS (SELECT doc_id, band, h,
        |    base + d + unnest(generate_series(0, h - 1)) * step AS v
        |  FROM bands)
        |SELECT doc_id AS media_id, CAST(band AS INT) AS band,
        |  true AS decoded,
        |  CAST(16 * h AS BIGINT) AS n_samples,
        |  CAST(min(v) AS INT) AS min_sample,
        |  CAST(max(v) AS INT) AS max_sample,
        |  CAST((16 * sum(v) * 1000) // (16 * h) AS BIGINT) AS mean_milli,
        |  CAST((16 * sum(CASE WHEN v < 32 THEN 1 ELSE 0 END) * 1000000)
        |    // (16 * h) AS BIGINT) AS dark_ppm,
        |  CAST((16 * sum(CASE WHEN v > 192 THEN 1 ELSE 0 END) * 1000000)
        |    // (16 * h) AS BIGINT) AS bright_ppm,
        |  min(v) = max(v) AS flat
        |FROM vals GROUP BY doc_id, band, h
        |ORDER BY media_id, band""".stripMargin),
    bench = true),

    QuerySpec("mm_video_quality", (s, dir) => {
      import s.implicits._
      // The video QUALITY screen — freeze and black-screen detection
      // over genuinely decoded MJPEG frames, completing the quality
      // trio (audio r17, image + video r18): per video the longest
      // run of consecutive identical frames (identity = dHash AND
      // truncating pixel mean) and the near-black frame ratio.
      // Constant-value frames survive quality-1.0 JPEG bit-exactly,
      // so the planted frozen run (exactly r = 2 + id%3 frames) and
      // the near-black tail (n−1−r frames) give every output a
      // closed form only a real container-walk -> decode -> run-scan
      // chain reproduces.
      // Tables.wide: per-id AVI encode + full frame decode/run-scan is
      // the whole cost — parallelize the scan (r21 A/B: +1.87 s win)
      Multimodal.videoQuality(
          Multimodal.syntheticFreezeMjpegAvi(
            Tables.wide(Tables.documents(s, dir))
              .filter($"doc_id" < 500), "doc_id"),
          blackThreshold = 16, freezeRun = 3)
        .orderBy($"media_id")
    },
    // freeze-AVI closed forms (see Multimodal.syntheticFreezeMjpegAvi):
    // n = 5 + id%4 frames; frames 1..r (r = 2 + id%3) repeat one
    // constant raster -> max run r; the tail's n-1-r frames are
    // distinct near-black constants (f % 12 < 16)
    Oracle("""WITH m AS (SELECT doc_id, 5 + doc_id % 4 AS n,
        |    2 + doc_id % 3 AS r
        |  FROM documents WHERE doc_id < 500)
        |SELECT doc_id AS media_id, true AS decoded,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(0 AS BIGINT) AS n_undecoded,
        |  CAST(r AS BIGINT) AS max_frozen_run,
        |  r >= 3 AS frozen,
        |  CAST(n - 1 - r AS BIGINT) AS n_black,
        |  CAST(((n - 1 - r) * 1000000) // n AS BIGINT) AS black_ppm
        |FROM m ORDER BY media_id""".stripMargin),
    bench = true),

    QuerySpec("mm_decode_video", (s, dir) => {
      import s.implicits._
      // the video third of the decode family: build REAL container
      // bytes (RIFF/AVI for even ids, MP4 ftyp+moov for odd), then
      // walk the chunk/box tree back out — dims + duration must match
      // the writer's closed form, which only happens if the header
      // bytes were genuinely laid out and parsed (no codec involved;
      // container metadata is the pre-decode pass a curation pipeline
      // actually runs at scale).
      Multimodal.decodeVideoMeta(
          Multimodal.syntheticVideo(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy($"media_id")
    },
    // container-writer closed forms (see Multimodal.syntheticVideo):
    // avi duration = µs/frame * frames / 1000, mp4 = units/timescale
    Oracle("""SELECT doc_id AS media_id, true AS decoded,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS container,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 160 + (doc_id % 8) * 16
        |            ELSE 320 + (doc_id % 16) * 8 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 120 + (doc_id % 6) * 8
        |            ELSE 240 + (doc_id % 9) * 16 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |            THEN (20 + doc_id % 10) * (30 + doc_id % 90)
        |            ELSE (5 + doc_id % 55) * 1000 END AS BIGINT)
        |    AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin),
    bench = true),

    QuerySpec("mm_decode_video_frames", (s, dir) => {
      import s.implicits._
      // retires the last documented stub: MJPEG-in-AVI payloads whose
      // movi chunks are REAL quality-1.0 JPEGs (constant-gray frames
      // round-trip bit-exactly through the JDK's JPEG codec), decoded
      // back frame-0-first by decodeVideoFrame. The oracle states the
      // writer's closed form — dims, chunk count, and frame 0's fill
      // — which only a genuine container walk + JPEG decode of the
      // FIRST chunk can reproduce (later frames carry different
      // fills).
      // Tables.wide: per-id AVI encode + JPEG decode map work
      // (r21 A/B: +2.43 s win)
      Multimodal.decodeVideoFrame(
          Multimodal.syntheticMjpegAvi(
            Tables.wide(Tables.documents(s, dir)), "doc_id"))
        .toDF()
        .orderBy($"media_id")
    },
    // MJPEG frame-decode closed form (see Multimodal.syntheticMjpegAvi):
    // constant-gray frames survive quality-1.0 JPEG exactly, frame 0's
    // fill is id % 256
    Oracle("""SELECT doc_id AS media_id, true AS decoded,
        |  CAST(1 + doc_id % 4 AS INT) AS n_frames,
        |  CAST(16 + (doc_id % 8) * 8 AS INT) AS width,
        |  CAST(16 + (doc_id % 6) * 8 AS INT) AS height,
        |  3 AS channels,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_px
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("mm_decode_audio", (s, dir) => {
      import s.implicits._
      // the audio twin of mm_decode_real: a genuine
      // javax.sound.sampled WAV encode→decode round-trip against the
      // encoder's closed form
      Multimodal.decodeAudio(
          Multimodal.syntheticWav(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy($"media_id")
    },
    // constant-amplitude PCM: every |sample| == amp, so the mean is
    // exact in any engine
    Oracle("""SELECT doc_id AS media_id, true AS decoded, 8000 AS sample_rate,
        |  1 AS channels, CAST(64 + doc_id % 128 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 100) * 100 AS DOUBLE) AS mean_abs
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("mm_resize", (s, dir) => {
      import s.implicits._
      // fixed-size binary normalization (truncate-or-pad); the oracle
      // pins the output size and the unpadded-prefix checksum
      Multimodal.resizeStub(
          Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"),
          targetBytes = 128)
        .select($"media_id", $"resized_bytes",
          md5(substring($"payload", 1, 128)).as("prefix_md5"))
        .orderBy($"media_id")
    },
    Oracle("""SELECT doc_id AS media_id, 128 AS resized_bytes,
        |  md5(substring(text, 1, 128)) AS prefix_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("mm_frame_sample", (s, dir) => {
      import s.implicits._
      Multimodal.frameSample(
          Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"),
          frameBytes = 64, stride = 2)
        .orderBy($"media_id", $"frame_no")
    },
    Oracle("""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
        |    octet_length(CAST(text AS BLOB)) AS n
        |  FROM documents),
        |f AS (
        |  SELECT media_id, modality, n,
        |    unnest(range(0, greatest(CAST(ceil(n / 64.0) AS INT), 1))) AS frame_no
        |  FROM m)
        |SELECT media_id, modality, CAST(frame_no AS INT) AS frame_no,
        |  CAST(greatest(least(64, n - frame_no * 64), 0) AS INT) AS frame_bytes
        |FROM f WHERE frame_no % 2 = 0
        |ORDER BY media_id, frame_no""".stripMargin),
    bench = true),
  )
}
