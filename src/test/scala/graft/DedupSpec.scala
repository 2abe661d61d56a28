package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.expr.SimHash64

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("exact dedup keeps one representative per distinct text, min id") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "text", "doc_id").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got == Map("aaa" -> 1L, "bbb" -> 2L))
  }

  test("exact dedup with normalizeKeys: codepoint-variant twins collapse, raw keys don't") {
    // doc 2 is doc 1 with the accent DECOMPOSED (e + U+0301) and a
    // zero-width space planted — visually identical, byte-distinct
    val df = Seq(
      (1L, "caf\u00E9 menu"),
      (2L, "café m​enu"),
      (3L, "something else")).toDF("doc_id", "text")
    val raw = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 2L, 3L), "raw byte keys must NOT merge the variants")
    val norm = Dedup.exact(df, "text", "doc_id", normalizeKeys = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(norm == Set(1L, 3L), "normalized keys merge the twins, min id wins")
    // output text is the ORIGINAL, not the normalized form
    val kept = Dedup.exact(df, "text", "doc_id", normalizeKeys = true)
      .filter($"doc_id" === 1L).select("text").head().getString(0)
    assert(kept == "caf\u00E9 menu")
    // strongKey composes with normalization
    val strong = Dedup.exact(df, "text", "doc_id", strongKey = true,
      normalizeKeys = true).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strong == Set(1L, 3L))
  }

  test("paragraphDedup: shared chunk survives once, unique chunks all survive") {
    // 4-token windows; doc 1 and doc 2 share an identical second chunk,
    // doc 3 is all-unique. The shared chunk must survive only at its
    // smallest (doc_id, chunk_no); everything else survives untouched.
    val shared = "same same same same"
    val df = Seq(
      (1L, s"one two three four $shared"),
      (2L, s"five six seven eight $shared"),
      (3L, "nine ten eleven twelve")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, "text", "doc_id", chunkTokens = 4)
      .select("doc_id", "chunk_no", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got == Map(
      (1L, 0) -> "one two three four",
      (1L, 1) -> shared,
      (2L, 0) -> "five six seven eight",
      (3L, 0) -> "nine ten eleven twelve"))
  }

  test("exact dedup with strongKey (sha2) selects the same survivors") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "bbb"))
      .toDF("doc_id", "text")
    def ids(strong: Boolean) = Dedup.exact(df, "text", "doc_id", strong)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(strong = true) == ids(strong = false))
    assert(ids(strong = true) == Set(1L, 2L, 4L))
  }

  test("paragraphDedup is idempotent on an already-deduped corpus") {
    val df = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val once = Dedup.paragraphDedup(df, "text", "doc_id", chunkTokens = 4)
    assert(once.count() == 2)
  }

  test("simhash: identical docs hash identical; near docs within few bits; far docs far") {
    val a = SimHash64.compute(base.getBytes("UTF-8"))
    val a2 = SimHash64.compute(base.getBytes("UTF-8"))
    val near = SimHash64.compute(base.replace("dog", "cat").getBytes("UTF-8"))
    val far = SimHash64.compute(
      "completely different content about spark query engines at scale".getBytes("UTF-8"))
    assert(a == a2)
    assert(SimHash64.hamming(a, near) < SimHash64.hamming(a, far))
    assert(SimHash64.hamming(a, near) <= 16)
  }

  test("simhashNearDup finds planted near-duplicates") {
    val docs = (0 until 50).map(i => (i.toLong, s"unique document number $i with words " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")) ++
      Seq((100L, base), (101L, base.replace("dog", "cat")))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(df, "text", "doc_id", maxHamming = 12)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((100L, 101L)), s"got ${pairs.mkString(",")}")
  }

  test("minhashNearDup: planted near-dup pair found, distance sane") {
    val docs = (0 until 30).map(i => (i.toLong,
        s"doc $i " + (0 until 30).map(j => s"tok${i}_$j").mkString(" "))) ++
      Seq((100L, base * 3), (101L, (base * 3).replace("dog", "cat")))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDup(df, "text", "doc_id", maxDist = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 100L && p._2 == 101L && p._3 < 0.3),
      s"got ${pairs.mkString(",")}")
  }

  test("ngramJaccard: identical docs = 1.0, disjoint docs = 0.0") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(pairs, docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 3L)) == 0.0)
  }

  test("embeddingNearDup finds a planted duplicate vector") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val planted = vecs :+ (100L, vecs.head._2.map(v => v * 1.001f))
    val df = planted.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "embedding", "vec_id",
        minCosine = 0.99, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 100L)), s"got ${pairs.mkString(",")}")
  }

  test("duplicatedSpans: planted cross-doc phrase found at exact token coords") {
    // docs 1 and 2 share an 8-token phrase at different offsets; the
    // rest of each doc is unique. With n=4, every 4-shingle inside the
    // phrase duplicates and nothing else does.
    val phrase = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"u1 u2 u3 $phrase t1 t2"),         // phrase at tokens 3..10
      (2L, s"$phrase v1 v2 v3 v4 v5 v6"),      // phrase at tokens 0..7
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")). // no duplication
      toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 3, 11), (2L, 0, 8)), s"got $spans")
  }

  test("duplicatedSpans: within-doc repetition counts as duplication") {
    val df = Seq(
      (1L, "a b c d X Y a b c d Z")).toDF("doc_id", "text")
    // "a b c d" occurs twice inside one doc → both positions dup'd;
    // the two 4-token windows are >4 apart so they stay separate spans
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((0, 4), (6, 10)), s"got $spans")
  }

  test("duplicatedSpans: maxGap=1 keeps strict runs, default fuses overlaps") {
    // doc 1's windows at pos 0 ("a b c d", shared with doc 2) and
    // pos 2 ("c d e f", shared with doc 3) overlap as token intervals
    // [0,4)+[2,6) while pos 1 is unique: the default (gap=n) fuses
    // them into [0,6); strict gap=1 keeps the two runs apart
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "z c d e f w")).toDF("doc_id", "text")
    val fused = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4)
      .filter($"doc_id" === 1L)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(fused == Set((0, 6)), s"got $fused")
    val strict = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4,
        maxGap = 1)
      .filter($"doc_id" === 1L)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(strict == Set((0, 4), (2, 6)), s"got $strict")
  }

  test("removeSpans cuts exactly the span tokens; untouched docs pass through") {
    val phrase = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"u1 u2 u3 $phrase t1 t2"),
      (2L, s"$phrase v1 v2 v3 v4 v5 v6"),
      (3L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4)
    val out = Dedup.removeSpans(df, spans, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "u1 u2 u3 t1 t2")
    assert(out(2L) == "v1 v2 v3 v4 v5 v6")
    assert(out(3L) == "w1 w2 w3 w4 w5")
  }

  test("removeSpans: a fully-duplicated doc empties cleanly") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, "text", "doc_id", n = 4)
    val out = Dedup.removeSpans(df, spans, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "", 2L -> ""))
  }

  private def incCorpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 0 (old-new)
    (2L, "a completely different document about distributed systems design"),
    (3L, "an unrelated essay on the history of typography and printing"),
    (4L, "a completely different document about distributed systems design"), // dup of 2 (old-old? 2,4 both even)
    (5L, "an unrelated essay on the history of typography and printing")) // dup of 3 (odd-odd)
    .toDF("doc_id", "text")

  test("incremental index: pairs(old∪new) == pairs(old) ⊎ incremental(new, idx)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shidx").toString + "/idx"
    val old = incCorpus.filter($"doc_id" % 2 === 0)
    val nw = incCorpus.filter($"doc_id" % 2 === 1)
    Dedup.writeSimhashIndex(old, "text", "doc_id", dir, maxHamming = 3)
    val inc = Dedup.simhashNearDupIncremental(nw, dir, "text", "doc_id", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.simhashNearDup(incCorpus, "text", "doc_id", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldOnly = Dedup.simhashNearDup(old, "text", "doc_id", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.contains((0L, 1L)), s"old-new dup missing: $inc") // crosses the index
    assert(inc.contains((3L, 5L)), s"new-new dup missing: $inc")
    assert(oldOnly.contains((2L, 4L)), s"old-old dup missing: $oldOnly")
    assert((oldOnly ++ inc) == full, s"oldOnly=$oldOnly inc=$inc full=$full")
    assert((oldOnly & inc).isEmpty)
  }

  test("incremental index: band-layout mismatch fails loudly, append folds in") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shidx2").toString + "/idx"
    val old = incCorpus.filter($"doc_id" % 2 === 0)
    val nw = incCorpus.filter($"doc_id" % 2 === 1)
    Dedup.writeSimhashIndex(old, "text", "doc_id", dir, maxHamming = 3)
    val exQ = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupIncremental(nw, dir, "text", "doc_id", maxHamming = 7)
    }
    assert(exQ.getMessage.contains("maxHamming=3"), exQ.getMessage)
    val exA = intercept[IllegalArgumentException] {
      Dedup.writeSimhashIndex(nw, "text", "doc_id", dir, maxHamming = 7,
        mode = "append")
    }
    assert(exA.getMessage.contains("append"), exA.getMessage)
    Dedup.writeSimhashIndex(nw, "text", "doc_id", dir, maxHamming = 3,
      mode = "append")
    // 6 docs x 4 bands after the fold
    assert(spark.read.parquet(dir).count() == 24L)
  }

  test("hamming index: generic fingerprints — equivalence, layout guard, append folds in") {
    // hand-planted 64-bit fingerprints: 0≈1 (old-new, hamming 1),
    // 2≈4 (old-old), 3≈5 (new-new, hamming 2), 6 isolated
    val fps = Seq((0L, 0x00FFL), (1L, 0x00FEL), (2L, 0xAA00L),
      (4L, 0xAA00L), (3L, 0x1111L), (5L, 0x1113L), (6L, 0x7f00ff00L))
      .toDF("id", "bits")
    val dir = java.nio.file.Files.createTempDirectory("graft_hidx").toString + "/idx"
    val old = fps.filter($"id" % 2 === 0)
    val nw = fps.filter($"id" % 2 === 1)
    Dedup.writeHammingIndex(old, "bits", "id", dir, maxHamming = 3)
    val inc = Dedup.hammingNearDupIncremental(nw, dir, "bits", "id", 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.hammingNearDup(fps, "bits", "id", 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldOnly = Dedup.hammingNearDup(old, "bits", "id", 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == Set((0L, 1L), (3L, 5L)), inc.toString)
    assert(oldOnly == Set((2L, 4L)), oldOnly.toString)
    assert((oldOnly ++ inc) == full && (oldOnly & inc).isEmpty)
    // layout guard + append fold (7 ids x 4 bands after the fold)
    val exQ = intercept[IllegalArgumentException] {
      Dedup.hammingNearDupIncremental(nw, dir, "bits", "id", maxHamming = 7)
    }
    assert(exQ.getMessage.contains("maxHamming=3"), exQ.getMessage)
    Dedup.writeHammingIndex(nw, "bits", "id", dir, maxHamming = 3,
      mode = "append")
    assert(spark.read.parquet(dir).count() == 28L)
  }

  test("signature index: multi-fingerprint incremental — per-pair min exact, decomposition holds") {
    // entities with SEVERAL fingerprints each (a video's per-frame
    // dHashes): 1,2 old; 3,4 new. Planted minima:
    //  (1,2) old-only at 0; (1,3) min over 4 frame pairs = 1 — the
    //  minimizing pair is (new frame 0x01, old frame 0x00), so the
    //  min must come from the new-vs-index join; (2,3)=1, (1,4)=2,
    //  (2,4)=2, (3,4)=1 new-new.
    val frames = Seq((1L, 0x00L), (1L, 0xF0L), (2L, 0x00L),
      (3L, 0x01L), (3L, 0xFFL), (4L, 0x03L)).toDF("id", "bits")
    val old = frames.filter($"id" <= 2)
    val nw = frames.filter($"id" >= 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sigidx").toString + "/idx"
    Dedup.writeHammingIndex(old, "bits", "id", dir, maxHamming = 3)
    val inc = Dedup.signatureNearDupIncremental(nw, dir, "bits", "id",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(inc == Set((1L, 3L, 1), (2L, 3L, 1), (1L, 4L, 2),
      (2L, 4L, 2), (3L, 4L, 1)), inc.toString)
    // decomposition at the pair level, min values included
    val full = Dedup.signatureNearDup(frames, "bits", "id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val oldOnly = Dedup.signatureNearDup(old, "bits", "id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(oldOnly == Set((1L, 2L, 0)), oldOnly.toString)
    assert((oldOnly ++ inc) == full)
    assert(oldOnly.map(p => (p._1, p._2))
      .intersect(inc.map(p => (p._1, p._2))).isEmpty)
  }

  test("minhash index: pairs(old∪new) == pairs(old) ⊎ incremental(new, idx); guards + append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString + "/idx"
    val old = incCorpus.filter($"doc_id" % 2 === 0)
    val nw = incCorpus.filter($"doc_id" % 2 === 1)
    Dedup.writeMinhashIndex(old, "text", "doc_id", dir, numTables = 8)
    val inc = Dedup.minhashNearDupIncremental(nw, dir, "text", "doc_id",
        maxDist = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDup(incCorpus, "text", "doc_id", maxDist = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldOnly = Dedup.minhashNearDup(old, "text", "doc_id", maxDist = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.contains((0L, 1L)), s"old-new dup missing: $inc")
    assert(inc.contains((3L, 5L)), s"new-new dup missing: $inc")
    assert(oldOnly.contains((2L, 4L)), s"old-old dup missing: $oldOnly")
    assert((oldOnly ++ inc) == full, s"oldOnly=$oldOnly inc=$inc full=$full")
    assert((oldOnly & inc).isEmpty)
    // layout mismatches fail loudly on query AND append
    val exQ = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupIncremental(nw, dir, "text", "doc_id",
        numTables = 4)
    }
    assert(exQ.getMessage.contains("tables=8"), exQ.getMessage)
    val exA = intercept[IllegalArgumentException] {
      Dedup.writeMinhashIndex(nw, "text", "doc_id", dir, shingle = 7,
        mode = "append")
    }
    assert(exA.getMessage.contains("append"), exA.getMessage)
    // fold: 6 docs x 8 tables of band rows, 6 shingle-set rows
    Dedup.writeMinhashIndex(nw, "text", "doc_id", dir, mode = "append")
    assert(spark.read.parquet(dir).count() == 48L)
    assert(spark.read.parquet(dir + "__sets").count() == 6L)
  }

  test("embedding index: pairs(old∪new) == pairs(old) ⊎ incremental(new, idx); guards") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embidx").toString + "/idx"
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // planted dups across the parity split: 41 dups 0 (old-new),
    // 43 dups 1 (both odd: new-new), 42 dups 2 (both even: old-old)
    val all = base ++ Seq(
      (41L, base(0)._2.map(_ * 1.001f)),
      (43L, base(1)._2.map(_ * 1.001f)),
      (42L, base(2)._2.map(_ * 1.001f)))
    val df = all.toDF("vec_id", "embedding")
    val old = df.filter($"vec_id" % 2 === 0)
    val nw = df.filter($"vec_id" % 2 === 1)
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDup(d, "embedding", "vec_id",
          minCosine = 0.99, planes = 4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.writeEmbeddingIndex(old, "embedding", "vec_id", dir,
      minCosine = 0.99, planes = 4)
    val inc = Dedup.embeddingNearDupIncremental(nw, dir, "embedding",
        "vec_id", minCosine = 0.99, planes = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairsOf(df)
    val oldOnly = pairsOf(old)
    assert(inc.contains((0L, 41L)), s"old-new dup missing: $inc")
    assert(inc.contains((1L, 43L)), s"new-new dup missing: $inc")
    assert(oldOnly.contains((2L, 42L)), s"old-old dup missing: $oldOnly")
    assert((oldOnly ++ inc) == full, s"oldOnly=$oldOnly inc=$inc full=$full")
    assert((oldOnly & inc).isEmpty)
    // layout mismatch fails loudly (different planes => different tables)
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupIncremental(nw, dir, "embedding", "vec_id",
        minCosine = 0.99, planes = 8)
    }
    assert(ex.getMessage.contains("planes=4"), ex.getMessage)
    // append: a mismatched layout is refused, the matching one folds
    // the batch into the vector sidecar (43 vectors after the fold)
    val exA = intercept[IllegalArgumentException] {
      Dedup.writeEmbeddingIndex(nw, "embedding", "vec_id", dir,
        minCosine = 0.99, planes = 8, mode = "append")
    }
    assert(exA.getMessage.contains("append") &&
      exA.getMessage.contains("planes=4"), exA.getMessage)
    Dedup.writeEmbeddingIndex(nw, "embedding", "vec_id", dir,
      minCosine = 0.99, planes = 4, mode = "append")
    assert(spark.read.parquet(dir + "__vecs").count() == 43L)
  }

  test("semDedup: planted near-identical vectors collapse to the min id") {
    // two tight groups on orthogonal axes + a lone vector; any k-means
    // split keeps each tight group inside ONE cluster (they are
    // near-coincident points), so the within-cluster verify must group
    // them regardless of where the centroids land
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat)
    val emb = Seq(
      (1L, v(1, 0.01, 0)), (2L, v(1, 0.02, 0)), (3L, v(1, 0, 0.01)),
      (10L, v(0, 1, 0.01)), (11L, v(0.01, 1, 0)),
      (20L, v(0, 0.01, -1))).toDF("vec_id", "embedding")
    val surv = Dedup.semDedup(emb, "embedding", "vec_id",
        minCosine = 0.99, nlist = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(surv == Set(1L, 10L, 20L))
  }

  test("semDedupAssign: group labels are min ids and partition the input") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val emb = Seq((5L, v(1, 0)), (6L, v(1, 0.001)), (7L, v(0, 1)))
      .toDF("vec_id", "embedding")
    val assign = Dedup.semDedupAssign(emb, "embedding", "vec_id",
      minCosine = 0.99, nlist = 2).collect()
    assert(assign.length == 3)
    val groups = assign.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(groups(5L) == 5L && groups(6L) == 5L && groups(7L) == 7L)
  }

  test("semDedup: degenerate clustering fails loudly at the cap") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val emb = (1L to 20L).map(i => (i, v(i.toDouble, 1)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Dedup.semDedup(emb, "embedding", "vec_id", nlist = 2,
        maxClusterRows = 5L)
    }
    assert(ex.getMessage.contains("maxClusterRows"), ex.getMessage)
  }

  test("containment: a verbatim quote scores 1.0 where Jaccard is small") {
    val short = "alpha beta gamma delta epsilon"
    val long = ("x" + (1 to 40).map(i => s" w$i").mkString) +
      " " + short + (41 to 80).map(i => s" w$i").mkString
    val docs = Seq((1L, short), (2L, long), (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val out = Dedup.containment(docs, "text", "doc_id", n = 3,
      minContainment = 0.9).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // every one of the short doc's 3 grams appears in the long doc
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L)
    assert(r.getDouble(5) == 1.0)
    // ...while Jaccard over the same grams is far below any dedup bar
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val jac = Dedup.ngramJaccard(pairs, docs, "text", "doc_id", n = 3)
      .collect().head.getDouble(2)
    assert(jac < 0.1, s"jaccard was $jac")
  }

  test("containment: threshold is integer-exact and symmetric in min-size") {
    // A has 4 grams (6 tokens), B shares exactly 2 of them ->
    // containment 2/4 = 0.5: included at 0.5, excluded just above
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c z1 z2 c d e"))
      .toDF("doc_id", "text")
    val at = Dedup.containment(docs, "text", "doc_id", n = 3,
      minContainment = 0.5).collect()
    assert(at.length == 1 && at.head.getLong(2) == 2L)
    val above = Dedup.containment(docs, "text", "doc_id", n = 3,
      minContainment = 0.500001).collect()
    assert(above.isEmpty)
  }

  test("containment: hot gram fails loudly at maxGramDf") {
    val docs = (1L to 30L).map(i => (i, s"same same same tail$i"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.containment(docs, "text", "doc_id", n = 3,
        minContainment = 0.5, maxGramDf = 10L)
    }
    assert(ex.getMessage.contains("maxGramDf"), ex.getMessage)
  }

  test("containment: empty input returns zero pairs, not an NPE from the hot-gram pre-flight") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.containment(empty, "text", "doc_id", n = 3,
      minContainment = 0.5).collect().isEmpty)
  }

  test("lshTuning: closed forms at the grid, monotone S-curve, guard") {
    val got = Dedup.lshTuning(spark, bands = 8, rowsPerBand = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.size == 19) // 5..95 by 5
    // r=1: p_band = J exactly through exp(ln); at J=0.5 the detect
    // probability is 1 - 0.5^8 = 255/256
    def mirrored(j: Double, r: Double, b: Double): (Long, Long) = {
      val pb = math.exp(r * math.log(j))
      (math.round(pb * 1e6),
        math.round((1.0 - math.exp(b * math.log(1.0 - pb))) * 1e6))
    }
    assert(got(50L) == mirrored(0.5, 1.0, 8.0))
    assert(got(50L)._2 == 996094L) // 1 - 1/256
    assert(got(5L) == mirrored(0.05, 1.0, 8.0))
    assert(got(95L) == mirrored(0.95, 1.0, 8.0))
    // monotone increasing in J
    val curve = (5L to 95L by 5L).map(got(_)._2)
    assert(curve == curve.sorted)
    // a multi-row banding shifts the knee right: at J=0.5, 4x4 is
    // far less sensitive than 8x1
    val wide = Dedup.lshTuning(spark, bands = 4, rowsPerBand = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(wide(50L) == mirrored(0.5, 4.0, 4.0)._2 && wide(50L) < got(50L)._2)
    assertThrows[IllegalArgumentException] {
      Dedup.lshTuning(spark, bands = 0, rowsPerBand = 1)
    }
  }

  test("gram index: incremental containment equals the restricted full recompute") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),        // shares the a-b-c-d prefix with 1
      (3L, "p q r s t u v"),
      (4L, "a b c d e f g h extra"),  // contains doc 1 wholesale
      (5L, "p q r s t different")     // shares p-q-r-s with 3
    ).toDF("doc_id", "text")
    val old = docs.filter($"doc_id" <= 2)
    val nw = docs.filter($"doc_id" >= 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gridx").toString + "/idx"
    Dedup.writeGramIndex(old, "text", "doc_id", dir, n = 3)
    val inc = Dedup.containmentIncremental(nw, dir, "text", "doc_id",
        n = 3, minContainment = 0.5)
      .select($"id_a", $"id_b", $"n_overlap", $"n_a", $"n_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val fullRestricted = Dedup.containment(docs, "text", "doc_id",
        n = 3, minContainment = 0.5)
      .filter($"id_a" >= 3 || $"id_b" >= 3)
      .select($"id_a", $"id_b", $"n_overlap", $"n_a", $"n_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(inc == fullRestricted, s"inc=$inc full=$fullRestricted")
    // the mixed containment pair (1 inside 4) must be present
    assert(inc.exists(p => p._1 == 1L && p._2 == 4L), inc)
  }

  test("gram index guards: n mismatch, id overlap, hot gram split across the boundary") {
    val old = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gridx2").toString + "/idx"
    Dedup.writeGramIndex(old, "text", "doc_id", dir, n = 3)
    // shingle-width mismatch refuses on query and append
    val exN = intercept[IllegalArgumentException] {
      Dedup.containmentIncremental(
        Seq((3L, "a b c d")).toDF("doc_id", "text"), dir, "text",
        "doc_id", n = 4)
    }
    assert(exN.getMessage.contains("n=3"), exN.getMessage)
    val exA = intercept[IllegalArgumentException] {
      Dedup.writeGramIndex(Seq((3L, "x")).toDF("doc_id", "text"),
        "text", "doc_id", dir, n = 4, mode = "append")
    }
    assert(exA.getMessage.contains("n=3"), exA.getMessage)
    // a re-crawled id refuses loudly (silent double-count otherwise)
    val exId = intercept[IllegalArgumentException] {
      Dedup.containmentIncremental(
        Seq((1L, "a b c d")).toDF("doc_id", "text"), dir, "text",
        "doc_id", n = 3)
    }
    assert(exId.getMessage.contains("disjoint"), exId.getMessage)
    val exIdA = intercept[IllegalArgumentException] {
      Dedup.writeGramIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
        "text", "doc_id", dir, n = 3, mode = "append")
    }
    assert(exIdA.getMessage.contains("double-count"), exIdA.getMessage)
    // a gram hot only ACROSS the boundary (1 old + 2 new = 3 > cap 2)
    // must still fail loudly — the guard sums history and batch
    val exHot = intercept[IllegalArgumentException] {
      Dedup.containmentIncremental(
        Seq((10L, "a b c z"), (11L, "a b c w")).toDF("doc_id", "text"),
        dir, "text", "doc_id", n = 3, maxGramDf = 2L)
    }
    assert(exHot.getMessage.contains("maxGramDf"), exHot.getMessage)
  }

  test("index writers refuse a mode other than overwrite/append before any job") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mode").toString + "/idx"
    val docs = Seq((1L, "a b c d e"), (2L, "e f g h i")).toDF("doc_id", "text")
    Dedup.writeGramIndex(docs, "text", "doc_id", dir, n = 3)
    val postings = spark.read.parquet(dir).count()
    // Spark's own writer ignores case, so "Append" would have appended
    // n=5 postings over the n=3 index and rewritten its layout
    val (ex, jobs) = jobsDuring(intercept[IllegalArgumentException] {
      Dedup.writeGramIndex(docs, "text", "doc_id", dir, n = 5,
        mode = "Append")
    })
    assert(ex.getMessage.contains("Append"), ex.getMessage)
    assert(jobs == 0)
    assert(spark.read.parquet(dir).count() == postings)
    assert(spark.read.parquet(dir + "__meta").head().getInt(0) == 3)
    val fps = Seq((1L, 7L)).toDF("id", "bits")
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    for (mode <- Seq("Append", "OVERWRITE", "ignore", "errorifexists")) {
      val other = dir + "_" + mode
      val writers: Seq[() => Unit] = Seq(
        () => Dedup.writeSimhashIndex(docs, "text", "doc_id", other,
          mode = mode),
        () => Dedup.writeHammingIndex(fps, "bits", "id", other, mode = mode),
        () => Dedup.writeMinhashIndex(docs, "text", "doc_id", other,
          mode = mode),
        () => Dedup.writeEmbeddingIndex(emb, "embedding", "vec_id", other,
          mode = mode),
        () => Dedup.writeGramIndex(docs, "text", "doc_id", other,
          mode = mode),
        () => graft.llm.TextAnalysis.bm25SaveIndex(docs, "doc_id", "text",
          other, mode = mode),
        () => graft.llm.TextAnalysis.writeLineCensus(docs, "doc_id", "text",
          other, mode = mode))
      for (w <- writers) {
        val (e, n) = jobsDuring(intercept[IllegalArgumentException](w()))
        assert(e.getMessage.contains(s"\"$mode\""), e.getMessage)
        assert(n == 0, s"$mode ran $n jobs")
      }
      assert(!new java.io.File(other).exists())
    }
  }

  test("gram index append writes the __sizes sidecar first: a retry after a failed append does not double-count") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_grcrash").toString + "/idx"
    val old = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val nw = Seq((3L, "a b c d e f g h")).toDF("doc_id", "text")
    Dedup.writeGramIndex(old, "text", "doc_id", dir, n = 8)
    val restore = sidecarAsFile(dir + "__sizes")
    intercept[Exception] {
      Dedup.writeGramIndex(nw, "text", "doc_id", dir, n = 8, mode = "append")
    }
    restore()
    // the failed append wrote nothing, so the retry appends once
    assert(spark.read.parquet(dir).count() == 2L)
    Dedup.writeGramIndex(nw, "text", "doc_id", dir, n = 8, mode = "append")
    assert(spark.read.parquet(dir).count() == 3L)
    assert(spark.read.parquet(dir + "__sizes").count() == 3L)
    // doc 4 twins docs 1 and 3: one shared 8-gram each, containment
    // 1.0 — a doubled posting of doc 3 would read 2 grams of 1
    val got = Dedup.containmentIncremental(
        Seq((4L, "a b c d e f g h")).toDF("doc_id", "text"), dir, "text",
        "doc_id", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5))).toSet
    assert(got == Set((1L, 4L, 1L, 1.0), (3L, 4L, 1L, 1.0)), got.toString)
  }

  test("MinHash and embedding appends refuse an id already in __sets / __vecs") {
    val base = java.nio.file.Files.createTempDirectory("graft_lshdup").toString
    val old = incCorpus.filter($"doc_id" % 2 === 0)
    Dedup.writeMinhashIndex(old, "text", "doc_id", base + "/mh")
    // id 2 re-crawled: appending it again would report its later
    // near-dups twice
    val recrawl = Seq((2L, "a re-crawled page under an indexed id"),
      (7L, "a fresh page")).toDF("doc_id", "text")
    val exM = intercept[IllegalArgumentException] {
      Dedup.writeMinhashIndex(recrawl, "text", "doc_id", base + "/mh",
        mode = "append")
    }
    assert(exM.getMessage.contains("id 2 is already indexed"), exM.getMessage)
    assert(spark.read.parquet(base + "/mh__sets").count() == 3L)
    assert(spark.read.parquet(base + "/mh").count() == 24L)
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Dedup.writeEmbeddingIndex(emb, "embedding", "vec_id", base + "/emb")
    val exE = intercept[IllegalArgumentException] {
      Dedup.writeEmbeddingIndex(
        Seq((2L, Array(0.0f, 1.0f)), (9L, Array(0.0f, 1.0f)))
          .toDF("vec_id", "embedding"),
        "embedding", "vec_id", base + "/emb", mode = "append")
    }
    assert(exE.getMessage.contains("id 2 is already indexed"), exE.getMessage)
    assert(spark.read.parquet(base + "/emb__vecs").count() == 2L)
  }
}
