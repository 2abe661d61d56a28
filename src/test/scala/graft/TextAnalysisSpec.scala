package graft

import org.apache.spark.sql.functions._
import graft.llm.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId identifies stopword-rich samples") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a good day for the dog"),
      (2L, "le chat est sur la table et il est un bon jour pour les chats"),
      (3L, "der hund ist ein gutes tier und die katze ist auch ein tier"),
      (4L, "el perro es un buen animal y la casa es de los gatos"),
      (5L, "zzz qqq www rrr ttt")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df, "text").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "fr")
    assert(got(3L) == "de"); assert(got(4L) == "es")
    assert(got(5L) == "und")
  }

  test("tokenCounts: ws tokens, bpe chunks, estimate") {
    val df = Seq((1L, "hello world, it's 2024!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df, "text").collect()(0)
    assert(r.getAs[Int]("n_ws_tokens") == 4)
    // chunks: hello, world, ",", it, "'", s, 2024, "!"
    assert(r.getAs[Int]("n_bpe_chunks") == 8)
    assert(r.getAs[Int]("n_tokens_est") == math.ceil(23 / 4.0).toInt)
  }

  test("repetitionScore: exact fractions on crafted docs") {
    val df = Seq(
      (1L, "a a a a"),   // 3/4 dup tokens; "a a"×3 of 3 bigrams; "a a a"×2 → 1/2 dup trigrams
      (2L, "a b c d"),   // all distinct; 3 distinct bigrams → top 1/3; no dup trigrams
      (3L, "x")          // too short for any gram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionScore(df, "text").collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("dup_token_frac"),
        r.getAs[Double]("top_bigram_frac"), r.getAs[Double]("dup_trigram_frac"))).toMap
    assert(got(1L) == ((0.75, 1.0, 0.5)))
    assert(got(2L) == ((0.0, 1.0 / 3.0, 0.0)))
    assert(got(3L) == ((0.0, 0.0, 0.0)))
  }

  test("decontaminate flags only docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix the quick brown fox jumps suffix"), // shares 2 distinct 4-grams
      (2L, "totally unrelated words appear here now"),
      (3L, "too short")).toDF("doc_id", "text")
    val got = graft.llm.Decontaminate.flag(corpus, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(1L -> ((2L, true)), 2L -> ((0L, false)), 3L -> ((0L, false))))
  }

  test("flagBloom: superset of exact flags, no false negatives") {
    val bench = Seq((100L, "the quick brown fox jumps high today")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix the quick brown fox jumps suffix"),
      (2L, "totally unrelated words appear here now"),
      (3L, "more clean content with no overlap at all")).toDF("doc_id", "text")
    def flags(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val exact = flags(graft.llm.Decontaminate.flag(corpus, bench, "text", "doc_id", n = 4))
    val bloom = flags(graft.llm.Decontaminate.flagBloom(corpus, bench, "text", "doc_id", n = 4))
    assert(exact(1L) && !exact(2L) && !exact(3L))
    // bloom ⊇ exact (no false negatives); on 3 grams FPs are ~impossible
    assert(exact.forall { case (id, c) => !c || bloom(id) })
    assert(bloom == exact)
  }

  test("flagSemantic: near-duplicate embedding flagged, orthogonal clean; full probe exact") {
    // corpus: vec 1 nearly parallel to benchmark vec 100; vec 2
    // orthogonal; vec 3 anti-parallel
    val corpus = Seq(
      (1L, Array(1.0f, 0.01f, 0f, 0f)),
      (2L, Array(0f, 1.0f, 0f, 0f)),
      (3L, Array(-1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val bench = Seq((100L, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // nprobe == nlist: every cell probed, the flag set is EXACT
    val got = graft.llm.Decontaminate.flagSemantic(corpus, bench,
        "embedding", "vec_id", minCosineMicros = 900000L, nlist = 2,
        nprobe = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got == Map(1L -> ((1L, true)), 2L -> ((0L, false)),
      3L -> ((0L, false))), got.toString)
  }

  test("qualityScore in [0,1]; clean prose scores above digit soup") {
    val df = Seq(
      (1L, ("the quick brown fox jumps over the lazy dog and it is a fine day " * 4)),
      (2L, "000 111 222 333 444 555 666 777 888 999 000 111 222 333 444 555"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityScore(df, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(got.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("fingerprint: equal texts equal, different texts differ") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("fingerprint")).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("extractEntities: capitalized spans, multi-word merge, subset of text") {
    val df = Seq((1L, "Barack Obama visited Paris while Angela Merkel stayed in Berlin"))
      .toDF("doc_id", "text")
    val ents = TextAnalysis.extractEntities(df, "text").collect()(0)
      .getSeq[String](2)
    assert(ents.contains("Barack Obama"))
    assert(ents.contains("Paris"))
    assert(ents.contains("Angela Merkel"))
    assert(ents.contains("Berlin"))
  }

  test("redactPii: planted emails/phones/IPs replaced and counted; clean text untouched") {
    val df = Seq(
      (1L, "contact bob.smith+x@example.org or 555-123-4567, server 10.0.0.1 ok"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(df, "text").orderBy("doc_id").collect()
    val row1 = r(0)
    assert(row1.getAs[String]("text_redacted") ==
      "contact <email> or <phone>, server <ip> ok")
    assert(row1.getAs[Int]("n_email") == 1)
    assert(row1.getAs[Int]("n_phone") == 1)
    assert(row1.getAs[Int]("n_ip") == 1)
    val row2 = r(1)
    assert(row2.getAs[String]("text_redacted") == "no pii here at all")
    assert(row2.getAs[Int]("n_email") + row2.getAs[Int]("n_phone")
      + row2.getAs[Int]("n_ip") == 0)
  }

  test("chunk: windows cover every token, overlap by exactly `overlap`, short docs = 1 chunk") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ") // 100 tokens
    val df = Seq((1L, text), (2L, "just three tokens")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(df, "text", "doc_id",
        chunkTokens = 10, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // step = 8: ceil((100-2)/8) = 13 windows
    assert(doc1.length == 13)
    assert(doc1.forall(_._4 <= 10))
    // consecutive windows share exactly `overlap` tokens
    val w0 = doc1(0)._3.split(" ")
    val w1 = doc1(1)._3.split(" ")
    assert(w0.takeRight(2).sameElements(w1.take(2)))
    // every source token appears in some chunk
    val seen = doc1.flatMap(_._3.split(" ")).toSet
    assert((1 to 100).forall(i => seen.contains(s"t$i")))
    // short doc: one chunk, full text, token count = 3
    val doc2 = chunks.filter(_._1 == 2L)
    assert(doc2.length == 1 && doc2(0)._3 == "just three tokens" && doc2(0)._4 == 3)
  }

  test("deflate_length matches a direct Deflater run and orders by entropy") {
    val repetitive = "spam " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "takes a long nap under the old oak tree near the river bank"
    val df = Seq((1L, repetitive), (2L, prose), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = df.select($"doc_id",
        graft.functions.deflate_length($"text").as("dl"),
        graft.functions.compression_ratio($"text").as("ratio"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getDouble(2)))).toMap
    // reference value straight from java.util.zip on the same bytes
    assert(got(1L)._1 == graft.expr.DeflateLength.compute(
      repetitive.getBytes("UTF-8")))
    // repetitive text compresses far below natural prose
    assert(got(1L)._2 < 0.1, s"repetitive ratio ${got(1L)._2}")
    assert(got(2L)._2 > 0.5, s"prose ratio ${got(2L)._2}")
    // null propagates
    assert(got(3L) == null)
  }

  test("interleave_bits: morton spread matches a naive bit loop") {
    def naive(a: Long, b: Long): Long = {
      var out = 0L
      for (i <- 0 until 32)
        out |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      out
    }
    for ((a, b) <- Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
        (0xffffffffL, 0L), (12345L, 67890L)))
      assert(graft.expr.InterleaveBits.morton(a, b) == naive(a, b), s"($a,$b)")
    // column form agrees (exercises codegen path)
    val got = Seq((3, 5)).toDF("a", "b")
      .select(graft.functions.interleave_bits($"a", $"b")).collect()(0).getLong(0)
    assert(got == naive(3, 5))
  }

  test("interleave_bits: 3-D and 4-D morton match naive bit loops") {
    def naive(xs: Seq[Long]): Long = {
      val k = xs.size
      var out = 0L
      for (i <- 0 until 64 / k; (x, d) <- xs.zipWithIndex)
        out |= ((x >> i) & 1L) << (k * i + d)
      out
    }
    val cases = Seq(0L, 1L, 3L, 0x1fffffL, 0xffffL, 54321L, 0xffffffffL)
    for (a <- cases; b <- cases; c <- Seq(0L, 7L, 0x1fffffL)) {
      assert(graft.expr.InterleaveBits.morton3(a, b, c) == naive(Seq(a, b, c)),
        s"morton3($a,$b,$c)")
      assert(graft.expr.InterleaveBits.morton4(a, b, c, a) == naive(Seq(a, b, c, a)),
        s"morton4($a,$b,$c,$a)")
    }
    // column + SQL forms agree (exercise codegen and the registry)
    graft.functions.registerAll(spark)
    val viaCol = Seq((3, 5, 6)).toDF("a", "b", "c")
      .select(graft.functions.interleave_bits($"a", $"b", $"c"))
      .collect()(0).getLong(0)
    val viaSql = spark.sql("SELECT interleave_bits(3, 5, 6) AS z")
      .collect()(0).getLong(0)
    assert(viaCol == naive(Seq(3L, 5L, 6L)) && viaSql == viaCol)
    // analysis-time rejection of bad arity and non-integral input
    intercept[Exception] { spark.sql("SELECT interleave_bits(1)").collect() }
    intercept[Exception] { spark.sql("SELECT interleave_bits('a', 'b')").collect() }
  }

  test("hilbert_index: bijective, unit-step adjacent, inverse round-trips; codegen + SQL agree") {
    import graft.expr.HilbertIndex._
    // order-4 curve (16x16 grid): full enumeration
    val order = 4; val side = 1L << order
    val cells = for (x <- 0L until side; y <- 0L until side)
      yield (x, y, xy2d(order, x, y))
    // bijection onto [0, side^2)
    assert(cells.map(_._3).sorted == (0L until side * side))
    // the defining Hilbert property: consecutive d are GRID-ADJACENT
    // (Manhattan distance exactly 1 — the Z-curve fails this at every
    // power-of-two boundary)
    val byD = cells.map(c => c._3 -> ((c._1, c._2))).toMap
    for (d <- 0L until side * side - 1) {
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
    // inverse round-trips
    for (d <- 0L until side * side) {
      val (x, y) = d2xy(order, d)
      assert(xy2d(order, x, y) == d, s"d=$d")
    }
    // expression masks to 16 bits; codegen column + SQL forms agree
    graft.functions.registerAll(spark)
    val viaCol = Seq((40000, 123)).toDF("a", "b")
      .select(graft.functions.hilbert_index($"a", $"b"))
      .collect()(0).getLong(0)
    assert(viaCol == xy2d(16, 40000L, 123L))
    val viaSql = spark.sql("SELECT hilbert_index(40000, 123) AS h")
      .collect()(0).getLong(0)
    assert(viaSql == viaCol)
    // NULL propagates; bad arity / non-integral rejected at analysis
    assert(Seq((Some(1), Option.empty[Int])).toDF("a", "b")
      .select(graft.functions.hilbert_index($"a", $"b"))
      .collect()(0).isNullAt(0))
    intercept[Exception] { spark.sql("SELECT hilbert_index(1)").collect() }
    intercept[Exception] { spark.sql("SELECT hilbert_index('a', 'b')").collect() }
  }

  test("url_canonicalize: case, ports, fragments, utm, param order; non-URLs unchanged") {
    import graft.expr.UrlCanonicalize.canonicalize
    def c(s: String) = canonicalize(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    // the full gauntlet in one URL
    assert(c("HTTPS://WWW.Example.COM:443/Docs/A?utm_source=x&b=2&a=1#frag")
      == "https://www.example.com/Docs/A?a=1&b=2")
    // http default port; path case preserved (path IS identity)
    assert(c("HTTP://Host:80/CaseSensitive") == "http://host/CaseSensitive")
    // non-default port kept
    assert(c("https://host:8443/x") == "https://host:8443/x")
    // all params tracking -> query drops entirely
    assert(c("https://h/p?utm_a=1&UTM_b=2") == "https://h/p")
    // query on a path-less authority
    assert(c("https://h?b=2&a=1") == "https://h?a=1&b=2")
    // idempotent
    assert(c(c("HTTPS://A.B:443/p?z=1&utm_x=9&y=2#f"))
      == c("HTTPS://A.B:443/p?z=1&utm_x=9&y=2#f"))
    // non-URL strings pass through byte-exact
    assert(c("not a url") == "not a url")
    assert(c("mailto:x@y.z") == "mailto:x@y.z")
    // column + SQL forms agree; NULL propagates
    graft.functions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT url_canonicalize('HTTP://A:80/x?b=1&a=2#z') AS u")
      .collect()(0).getString(0)
    assert(viaSql == "http://a/x?a=2&b=1")
    assert(Seq(Tuple1(Option.empty[String])).toDF("u")
      .select(graft.functions.url_canonicalize($"u"))
      .collect()(0).isNullAt(0))
  }

  test("deflate_length is usable from SQL after registerAll") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      "SELECT deflate_length('aaaaaaaaaaaaaaaaaaaaaaaa') AS dl").collect()(0)
    assert(r.getInt(0) > 0 && r.getInt(0) < 24)
  }

  test("unigramNll matches a driver-side unigram model; rare-token docs score worse") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the the the the"),              // all common tokens
      (3L, "zyzzyva qwghlm xyzzy"),         // all hapax tokens
      (4L, "")).toDF("doc_id", "text")      // empty: drops out
    val got = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver replica
    val corpus = Seq("the cat sat on the mat", "the the the the",
      "zyzzyva qwghlm xyzzy").flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val freq = corpus.groupBy(identity).view.mapValues(_.length.toDouble)
    val tot = corpus.length.toDouble
    def nll(s: String) = s.split("\\s+").filter(_.nonEmpty)
      .map(t => -math.round(math.log(freq(t) / tot) * 1e6)).sum
    assert(got(1L) == (6L, nll("the cat sat on the mat")))
    assert(got(2L) == (4L, nll("the the the the")))
    assert(got(3L) == (3L, nll("zyzzyva qwghlm xyzzy")))
    assert(!got.contains(4L))
    // per-token NLL ordering: common < rare
    assert(got(2L)._2 / 4 < got(3L)._2 / 3)
  }

  test("bigramNll matches a driver-side add-one model; shuffled text scores worse") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "a b a b a b a b"),   // the dominant transition
      (2L, "a b a b a b"),       // same transitions, shorter
      (3L, "b a a b b a a a"),   // salad: same WORDS, rare transitions
      (4L, "solo")).toDF("doc_id", "text") // < 2 tokens: drops out
    val got = TextAnalysis.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver replica of the add-one model over the same corpus —
    // including "solo": a doc too short for bigrams still contributes
    // its tokens to the context counts and the vocabulary size
    val texts = Seq("a b a b a b a b", "a b a b a b", "b a a b b a a a",
      "solo")
    val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val big = toks.flatMap(t => t.zip(t.tail)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val v = uni.size.toLong
    def bnll(s: String): (Long, Long) = {
      val t = s.split("\\s+").filter(_.nonEmpty).toSeq
      val pairs = t.zip(t.tail)
      (pairs.length.toLong, pairs.map { case (w1, w2) =>
        -math.round(math.log((big((w1, w2)) + 1).toDouble / (uni(w1) + v)) * 1e6)
      }.sum)
    }
    assert(got(1L) == bnll("a b a b a b a b"), s"got ${got(1L)}")
    assert(got(2L) == bnll("a b a b a b"))
    assert(got(3L) == bnll("b a a b b a a a"))
    assert(!got.contains(4L))
    // per-bigram surprisal: the salad doc scores worse than the
    // dominant-transition doc even though the token sets are equal
    assert(got(3L)._2 / got(3L)._1 > got(1L)._2 / got(1L)._1)
  }

  test("bm25Search matches a driver-side replica; ranking + cut behave") {
    val docs = Seq(
      (1L, "hash hash hash filler filler"),
      (2L, "hash join filler"),
      (3L, "join join hash"),
      (4L, "nothing relevant here at all"),
      (5L, "hash")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "doc_id", "text",
        Seq("hash", "join"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // exact replica of the operator's arithmetic tree
    val corpus = Map(1L -> "hash hash hash filler filler",
      2L -> "hash join filler", 3L -> "join join hash",
      4L -> "nothing relevant here at all", 5L -> "hash")
    val toks = corpus.view.mapValues(_.split("\\s+").toSeq).toMap
    val n = corpus.size.toLong
    val avgdl = toks.values.map(_.size).sum.toDouble / n.toDouble
    def dfOf(t: String) = toks.values.count(_.contains(t)).toLong
    def score(id: Long): (Long, Long) = {
      val hits = Seq("hash", "join").filter(t => toks(id).contains(t))
      val s = hits.map { t =>
        val tf = toks(id).count(_ == t).toDouble
        val df = dfOf(t)
        val idf = math.log(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
        math.round((idf * (tf * (1.2 + 1.0)) /
          (tf + 1.2 * (1.0 - 0.75 + 0.75 * (toks(id).size.toDouble / avgdl)))) * 1e6)
      }.sum
      (hits.size.toLong, s)
    }
    val want = Seq(1L, 2L, 3L, 5L).map(id => (id, score(id)))
      .sortBy { case (id, (_, s)) => (-s, id) }.take(3)
      .map { case (id, (h, s)) => (id, h, s) }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // doc 4 has no query terms: absent even when k allows it
    val all = TextAnalysis.bm25Search(docs, "doc_id", "text",
      Seq("hash", "join"), k = 10).collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 5L))
  }

  test("bm25 persisted index: indexed == ad-hoc bit-for-bit; append parity; dup append rejected") {
    val docs = (1L to 60L).map(i => (i,
      (Seq.fill((i % 4).toInt)("hash") ++ Seq.fill((i % 3).toInt)("join") ++
        Seq.fill((i % 5).toInt + 1)(s"filler${i % 7}")).mkString(" ")))
      .toDF("doc_id", "text")
    val q = Seq("hash", "join")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val adhoc = rows(TextAnalysis.bm25Search(docs, "doc_id", "text", q, k = 15))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bm25spec_${System.nanoTime()}"
    // full build: indexed search equals the corpus scan exactly
    TextAnalysis.bm25SaveIndex(docs, "doc_id", "text", base + "_full")
    assert(rows(TextAnalysis.bm25SearchIndexed(spark, base + "_full",
      "doc_id", q, k = 15)) == adhoc)
    // split build + append: same answer as the full build (totals
    // derive from the __docs sidecar, so append needs no stat merge)
    TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" <= 40),
      "doc_id", "text", base + "_inc")
    TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" > 40),
      "doc_id", "text", base + "_inc", mode = "append")
    assert(rows(TextAnalysis.bm25SearchIndexed(spark, base + "_inc",
      "doc_id", q, k = 15)) == adhoc)
    // re-appending already-indexed ids fails loudly (tf would double)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SaveIndex(docs.filter($"doc_id" > 40),
        "doc_id", "text", base + "_inc", mode = "append")
    }
    assert(e.getMessage.contains("already indexed"), e.getMessage)
    // crash discipline: a failure AFTER the __docs append but BEFORE
    // the postings append (docs-first write order) must make a retry
    // of the same batch trip the dup guard — never double-count tf.
    TextAnalysis.bm25SaveIndex(docs, "doc_id", "text", base + "_crash")
    val orphan = Seq((999L, 3L)).toDF("id", "dl")
    orphan.write.mode("append").parquet(base + "_crash__docs")
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SaveIndex(Seq((999L, "hash join")).toDF("doc_id", "text"),
        "doc_id", "text", base + "_crash", mode = "append")
    }
    assert(e3.getMessage.contains("already indexed"), e3.getMessage)
    // batch form: each qid's block equals the single-query path
    val qtab = Seq((7L, "hash"), (7L, "join"), (9L, "join"))
      .toDF("qid", "term")
    val batch = TextAnalysis.bm25SearchIndexedBatch(spark, base + "_full",
        "doc_id", qtab, k = 15)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)).toMap
    val single7 = rows(TextAnalysis.bm25SearchIndexed(spark, base + "_full",
      "doc_id", Seq("hash", "join"), k = 15)).sortBy(_._1)
    assert(batch(7L) == single7)
    val single9 = rows(TextAnalysis.bm25SearchIndexed(spark, base + "_full",
      "doc_id", Seq("join"), k = 15)).sortBy(_._1)
    assert(batch(9L) == single9)
    // vocabulary cap fails loudly
    val wide = (1 to 30).map(i => (1L, s"term$i")).toDF("qid", "term")
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SearchIndexedBatch(spark, base + "_full",
        "doc_id", wide, maxQueryTerms = 10)
    }
    assert(e2.getMessage.contains("maxQueryTerms"))
  }

  test("gopherRules: pass/fail reasons in rule order") {
    val docs = Seq(
      (1L, "the cat and the dog run to a tree in the park"),
      (2L, "zzz"),
      (3L, "the code 12345 6789 9999 of the"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "text", "doc_id")
      .select("doc_id", "n_words", "failed", "keep")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[String](2).toList, r.getBoolean(3)))).toMap
    assert(out(1L) == ((12L, Nil, true)))
    // one word: fails the floor AND has no stopwords — reasons come
    // out in fixed rule order
    assert(out(2L) == ((1L, List("word_count", "stopwords"), false)))
    // 13 digit chars of 31: 5*13 > 31 fails digit_ratio only
    assert(out(3L) == ((7L, List("digit_ratio"), false)))
  }

  test("readability: closed-form counts and scores; floors prevent div-by-zero") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sentences
      (2L, ""),                           // degenerate: all floors
      (3L, "no terminator here")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: words 6, sentences 2, vowel runs: e,a,a,e,o,a (6)
    assert(got(1L)._1 == 6L && got(1L)._2 == 2L && got(1L)._3 == 6L,
      got.toString)
    val fk1 = math.round((0.39 * (6.0 / 2.0) + 11.8 * (6.0 / 6.0) - 15.59) * 1e6)
    assert(got(1L)._4 == fk1)
    // empty text: every count floors to 1, no NaN/overflow
    assert(got(2L)._1 == 1L && got(2L)._2 == 1L && got(2L)._3 == 1L)
    // no sentence terminator: sentence floor of 1 absorbs it
    assert(got(3L)._2 == 1L && got(3L)._1 == 3L)
  }

  test("zipfFit: exact-geometric corpus recovers its slope; topN caps the fit") {
    // frequencies f(rank) = 2^(10 - rank) for ranks 1..8 — a pure
    // power law in ln-ln is linear only for f ~ rank^s; use instead
    // f = round(1000 / rank) which IS Zipf with slope -1
    val words = (1 to 8).flatMap(r =>
      Seq.fill(math.round(1000.0 / r).toInt)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(docs, "text", topN = 100).collect().head
    assert(row.getLong(0) == 8L)
    val slope = row.getLong(1) / 1e6
    assert(math.abs(slope - (-1.0)) < 0.01, s"slope $slope") // rounding only
    // topN caps the vocabulary the fit sees
    val capped = TextAnalysis.zipfFit(docs, "text", topN = 10)
    assert(capped.collect().head.getLong(0) == 8L)
  }

  test("keywords: TF-IDF micro-nat closed form, tie order, top-k cut") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    val got = TextAnalysis.keywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    def s(tf: Long, df: Long) =
      math.round(tf.toDouble * math.log(4.0 / (df + 1).toDouble) * 1e6)
    // doc 1: apple (tf 2, df 1) beats banana (tf 1, df 2)
    assert(got((1L, 1)) == (("apple", 2L, s(2, 1))), got.toString)
    assert(got((1L, 2)) == (("banana", 1L, s(1, 2))))
    // doc 2: banana and cherry tie on score — term-ascending break
    assert(got((2L, 1))._1 == "banana" && got((2L, 2))._1 == "cherry")
    assert(got((2L, 1))._3 == got((2L, 2))._3)
    // doc 3: cherry tf 3 over date
    assert(got((3L, 1)) == (("cherry", 3L, s(3, 2))))
    assert(got((3L, 2)) == (("date", 1L, s(1, 1))))
    // k caps the cut: no rank-3 rows
    assert(got.keySet.forall(_._2 <= 2))
  }

  test("collocations: PMI micro-nats match the closed form") {
    val docs = Seq(
      (1L, "new york new york new york"),
      (2L, "new york city"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // bigram corpus: (new,york) x4, (york,new) x2, (york,city) x1; N=7
    // pmi(new,york)  = ln(4*7 / (cL(new)=4 * cR(york)=4)) = ln(1.75)
    // pmi(york,new)  = ln(2*7 / (cL(york)=3 * cR(new)=2)) = ln(7/3)
    assert(out.keySet == Set(("new", "york"), ("york", "new")))
    assert(out(("new", "york")) ==
      ((4L, math.round(math.log(1.75) * 1e6))))
    assert(out(("york", "new")) ==
      ((2L, math.round(math.log(7.0 / 3.0) * 1e6))))
    // the rarer-but-tighter pair outranks the frequent one
    assert(out(("york", "new"))._2 > out(("new", "york"))._2)
  }

  test("distinctNgrams: hand-counted gram sets per n, short docs drop out, ppm exact") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", "x y x y"), ("a", "x y"), ("b", "z"))
      .toDF("src", "text")
    val got = TextAnalysis.distinctNgrams(df, "text", "src", maxN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a/1: 6 tokens, {x,y}; a/2: grams [x y, y x, x y, x y] -> 4/2;
    // a/3: [x y x, y x y] -> 2/2
    assert(got(("a", 1L)) == ((6L, 2L, 333333L)), got.toString)
    assert(got(("a", 2L)) == ((4L, 2L, 500000L)), got.toString)
    assert(got(("a", 3L)) == ((2L, 2L, 1000000L)), got.toString)
    assert(got(("b", 1L)) == ((1L, 1L, 1000000L)), got.toString)
    // b has no 2-grams or 3-grams: no rows, not 0/0
    assert(!got.contains(("b", 2L)) && !got.contains(("b", 3L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.distinctNgrams(df, "text", "src", maxN = 0)
    }
  }

  test("codeScore: hand counts on a snippet, prose scores 0, keywords alone stay under threshold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a = {1};\n    b(2)\nc"),
      (2L, "The quick brown fox jumps over the lazy dog."),
      (3L, "import os\nreturn")).toDF("doc_id", "text")
    val got = TextAnalysis.codeScore(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    // doc 1: 19 chars, 6 symbols -> 6e6 div 19; 2 newlines, 1
    // indented -> 500000; no keywords
    assert(got(0) == ((1L, 19L, 6000000L / 19L, 500000L, 0L,
      6000000L / 19L + 500000L, true)))
    // pure prose: everything 0
    assert(got(1)._6 == 0L && !got(1)._7)
    // two keywords alone = 100000 ppm, below the 120000 threshold
    assert(got(2) == ((3L, 16L, 0L, 0L, 2L, 100000L, false)))
  }

  test("compressionRatio: repetition below noise, exact byte counts, empty text NULL ratio") {
    val docs = Seq(
      (1L, "ab" * 500),                       // pure repetition
      (2L, (1 to 500).map(i => (i * 7919 % 93 + 33).toChar).mkString),
      (3L, "")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .compressionRatio(docs, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(got.length == 3)
    val rep = got(0); val mix = got(1); val empty = got(2)
    assert(rep.getLong(1) == 1000L && empty.getLong(1) == 0L)
    assert(rep.getLong(2) > 0L && rep.getLong(2) < rep.getLong(1))
    assert(rep.getLong(3) < mix.getLong(3),
      s"repetition ${rep.getLong(3)} must compress below mixed ${mix.getLong(3)}")
    assert(empty.isNullAt(3) && empty.getLong(2) >= 0L)
    // deterministic within the JVM: a second run reproduces exactly
    val again = graft.llm.TextAnalysis
      .compressionRatio(docs, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("boilerplateLines: cross-doc census, duplicate lines in ONE doc don't count, empties never boiler") {
    import spark.implicits._
    // "FOOT" is in 4 distinct docs (boiler at minDocs=4); "NAV" in 3
    // (not); doc 5 repeats "SOLO" three times IN THE SAME DOC (distinct
    // doc count 1 — must not count); empty lines are never boilerplate
    val docs = Seq(
      (1L, "NAV\nbody one\nFOOT"),
      (2L, "NAV\n\nbody two\nFOOT"),
      (3L, "NAV\nbody three\nFOOT"),
      (4L, "body four\nFOOT"),
      (5L, "SOLO\nSOLO\nSOLO")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .boilerplateLines(docs, "doc_id", "text", minDocs = 4)
      .orderBy(col("doc_id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // doc 1: 3 lines, FOOT boiler -> ppm 1e6/3 = 333333,
    //   kept = len(NAV) + len(body one) = 3 + 8 = 11
    assert(got(1L) == ((3L, 1L, 333333L, 11L)), got(1L).toString)
    // doc 2: 4 lines (one empty), kept = 3 + 0 + 8 = 11
    assert(got(2L) == ((4L, 1L, 250000L, 11L)), got(2L).toString)
    assert(got(3L) == ((3L, 1L, 333333L, 13L)), got(3L).toString)
    assert(got(4L) == ((2L, 1L, 500000L, 9L)), got(4L).toString)
    // doc 5: SOLO repeats within one doc only -> nothing is boiler
    assert(got(5L) == ((3L, 0L, 0L, 12L)), got(5L).toString)
    // at minDocs=3 NAV joins the boilerplate set
    val g3 = graft.llm.TextAnalysis
      .boilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .orderBy(col("doc_id")).collect()
    assert(g3(0).getLong(2) == 2L && g3(0).getLong(4) == 8L)
    intercept[IllegalArgumentException] {
      graft.llm.TextAnalysis.boilerplateLines(docs, "doc_id", "text",
        minDocs = 1)
    }
  }

  test("boilerplateLinesIncremental: census merges across the boundary; equals full recompute; append folds") {
    import spark.implicits._
    // "NAV" is in old docs 1-3 and new docs 4-5: only the MERGED
    // census reaches minDocs=5 — a batch-only census (2) or a
    // history-only one (3) would both miss it
    val docs = (1L to 5L).map(id => (id, s"NAV\nbody $id"))
      .toDF("doc_id", "text")
    val old = docs.filter($"doc_id" <= 3)
    val nw = docs.filter($"doc_id" >= 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blcen").toString + "/census"
    graft.llm.TextAnalysis.writeLineCensus(old, "doc_id", "text", dir)
    def stats(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val inc = stats(graft.llm.TextAnalysis.boilerplateLinesIncremental(
      nw, "doc_id", "text", dir, minDocs = 5))
    // each new doc: 2 lines, NAV boiler -> ppm 500000, kept "body N"
    assert(inc(4L) == ((2L, 1L, 500000L, 6L)), inc.toString)
    assert(inc(5L) == ((2L, 1L, 500000L, 6L)), inc.toString)
    // == full recompute over old ∪ new restricted to new ids
    val full = stats(graft.llm.TextAnalysis.boilerplateLines(
      docs, "doc_id", "text", minDocs = 5).filter(col("doc_id") >= 4))
    assert(inc == full)
    // append folds: re-aggregated census == from-scratch census
    graft.llm.TextAnalysis.writeLineCensus(nw, "doc_id", "text", dir,
      mode = "append")
    val merged = spark.read.parquet(dir)
      .groupBy(col("fp"), col("fp2"))
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")).as("n_docs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val scratch = graft.llm.TextAnalysis.lineCensus(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(merged == scratch && merged.nonEmpty)
    // NAV's merged count is 5
    assert(merged.count(_._3 == 5L) == 1, merged.toString)
  }

  test("writeLineCensus: overlapping doc ids refuse at append (silent double-count otherwise)") {
    import spark.implicits._
    val docs = (1L to 4L).map(id => (id, s"NAV\nbody $id"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blceng2").toString + "/census"
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
    // doc 2 re-crawled in the second batch — must refuse, because its
    // NAV line would double-count in n_docs and inflate verdicts
    val ex = intercept[IllegalArgumentException] {
      graft.llm.TextAnalysis.writeLineCensus(
        docs.filter($"doc_id" >= 2), "doc_id", "text", dir,
        mode = "append")
    }
    assert(ex.getMessage.contains("double-count"), ex.getMessage)
    // the disjoint batch still appends fine afterwards
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" >= 3), "doc_id", "text", dir,
      mode = "append")
    assert(spark.read.parquet(dir + "__docids").count() == 4L)
  }

  test("writeLineCensus append writes __docids first: a retry after a failed append does not double-count") {
    import spark.implicits._
    val docs = (1L to 4L).map(id => (id, s"NAV\nbody $id"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blcrash").toString + "/census"
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
    val rows = spark.read.parquet(dir).count()
    val restore = sidecarAsFile(dir + "__docids")
    intercept[Exception] {
      graft.llm.TextAnalysis.writeLineCensus(
        docs.filter($"doc_id" >= 3), "doc_id", "text", dir, mode = "append")
    }
    restore()
    assert(spark.read.parquet(dir).count() == rows)
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" >= 3), "doc_id", "text", dir, mode = "append")
    // NAV + body 3 + body 4 from the one appended batch; NAV counts
    // each document once
    assert(spark.read.parquet(dir).count() == rows + 3L)
    val nav = spark.read.parquet(dir).agg(max($"n_docs"), sum($"n_docs"))
      .head()
    assert(nav.getLong(0) == 2L && nav.getLong(1) == 8L, nav.toString)
  }

  test("compactLineCensus: one row per fingerprint after, verdicts identical, row drift aborts") {
    import spark.implicits._
    val docs = (1L to 6L).map(id => (id, s"NAV\nFOOT\nbody $id"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blcmp").toString + "/census"
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" === 3), "doc_id", "text", dir, mode = "append")
    graft.llm.TextAnalysis.writeLineCensus(
      docs.filter($"doc_id" >= 4), "doc_id", "text", dir, mode = "append")
    val nw = Seq((100L, "NAV\nnew body")).toDF("doc_id", "text")
    def stats(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val before = stats(graft.llm.TextAnalysis
      .boilerplateLinesIncremental(nw, "doc_id", "text", dir, minDocs = 5))
    // three appended batches -> NAV appears as 3 census rows
    val census0 = spark.read.parquet(dir)
    assert(census0.count() >
      census0.select("fp", "fp2").distinct().count())
    val (fb, fa) = graft.llm.TextAnalysis.compactLineCensus(spark, dir)
    assert(fa < fb, s"files $fb -> $fa")
    val census1 = spark.read.parquet(dir)
    assert(census1.count() ==
      census1.select("fp", "fp2").distinct().count())
    val after = stats(graft.llm.TextAnalysis
      .boilerplateLinesIncremental(nw, "doc_id", "text", dir, minDocs = 5))
    assert(before == after, s"before=$before after=$after")
    // NAV: 6 history docs + 1 new = 7 >= 5 -> the new doc's verdict
    // flags 1 boilerplate line of 2
    assert(after(100L)._2 == 1L, after.toString)
  }

  test("heapsLaw: hand curve on 4 docs, quantized-OLS beta, degenerate grid gives NULL beta") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a b"), (2L, "a d"), (3L, "e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.heapsLaw(docs, "doc_id", "text",
      gridSteps = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    // step 1: ids <= 1 -> 2 docs, 5 tokens, vocab {a,b,c};
    // step 2: all -> 4 docs, 8 tokens, vocab 5
    assert(got.map(g => (g._1, g._2, g._3, g._4, g._5)).toSeq ==
      Seq((1L, 1L, 2L, 5L, 3L), (2L, 3L, 4L, 8L, 5L)))
    // beta from the QUANTIZED log-log points, cross-multiplied
    val (x1, y1) = (math.round(math.log(5.0) * 1e6),
      math.round(math.log(3.0) * 1e6))
    val (x2, y2) = (math.round(math.log(8.0) * 1e6),
      math.round(math.log(5.0) * 1e6))
    val num = BigInt(2) * (BigInt(x1) * y1 + BigInt(x2) * y2) -
      BigInt(x1 + x2) * BigInt(y1 + y2)
    val den = BigInt(2) * (BigInt(x1) * x1 + BigInt(x2) * x2) -
      BigInt(x1 + x2) * BigInt(x1 + x2)
    val betaExp = (num * 1000000 / den).toLong
    assert(got.forall(_._6 == Some(betaExp)), got.mkString(", "))
    // a single-doc corpus: the first threshold falls below the doc
    // (absent), one curve point remains -> NULL beta (k*sxx = sx^2)
    val one = Seq((5L, "a b")).toDF("doc_id", "text")
    val g1 = TextAnalysis.heapsLaw(one, "doc_id", "text", gridSteps = 2)
      .collect()
    assert(g1.length == 1 && g1.forall(_.isNullAt(5)), g1.mkString(","))
  }
}
