package graft

import org.apache.spark.sql.functions._
import graft.functions.cosine_similarity
import graft.llm.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity expression: hand-checked values, symmetry, range") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 1f), Array(1f, 1f)),
      (Array(1f, 2f), Array(2f, 4f)),
      (Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    val got = df.select(cosine_similarity($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - 1.0) < 1e-12)
    assert(math.abs(got(3) - 1.0) < 1e-12)
    assert(got(4) == 0.0) // zero-norm convention
    // symmetry
    val sym = df.select(cosine_similarity($"b", $"a")).collect().map(_.getDouble(0))
    assert(got.sameElements(sym))
  }

  test("cosine_similarity: length mismatch -> null; null input -> null") {
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(cosine_similarity($"a", $"b")).collect()(0).isNullAt(0))
    val df2 = Seq((Some(Array(1f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df2.select(cosine_similarity($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("bruteForceTopK: k rows per query, descending, no self-match") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5),
      "embedding", "vec_id", k = 3).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 3))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sorted.reverse))
      rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    }
  }

  test("filteredTopK: slice isolation, NULL label is its own slice, no under-fill, guards") {
    // label 1: query 1 with in-slice neighbors 2 (near) and 3 (far);
    // 4 is an EXACT duplicate vector but label 2 — must never appear.
    // NULL-label rows 5 and 6 form their own slice (null-safe match).
    val rows = Seq(
      (1L, Array(1f, 0f), Option(1)),
      (2L, Array(0.9f, 0.1f), Option(1)),
      (3L, Array(0f, 1f), Option(1)),
      (4L, Array(1f, 0f), Option(2)),
      (5L, Array(1f, 0f), Option.empty[Int]),
      (6L, Array(0.5f, 0.5f), Option.empty[Int]))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.filteredTopK(rows,
        rows.filter($"vec_id" === 1L || $"vec_id" === 5L),
        "embedding", "vec_id", Seq("label"), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1))
      .toMap
    // query 1 sees ONLY its slice: 2 first (closer), then 3 — never 4
    assert(got((1L, 1)) == 2L && got((1L, 2)) == 3L, got.toString)
    assert(!got.values.toSet.contains(4L), got.toString)
    // query 5 (NULL label) matches only the other NULL-label row
    assert(got((5L, 1)) == 6L && !got.contains((5L, 2)), got.toString)
    // within-slice top-k never under-fills: 2 in-slice rows -> 2 hits
    assert(got.keys.count(_._1 == 1L) == 2)
    intercept[IllegalArgumentException] {
      Similarity.filteredTopK(rows, rows, "embedding", "vec_id",
        Seq.empty, k = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.filteredTopK(rows, rows, "embedding", "vec_id",
        Seq("label"), k = 0)
    }
  }

  test("lshTopK: on clustered data recall@3 vs brute force is high") {
    val rnd = new scala.util.Random(3)
    // 4 tight clusters of 25 vectors each
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat * 5))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val q = df.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(df, q, "embedding", "vec_id", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(df, q, "embedding", "vec_id", 3, planes = 6)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("ivfTopK: on clustered data recall@3 vs brute force is high") {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat * 5))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val q = df.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(df, q, "embedding", "vec_id", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(df, q, "embedding", "vec_id", 3, nlist = 4, nprobe = 2)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("quantizeInt8: values in [-127,127], max|v| maps to ±127, cosine preserved") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.49f, -0.98f, 0.26f)),   // near-parallel to 1
      (3L, Array(-1.0f, 0.0f, 1.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f)))       // zero vector
      .toDF("vec_id", "embedding")
    val qz = Similarity.quantizeInt8(vecs, "embedding")
      .select($"vec_id", $"q_vec", $"q_scale").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Byte](1).toArray, r.getDouble(2))).toMap
    assert(qz(1L)._1.toSeq == Seq[Byte](64, -127, 32)) // 0.5*127, -1*127, .25*127
    assert(qz(4L)._1.forall(_ == 0))                   // zero vector -> zeros
    assert(qz.values.forall(_._1.forall(b => b >= -127 && b <= 127)))
    // quantized cosine within 2% of exact for the near-parallel pair
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = cos(Array(0.5, -1.0, 0.25), Array(0.49, -0.98, 0.26))
    val quant = cos(qz(1L)._1.map(_.toDouble), qz(2L)._1.map(_.toDouble))
    assert(math.abs(exact - quant) < 0.02, s"exact=$exact quant=$quant")
  }

  test("pq: ADC top-k on clustered data recalls brute force") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat * 5))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val q = df.filter($"vec_id" < 8)
    val books = Similarity.pqTrain(df, "embedding", m = 4, k = 16)
    val codes = Similarity.pqEncode(df, "embedding", "vec_id", books)
    val brute = Similarity.bruteForceTopK(df, q, "embedding", "vec_id", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // raw ADC ranks clusters, not members (tied codes inside a tight
    // cluster) — its contract is cluster-level: every hit shares the
    // query's cluster (i % 4)
    val adc = Similarity.pqAdcTopK(codes, books, q, "embedding", "vec_id", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.forall { case (qid, nid) => qid % 4 == nid % 4 },
      s"ADC hit outside the query's cluster: ${adc.mkString(",")}")
    // the refined path restores member-level ordering
    val pq = Similarity.pqAdcTopKRefined(codes, books, q, df,
        "embedding", "vec_id", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("pq filtered: slice-scoped ADC + refine equals filteredTopK exhaustively; NULL slice own slice; type drift never merges") {
    val rnd = new scala.util.Random(19)
    val vecs = (0 until 90).map(i =>
      (i.toLong, Array.fill(12)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("tenant",
        when($"vec_id" % 3 === 0, "a")
          .when($"vec_id" % 3 === 1, "b")
          .otherwise(lit(null).cast("string")))
      .cache()
    val q = df.filter($"vec_id" < 6)
    val books = Similarity.pqTrain(df, "embedding", m = 4, k = 16)
    val codes = Similarity.pqEncodeSliced(df, "embedding", "vec_id",
      books, "tenant")
    // exhaustive shortlist: refined filtered PQ == within-slice brute
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select($"q_id", $"n_id", $"rn".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val got = norm(Similarity.pqAdcTopKRefinedFiltered(codes, books,
      q, df, "embedding", "vec_id", "tenant", k = 3,
      shortlist = Int.MaxValue))
    val truth = norm(Similarity.filteredTopK(df, q, "embedding",
      "vec_id", Seq("tenant"), k = 3))
    assert(got == truth, s"diff: ${got.diff(truth)} / ${truth.diff(got)}")
    assert(got.nonEmpty)
    // every ADC hit stays in the query's slice, NULL included
    val slices = df.select($"vec_id", $"tenant").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    norm(Similarity.pqAdcTopKFiltered(codes, books, q, "embedding",
      "vec_id", "tenant", k = 5)).foreach { case (qi, ni, _) =>
      assert(slices(qi) == slices(ni), s"cross-slice pair $qi -> $ni")
    }
    // TYPE drift between encode and query: int tenants on the query
    // side must never match the string-encoded slices (fail-empty,
    // never cross-tenant)
    val qDrift = q.withColumn("tenant",
      when($"tenant" === "a", 1).when($"tenant" === "b", 2)
        .otherwise(lit(null).cast("int")))
    val drifted = Similarity.pqAdcTopKFiltered(codes, books, qDrift,
      "embedding", "vec_id", "tenant", k = 3)
    // NULL keys still match (NULL is type-agnostic: its own slice);
    // non-NULL typed keys must not
    val driftPairs = drifted.select($"q_id", $"n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    driftPairs.foreach { case (qi, ni) =>
      assert(slices(qi).isEmpty && slices(ni).isEmpty,
        s"type-drifted non-NULL slice matched: $qi -> $ni")
    }
    // composite types refuse loudly
    val exC = intercept[IllegalArgumentException] {
      Similarity.pqAdcTopKFiltered(codes, books,
        q.withColumn("tenant", array($"tenant")), "embedding",
        "vec_id", "tenant", k = 3)
    }
    assert(exC.getMessage.contains("atomic"), exC.getMessage)
  }

  test("retrieval grid: k < 1, nprobe < 1 and a short shortlist refuse at the call, before any Spark job") {
    val emb = Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 0),
      (3L, Array(1f, 1f), 0)).toDF("vec_id", "embedding", "slice")
    val idx = Similarity.IvfIndex(
      Seq((1L, Array(1f, 0f), 0, 0), (2L, Array(0f, 1f), 0, 0))
        .toDF("n_id", "n_vec", "cluster", "slice"),
      Seq((0, Array(1f, 0f))).toDF("cluster", "centroid"), 1)
    val books = Similarity.PqCodebooks(1, 2, 1, Array(Array(Array(1f, 0f))))
    val codes = Seq((1L, Array[Short](0), "int:v0"))
      .toDF("vec_id", "codes", "slice_key")
    val (v, id) = ("embedding", "vec_id")
    val badK = "k must be >= 1 (got 0)"
    val badProbe = "nprobe must be >= 1 (got 0)"
    val badShort = "shortlist must be >= k"
    val calls: Seq[(String, String, () => Any)] = Seq(
      ("bruteForceTopK", badK, () => Similarity.bruteForceTopK(emb, emb, v, id, 0)),
      ("lshTopK", badK, () => Similarity.lshTopK(emb, emb, v, id, 0)),
      ("ivfProbe", badK, () => Similarity.ivfProbe(idx, emb, v, id, 0)),
      ("ivfTopK", badK, () => Similarity.ivfTopK(emb, emb, v, id, 0, nlist = 1)),
      ("knnGraph", badK, () => Similarity.knnGraph(emb, v, id, 0, nlist = 1)),
      ("pqAdcTopK", badK, () => Similarity.pqAdcTopK(codes, books, emb, v, id, 0)),
      ("pqAdcTopKRefined", badK,
        () => Similarity.pqAdcTopKRefined(codes, books, emb, emb, v, id, 0)),
      ("ivfProbe nprobe", badProbe,
        () => Similarity.ivfProbe(idx, emb, v, id, 1, nprobe = 0)),
      ("ivfProbeFiltered nprobe", badProbe, () => Similarity.ivfProbeFiltered(
        idx, emb, v, id, Seq("slice"), 1, nprobe = 0)),
      ("ivfRangeSearch nprobe", badProbe,
        () => Similarity.ivfRangeSearch(idx, emb, v, id, 0L, nprobe = 0)),
      ("ivfRangeSearchFiltered nprobe", badProbe,
        () => Similarity.ivfRangeSearchFiltered(idx, emb, v, id,
          Seq("slice"), 0L, nprobe = 0)),
      ("pqAdcTopKRefined shortlist", badShort,
        () => Similarity.pqAdcTopKRefined(codes, books, emb, emb, v, id,
          3, shortlist = 2)),
      ("pqAdcTopKRefinedFiltered shortlist", badShort,
        () => Similarity.pqAdcTopKRefinedFiltered(codes, books, emb, emb,
          v, id, "slice", 3, shortlist = 1)))
    calls.foreach { case (name, msg, call) =>
      val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      assert(jobs == 0, s"$name ran $jobs Spark jobs before refusing")
    }
  }

  test("twins agree: plain vs one-slice probe, range, ADC scan; centroidAssign vs kmeansStep counts") {
    val rnd = new scala.util.Random(29)
    val df = (0 until 120).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").withColumn("slice", lit(0)).cache()
    val q = df.filter($"vec_id" < 10)
    val (v, id) = ("embedding", "vec_id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(d.columns.map(col): _*).collect().toSeq
    def same(what: String, a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      val (ra, rb) = (rows(a), rows(b))
      assert(ra.nonEmpty, s"$what: empty")
      assert(ra == rb, s"$what: ${ra.diff(rb).take(3)} / ${rb.diff(ra).take(3)}")
    }
    val idx = Similarity.ivfBuild(df, v, id, nlist = 6)
    val sliced = idx.copy(assigned = idx.assigned.withColumn("slice", lit(0)))
    same("ivfProbe", Similarity.ivfProbe(idx, q, v, id, k = 5, nprobe = 2),
      Similarity.ivfProbeFiltered(sliced, q, v, id, Seq("slice"), k = 5,
        nprobe = 2))
    same("ivfRangeSearch",
      Similarity.ivfRangeSearch(idx, q, v, id, 200000L, nprobe = 2),
      Similarity.ivfRangeSearchFiltered(sliced, q, v, id, Seq("slice"),
        200000L, nprobe = 2))
    val books = Similarity.pqTrain(df, v, m = 4, k = 16)
    same("pqAdcTopK",
      Similarity.pqAdcTopK(Similarity.pqEncode(df, v, id, books), books,
        q, v, id, 5),
      Similarity.pqAdcTopKFiltered(
        Similarity.pqEncodeSliced(df, v, id, books, "slice"), books, q, v,
        id, "slice", 5))
    same("seed n_assigned",
      Similarity.centroidAssign(df, id, v, numSeeds = 4)
        .select($"seed_id", $"n_assigned"),
      Similarity.kmeansStep(df, id, v, numSeeds = 4)
        .select($"seed_id", $"n_assigned").distinct())
  }

  test("pq: codes are within [0,k); encode is deterministic; save/load round-trips") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "embedding", m = 4, k = 8)
    assert(books.dsub == 2 && books.m == 4 && books.k == 8)
    val c1 = Similarity.pqEncode(df, "embedding", "vec_id", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Short](1).toVector).toMap
    assert(c1.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    val c2 = Similarity.pqEncode(df, "embedding", "vec_id", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Short](1).toVector).toMap
    assert(c1 == c2, "encode must be deterministic")
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    Similarity.pqSave(spark, books, s"$dir/books")
    val loaded = Similarity.pqLoad(spark, s"$dir/books")
    assert(loaded.m == books.m && loaded.k == books.k && loaded.dsub == books.dsub)
    val c3 = Similarity.pqEncode(df, "embedding", "vec_id", loaded)
      .collect().map(r => r.getLong(0) -> r.getSeq[Short](1).toVector).toMap
    assert(c3 == c1, "reloaded codebooks must encode identically")
  }

  test("pq: ADC cosine approximates exact cosine within reconstruction error") {
    // tight single cluster → reconstruction is near-exact, so ADC
    // scores must track true cosine closely (not just the ranking)
    val rnd = new scala.util.Random(13)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat * 3)
    val vecs = (0 until 50).map(i =>
      (i.toLong, base.map(v => v + rnd.nextGaussian().toFloat * 0.05f)))
    val df = vecs.toDF("vec_id", "embedding").cache()
    val q = df.filter($"vec_id" === 0L)
    val books = Similarity.pqTrain(df, "embedding", m = 4, k = 16)
    val codes = Similarity.pqEncode(df, "embedding", "vec_id", books)
    val adc = Similarity.pqAdcTopK(codes, books, q, "embedding", "vec_id", 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val exact = Similarity.bruteForceTopK(df, q, "embedding", "vec_id", 49)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    adc.foreach { case (nid, s) =>
      assert(math.abs(s - exact(nid)) < 0.05,
        s"ADC $s vs exact ${exact(nid)} for $nid")
    }
  }

  test("knnGraph: bounded out-degree, no self-edges, planted twins link") {
    val rnd = new scala.util.Random(23)
    // two tight blobs of 30 — twins inside a blob must out-rank the
    // other blob at k=3
    def blob(center: Float) = (0 until 30).map { i =>
      Array.fill(8)(center + rnd.nextGaussian().toFloat * 0.05f)
    }
    val vecs = (blob(1f) ++ blob(-1f)).zipWithIndex.map { case (v, i) =>
      (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val g = Similarity.knnGraph(df, "embedding", "vec_id", k = 3,
      nlist = 2, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val outDeg = g.groupBy(_._1).view.mapValues(_.length)
    assert(outDeg.values.forall(_ <= 3))
    assert(g.forall { case (q, n) => q != n })
    // with nprobe=1 and a clean 2-blob split, neighbors stay in-blob
    assert(g.forall { case (q, n) => (q < 30) == (n < 30) })
  }

  test("rrfFuse: closed-form scores; hybrid BM25+ANN legs fuse sanely") {
    // two hand lists: doc 1 ranked 1st in both, doc 2 only in list A,
    // doc 3 only in list B (rank 2)
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val b = Seq((1L, 1), (3L, 2)).toDF("doc_id", "rank")
    val fused = Similarity.rrfFuse(Seq(a, b), "doc_id", "rank", k = 60)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    // 1e6 div 61 = 16393; div 62 = 16129
    assert(fused(1L) == ((2 * 16393L, 2L, 1)))
    assert(fused(2L) == ((16129L, 1L, 2))) // doc_id tie-break beats 3
    assert(fused(3L) == ((16129L, 1L, 3)))
    // hybrid: fuse a lexical and a vector leg end-to-end (rank shapes
    // only — scores live on incomparable scales, which is the point)
    val rnd = new scala.util.Random(41)
    val docs = (1L to 30L).map(i =>
      (i, s"term$i filler words here", Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("doc_id", "text", "embedding")
    val lex = graft.llm.TextAnalysis.bm25Search(
        docs.select($"doc_id", $"text"), "doc_id", "text",
        Seq("term3", "filler"), k = 5)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"score_micros".desc, $"doc_id")))
      .select($"doc_id", $"rank")
    val vec = Similarity.bruteForceTopK(
        docs.select($"doc_id", $"embedding"),
        docs.filter($"doc_id" === 3L).select($"doc_id", $"embedding"),
        "embedding", "doc_id", k = 5)
      .select($"n_id".as("doc_id"), $"rn".as("rank"))
    val hybrid = Similarity.rrfFuse(Seq(lex, vec), "doc_id", "rank")
      .collect()
    assert(hybrid.nonEmpty && hybrid.length <= 10)
    // appearing in both lists can only help: every 2-list doc outranks
    // same-best-rank 1-list docs
    val best = hybrid.minBy(_.getInt(3))
    assert(best.getLong(1) >= hybrid.map(_.getLong(1)).max)
  }

  test("knnGraph mutual: symmetric and a subset of the directed graph") {
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding").cache()
    val directed = Similarity.knnGraph(df, "embedding", "vec_id", k = 4,
      nlist = 4, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = Similarity.knnGraph(df, "embedding", "vec_id", k = 4,
      nlist = 4, nprobe = 4, mutual = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual.subsetOf(directed))
    assert(mutual.forall { case (a, b) => mutual.contains((b, a)) })
    // reciprocity is exactly the definition: directed ∩ swapped
    assert(mutual == directed.filter { case (a, b) =>
      directed.contains((b, a)) })
  }

  test("mmrRerank: hand-checked greedy, λ=1 degenerates to relevance order, guard trips") {
    // a and b point the same way; c is orthogonal with lower relevance
    val cands = Seq(
      (1L, 1.0, Array(1f, 0f)),
      (2L, 0.9, Array(0.99f, 0.14f)),
      (3L, 0.5, Array(0f, 1f)))
      .toDF("id", "score", "vec")
    val got = Similarity.mmrRerank(cands, "id", "score", "vec",
        k = 2, lambdaPpm = 500000L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
    // first pick: top relevance (id 1), score λ·rel = 0.5
    assert(got(0) == ((1L, 1L, 500000L)), got.toSeq.toString)
    // second: c wins — b's redundancy penalty (cos ≈ 0.99) sinks it
    // below c's 0.25 despite b's higher relevance
    assert(got(1)._2 == 3L, got.toSeq.toString)
    // λ = 1: plain relevance order, scores exactly rel·1e6
    val lam1 = Similarity.mmrRerank(cands, "id", "score", "vec",
        k = 3, lambdaPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(lam1.toSeq == Seq((1L, 1000000L), (2L, 900000L), (3L, 500000L)))
    // k past the candidate count returns them all; the guard is loud
    assert(Similarity.mmrRerank(cands, "id", "score", "vec", k = 9)
      .count() == 3)
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(cands, "id", "score", "vec", k = 2,
        maxCandidates = 2)
    }
    assert(e.getMessage.contains("RE-RANK"), e.getMessage)
    // NaN relevance never wins a comparison — refuse up front instead
    // of indexing with best = -1 deep in the greedy loop
    val nan = Seq((1L, Double.NaN, Array(1f, 0f)))
      .toDF("id", "score", "vec")
    val eNan = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(nan, "id", "score", "vec", k = 1)
    }
    assert(eNan.getMessage.contains("NaN"), eNan.getMessage)
    // ragged embedding dimensions would throw inside cos()
    val ragged = Seq((1L, 1.0, Array(1f, 0f)), (2L, 0.5, Array(1f)))
      .toDF("id", "score", "vec")
    val eRag = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(ragged, "id", "score", "vec", k = 2)
    }
    assert(eRag.getMessage.contains("ragged"), eRag.getMessage)
  }

  test("hardNegatives: same-label nearest is skipped, self never returned, rank order") {
    // anchor 1 (label A): nearest is same-label id 2 — the hard
    // negative must be the DIFFERENT-label id 3, not 2 and not the
    // far id 4
    val emb = Seq(
      (1L, "A", Array(1f, 0f)),
      (2L, "A", Array(0.99f, 0.14f)),
      (3L, "B", Array(0.9f, 0.44f)),
      (4L, "B", Array(0f, 1f)))
      .toDF("id", "label", "vec")
    val got = Similarity.hardNegatives(emb, "vec", "id", "label",
        k = 1, nlist = 2, nprobe = 2, overfetch = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 3L, got.toString) // not the same-label 2
    // anchor 4 (B): nearest is same-label 3 — skipped; next is A's 2
    assert(got(4L) == 2L, got.toString)
    val full = Similarity.hardNegatives(emb, "vec", "id", "label",
        k = 2, nlist = 2, nprobe = 2, overfetch = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
    // every pair crosses labels; ranks are 1-based dense per anchor
    val lbl = Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B")
    assert(full.forall { case (q, _, n) => lbl(q) != lbl(n) })
    assert(full.groupBy(_._1).values.forall(rs =>
      rs.map(_._2).sorted.sameElements(1L to rs.size.toLong)))
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec", "id", "label", k = 0)
    }
  }

  test("kCenterGreedy: farthest-point walk on a closed form; coverageRadius agrees") {
    val emb = Seq(
      (1L, Array(1f, 0f)),          // seed (smallest id)
      (2L, Array(0.9f, 0.1f)),      // near the seed
      (3L, Array(0f, 1f)),          // orthogonal — first greedy pick
      (4L, Array(0.7f, 0.7f)))      // between — second pick
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(emb, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 4L), got.toSeq.toString)
    assert(got(0)._3 == 0L)              // seed distance 0
    assert(got(1)._3 == 1000000L)        // orthogonal: 1 − cos = 1
    // id 4: cos to both centers ≈ 0.7071 → dist ≈ 0.29289
    assert(math.abs(got(2)._3 - 292893L) <= 2L, got.toSeq.toString)
    // coverage radius of {1, 3}: the worst-covered point is id 4
    val r = Similarity.coverageRadius(emb, "embedding", "vec_id",
        Seq(1L, 3L).toDF("center_id"))
      .collect().head.getLong(0)
    assert(math.abs(r - 292893L) <= 2L, r.toString)
    // with all four selected the radius collapses to ~0
    val r4 = Similarity.coverageRadius(emb, "embedding", "vec_id",
      Seq(1L, 2L, 3L, 4L).toDF("center_id")).collect().head.getLong(0)
    assert(r4 <= 1L, r4.toString)
    // k larger than the corpus returns every point once
    assert(Similarity.kCenterGreedy(emb, "embedding", "vec_id", k = 9)
      .count() == 4)
  }

  test("centroidAssign: axis seeds split the plane, tie goes to the lower seed, zero-norm excluded") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1.0f, 0.0f)),  // seed 0
      (1L, Array(0.0f, 1.0f)),  // seed 1
      (2L, Array(0.9f, 0.1f)),  // -> seed 0
      (3L, Array(0.1f, 0.9f)),  // -> seed 1
      (4L, Array(1.0f, 1.0f)),  // tie -> lower seed id 0
      (5L, Array(0.0f, 0.0f))). // zero norm -> excluded
      toDF("vec_id", "embedding")
    val got = Similarity.centroidAssign(rows, "vec_id", "embedding",
      numSeeds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(g => g._1 -> g._2).toMap == Map(0L -> 3L, 1L -> 2L))
    // seed self-assignment scores ~1e6; means stay in (0, 1e6]
    assert(got.forall(g => g._3 > 0L && g._3 <= 1000000L))
    assertThrows[IllegalArgumentException] {
      Similarity.centroidAssign(rows, "vec_id", "embedding",
        numSeeds = 0)
    }
  }

  test("kmeansRounds: two-cluster closed form; mean max-cosine monotone over rounds") {
    import spark.implicits._
    // seeds = lowest ids (1, 2) land one per cluster; assignments are
    // stable from round 1, so 3 rounds return the exact integer
    // cluster means: A = {[1,0], [.98,.02]} -> [990000, 10000],
    // B = {[0,1], [.02,.98]} -> [10000, 990000]
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.98f, 0.02f)), (4L, Array(0.02f, 0.98f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansRounds(vecs, "vec_id", "embedding",
        numSeeds = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 2L, 990000L), (1L, 1L, 2L, 10000L),
      (2L, 0L, 2L, 10000L), (2L, 1L, 2L, 990000L)), out.mkString(";"))
    // spherical-kmeans objective (mean best cosine against the round's
    // centroid table) is non-decreasing in rounds, modulo micro
    // quantization — the inertia-monotone contract of the Lloyd loop
    val emb = Tables.embeddings(spark, sf0001)
    def objective(rounds: Int): Double = {
      val cent = Similarity.kmeansRounds(emb, "vec_id", "embedding",
        numSeeds = 8, rounds = rounds)
      val c = cent.groupBy($"seed_id")
        .agg(transform(array_sort(collect_list(
          struct($"dim", $"centroid_micros"))),
          t => t("centroid_micros")).as("c"))
        .withColumn("nc", aggregate($"c", lit(0L), (a, x) => a + x * x))
      val qv = emb.select($"vec_id",
          transform($"embedding", x =>
            round(x.cast("double") * lit(1e6)).cast("long")).as("q"))
        .withColumn("nq", aggregate($"q", lit(0L), (a, x) => a + x * x))
        .filter($"nq" > 0L)
      qv.crossJoin(broadcast(c))
        .withColumn("cm",
          aggregate(zip_with($"q", $"c", (x, y) => x * y), lit(0L),
            (a, t) => a + t).cast("double") /
            (sqrt($"nq".cast("double")) * sqrt($"nc".cast("double"))))
        .groupBy($"vec_id").agg(max($"cm").as("m"))
        .agg(avg($"m")).head().getDouble(0)
    }
    val js = (1 to 3).map(objective)
    assert(js(1) >= js(0) - 1e-4 && js(2) >= js(1) - 1e-4,
      s"objective not monotone: $js")
  }

  test("knnClassify: majority vote, vote tie-break label asc, zero-norm excluded, guard") {
    // train: two axis pairs, labels 1 and 2
    val train = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 1),
      (2L, Array(0.9f, 0.1f, 0f, 0f), 1),
      (4L, Array(0f, 1f, 0f, 0f), 2),
      (6L, Array(0f, 0.9f, 0.1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val probe = Seq(
      (1L, Array(1f, 0.05f, 0f, 0f), 1),  // x-ish: votes {1:2, 2:1}
      (3L, Array(0.05f, 1f, 0f, 0f), 2),  // y-ish: votes {2:2, 1:1}
      (9L, Array(0f, 0f, 0f, 0f), 1))     // zero-norm: excluded
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(train, probe, "vec_id",
        "embedding", "label", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 1L)))
    // vote tie at k=2 with one train vector per label: the winner is
    // the SMALLER label (votes desc, label asc)
    val t2 = Seq((0L, Array(1f, 0f, 0f, 0f), 7),
      (4L, Array(0f, 1f, 0f, 0f), 3)).toDF("vec_id", "embedding", "label")
    val p2 = Seq((1L, Array(1f, 1f, 0f, 0f), 7))
      .toDF("vec_id", "embedding", "label")
    val tie = Similarity.knnClassify(t2, p2, "vec_id", "embedding",
        "label", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tie.toSeq == Seq((7L, 3L, 1L)))
    // determinism: a second run reproduces identical rows
    val again = Similarity.knnClassify(train, probe, "vec_id",
        "embedding", "label", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == got.toSeq)
    // the codegen'd micro_cosine agrees with a from-scratch
    // reimplementation of the quantize-once convention (double-entry)
    val qc = Seq((Array(1f, 0f, 0f, 0f), Array(0.9f, 0.1f, 0f, 0f)),
      (Array(-1f, 0.5f, 0f, 0f), Array(1f, 0.5f, 0f, 0f)),
      (Array(0f, 0f, 0f, 0f), Array(1f, 0f, 0f, 0f))) // zero norm
      .toDF("a", "b")
      .select(graft.functions.micro_cosine(
        transform($"a", x => round(x.cast("double") * lit(1e6))
          .cast("long")),
        transform($"b", x => round(x.cast("double") * lit(1e6))
          .cast("long"))).as("cm"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    def ref(a: Seq[Double], b: Seq[Double]): Option[Long] = {
      val qa = a.map(x => math.round(x * 1e6))
      val qb = b.map(x => math.round(x * 1e6))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val (na, nb) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
      if (na == 0L || nb == 0L) None
      else {
        val c = dot.toDouble / (math.sqrt(na.toDouble) *
          math.sqrt(nb.toDouble)) * 1e6
        Some(if (c >= 0) math.floor(c + 0.5).toLong
        else -math.floor(0.5 - c).toLong)
      }
    }
    assert(qc(0) == ref(Seq(1, 0, 0, 0), Seq(0.9, 0.1, 0, 0)))
    assert(qc(1) == ref(Seq(-1, 0.5, 0, 0), Seq(1, 0.5, 0, 0)))
    assert(qc(1).get < 0L) // negative cosine rounds away from zero
    assert(qc(2).isEmpty)  // zero norm is NULL, not 0
    val e = intercept[IllegalArgumentException] {
      Similarity.knnClassify(train, probe, "vec_id", "embedding",
        "label", k = 0)
    }
    assert(e.getMessage.contains("k must be"))
  }
}
