package graft

import scala.util.Random

import org.apache.spark.TestAccess

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find ground truth for property tests. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n.toLong).map(i => i -> find(i)).toMap
  }

  test("two components, a chain and a triangle") {
    // chain 1-2-3-4 (diameter 3) and triangle 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("id_a", "id_b")
    val cc = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("orientation and duplicate edges do not matter") {
    val e1 = Seq((5L, 9L), (9L, 5L), (5L, 9L), (9L, 7L)).toDF("id_a", "id_b")
    val cc = Graph.connectedComponents(e1).as[(Long, Long)].collect().toMap
    assert(cc == Map(5L -> 5L, 9L -> 5L, 7L -> 5L))
  }

  test("assignClusters gives isolated docs their own id") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val edges = Seq((2L, 4L)).toDF("id_a", "id_b")
    val out = Graph.assignClusters(docs, "doc_id", edges)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
  }

  /** Runs `body` with the session's checkpoint dir set to `dir`, then
    * unsets it, so the reliable path never leaks into other tests. */
  private def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try body finally TestAccess.clearCheckpointDir(sc)
  }

  private def treeSize(p: java.io.File): Long =
    if (p.isDirectory) p.listFiles().map(treeSize).sum else p.length()

  test("reliable checkpointDir: same labels/ranks as localCheckpoint, files land in the dir") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L)).toDF("id_a", "id_b")
    // no session dir: the ops truncate locally, write no checkpoint
    // files and set no dir
    val ccLocal = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(treeSize(new java.io.File(ckpt)) == 0,
      "checkpoint files written with no session checkpoint dir")
    val pr = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val prLocal = Graph.pageRank(pr, iters = 3)
      .as[(String, Long)].collect().toMap
    withCheckpointDir(ckpt) {
      val cc = Graph.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L))
      assert(cc == ccLocal)
      // the reliable path really wrote checkpoint blocks to the dir
      assert(treeSize(new java.io.File(ckpt)) > 0,
        "no checkpoint files written under the reliable dir")
      // every iterative op converges identically on the reliable path
      val star = Graph.connectedComponentsStar(edges)
        .as[(Long, Long)].collect().toMap
      assert(star == cc)
      val prReliable = Graph.pageRank(pr, iters = 3)
        .as[(String, Long)].collect().toMap
      assert(prReliable == prLocal)
      val kc = Graph.kCore(edges, k = 2)
        .as[(Long, Long)].collect().toMap
      assert(kc == Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
    }
  }

  test("non-convergence fails loudly rather than returning bad labels") {
    // a 12-vertex path has diameter 11 > maxIter 2 rounds of hash-min
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Graph.connectedComponents(edges, maxIter = 2)
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("incremental CC: fold new edges into an old labeling == full recompute") {
    // merge case: new edge 4-10 bridges the chain and triangle
    // components; labels must re-root to the merged min
    val eOld = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L)).toDF("id_a", "id_b")
    val eNew = Seq((4L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val oldLabels = Graph.connectedComponents(eOld)
    val inc = Graph.connectedComponentsIncremental(oldLabels, eNew)
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L, 20L -> 20L, 21L -> 20L), inc.toString)
    // property: random graphs, random half-splits — incremental equals
    // a full recompute over the union
    val rnd = new Random(11)
    for (trial <- 1 to 5) {
      val n = 30
      val edges = (0 until 40).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val (o, nw) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
      if (o.nonEmpty && nw.nonEmpty) {
        val lbl = Graph.connectedComponents(o.toDF("id_a", "id_b"))
        val got = Graph.connectedComponentsIncremental(
            lbl, nw.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        val full = Graph.connectedComponents(edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == full, s"trial $trial: got=$got full=$full")
      }
    }
  }

  test("property: labels match driver-side union-find on random graphs") {
    val rnd = new Random(42)
    (1 to 8).foreach { _ =>
      val n = 2 + rnd.nextInt(23)
      val es = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val truth = unionFind(n, es)
        val cc = Graph.connectedComponents(es.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        cc.foreach { case (id, comp) => assert(comp == truth(id),
          s"vertex $id: got $comp, union-find says ${truth(id)} (edges=$es)") }
      }
    }
  }

  test("star CC: same contract as hash-min on chain + triangle + orientation") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (4L, 3L), (1L, 2L)).toDF("id_a", "id_b")
    val cc = Graph.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("star CC converges in O(log^2 n) rounds on a deep path hash-min can't do") {
    // a 200-vertex path: hash-min needs 199 rounds (fails loudly at
    // maxIter=20); large-star/small-star contracts it geometrically
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Graph.connectedComponents(edges, maxIter = 20)
    }
    val cc = Graph.connectedComponentsStar(edges, maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 200 && cc.values.forall(_ == 0L))
  }

  test("hits: one hand-solved iteration; multi-iteration matches a driver replica exactly") {
    // A->C, B->C, C->A: C is the authority (two hubs point at it),
    // A and B are the hubs
    val edges = Seq(("A", "C"), ("B", "C"), ("C", "A")).toDF("src", "dst")
    val got1 = Graph.hits(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // hand-solved: aRaw = {C: 2e9, A: 1e9}, tot 3e9 ->
    //   auth A = 333333333, C = 666666666, B = 0
    // hRaw = {A: auth(C), B: auth(C), C: auth(A)}, tot 1666666665 ->
    //   hub A = B = 400000000 exactly, C = 200000000 exactly
    assert(got1("A") == ((400000000L, 333333333L)), got1.toString)
    assert(got1("B") == ((400000000L, 0L)), got1.toString)
    assert(got1("C") == ((200000000L, 666666666L)), got1.toString)
    // 3 iterations vs a BigInt driver replica of the same recurrence
    val es = Seq("A" -> "C", "B" -> "C", "C" -> "A")
    val nodes = Seq("A", "B", "C")
    var hub = nodes.map(_ -> BigInt(1000000000L)).toMap
    var auth = nodes.map(_ -> BigInt(0L)).toMap
    (1 to 3).foreach { _ =>
      val ar = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => hub(s) }.sum).toMap
      val ta = ar.values.sum
      auth = nodes.map(n => n -> (if (ta == 0) BigInt(0)
        else ar.getOrElse(n, BigInt(0)) * 1000000000L / ta)).toMap
      val hr = es.groupBy(_._1).view.mapValues(
        _.map { case (_, d) => auth(d) }.sum).toMap
      val th = hr.values.sum
      hub = nodes.map(n => n -> (if (th == 0) BigInt(0)
        else hr.getOrElse(n, BigInt(0)) * 1000000000L / th)).toMap
    }
    val got3 = Graph.hits(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    nodes.foreach { n =>
      assert(got3(n) == ((hub(n).toLong, auth(n).toLong)),
        s"$n: got ${got3(n)}, replica (${hub(n)}, ${auth(n)})")
    }
    intercept[IllegalArgumentException] {
      Graph.hits(edges, "src", "dst", iters = 0)
    }
  }

  test("pageRank: integral recurrence matches a driver replica exactly; hub wins") {
    // star + a back-edge so every node has out-degree >= 1:
    // 1,2,3 -> 0 and 0 -> 1
    val edges = Seq(("n1", "n0"), ("n2", "n0"), ("n3", "n0"), ("n0", "n1"))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver replica of the same integer recurrence
    val es = Seq("n1" -> "n0", "n2" -> "n0", "n3" -> "n0", "n0" -> "n1")
    val outDeg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000000L).toMap
    (1 to 5).foreach { _ =>
      val contribs = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
      rank = nodes.map(n =>
        n -> (150000000L + contribs.getOrElse(n, 0L) * 850000L / 1000000L)).toMap
    }
    assert(got == rank, s"got $got, replica $rank")
    // the hub collects three leaves' mass every round
    assert(got("n0") > got("n1") && got("n1") > got("n2"))
    assert(got("n2") == got("n3")) // symmetric leaves tie
  }

  test("property: star CC agrees with union-find on random graphs") {
    val rnd = new Random(7)
    (1 to 6).foreach { _ =>
      val n = 2 + rnd.nextInt(23)
      val es = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val truth = unionFind(n, es)
        val cc = Graph.connectedComponentsStar(es.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        cc.foreach { case (id, comp) => assert(comp == truth(id),
          s"vertex $id: got $comp, union-find says ${truth(id)} (edges=$es)") }
      }
    }
  }

  test("triangleCount: K4 has 4, a star has 0; dirt (dups/loops/orientation) ignored") {
    // K4 with duplicate, reversed, and self-loop edges mixed in
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i != j) yield (i, j)
    val dirty = k4 ++ Seq((0L, 0L), (1L, 1L), (0L, 1L), (1L, 0L))
    val r = Graph.triangleCount(dirty.toDF("id_a", "id_b")).head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 6 && r.getLong(2) == 4,
      s"got $r")
    // a star (hub 0 to 9 leaves): max-degree vertex, zero triangles
    val star = (1L to 9L).map(i => (0L, i))
    val s = Graph.triangleCount(star.toDF("id_a", "id_b")).head()
    assert(s.getLong(0) == 10 && s.getLong(1) == 9 && s.getLong(2) == 0)
  }

  test("kCore: peel cascade reaches the textbook core; low-k keeps everything") {
    // K4 with a pendant path hanging off it: 3-core = exactly the K4
    // (the path peels away in cascading rounds), 1-core = everything
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val path = Seq((3L, 4L), (4L, 5L), (5L, 6L))
    val df = (k4 ++ path).toDF("id_a", "id_b")
    val core3 = Graph.kCore(df, k = 3).as[(Long, Long)].collect().toMap
    assert(core3 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"got $core3")
    val core1 = Graph.kCore(df, k = 1).as[(Long, Long)].collect().toMap
    assert(core1.keySet == (0L to 6L).toSet)
    // k above the max degree: empty core, converged cleanly
    assert(Graph.kCore(df, k = 10).count() == 0)
  }

  test("property: kCore matches a driver-side peel on random graphs") {
    def peel(es: Set[(Long, Long)], k: Int): Map[Long, Int] = {
      var cur = es
      var done = false
      while (!done) {
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, o) => v -> o.size }
        val alive = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => alive(e._1) && alive(e._2))
        done = next == cur
        cur = next
      }
      cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, o) => v -> o.size }
    }
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { _ =>
      val n = 4 + rnd.nextInt(16)
      val es = Seq.fill(5 + rnd.nextInt(50))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (e._1 min e._2, e._1 max e._2)).toSet
      if (es.nonEmpty) {
        val k = 2 + rnd.nextInt(3)
        val truth = peel(es, k)
        val got = Graph.kCore(es.toSeq.toDF("id_a", "id_b"), k,
            maxIter = 30)
          .as[(Long, Long)].collect().toMap
        assert(got == truth.map { case (v, d) => v -> d.toLong },
          s"k=$k edges=$es: got $got want $truth")
      }
    }
  }

  test("property: triangleCount matches brute-force enumeration on random graphs") {
    val rnd = new scala.util.Random(11)
    (1 to 6).foreach { _ =>
      val n = 3 + rnd.nextInt(20)
      val es = Seq.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val und = es.map(e => (e._1 min e._2, e._1 max e._2)).toSet
        val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val truth = verts.combinations(3).count { case Seq(u, v, w) =>
          und((u, v)) && und((u, w)) && und((v, w)) }
        val got = Graph.triangleCount(es.toDF("id_a", "id_b"))
          .head().getLong(2)
        assert(got == truth, s"got $got want $truth (edges=$es)")
        // per-vertex census agrees with brute force on the same graph
        val perV = Graph.localTriangles(es.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val truthV = verts.map { v =>
          v -> verts.combinations(2).count { case Seq(x, y) =>
            x != v && y != v &&
              und((v min x, v max x)) && und((v min y, v max y)) &&
              und((x min y, x max y)) }
        }.toMap
        perV.foreach { case (v, (d, t)) =>
          assert(t == truthV(v), s"vertex $v: got $t want ${truthV(v)}")
          assert(d == und.count(e => e._1 == v || e._2 == v).toLong)
        }
        // 3 * total = sum of per-vertex counts
        assert(perV.values.map(_._2).sum == 3 * truth)
      }
    }
  }

  test("shortestPaths: hand graph, multi-source, nearest source wins") {
    // chain 1-2-3-4-5, triangle 10-11-12, isolated source 99
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("id_a", "id_b")
    val sources = Seq(1L, 5L, 10L, 99L).toDF("id")
    val d = Graph.shortestPaths(edges, sources)
      .as[(Long, Long)].collect().toMap
    // 3 is two hops from BOTH 1 and 5 — min is what lands
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L,
      10L -> 0L, 11L -> 1L, 12L -> 1L, 99L -> 0L))
  }

  test("shortestPaths: the hop cap truncates the wavefront exactly") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val d = Graph.shortestPaths(chain, Seq(1L).toDF("id"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4,5,6 beyond the cap
    // cycles terminate without the cap binding
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id_a", "id_b")
    val dc = Graph.shortestPaths(cyc, Seq(1L).toDF("id"), maxHops = 30)
      .as[(Long, Long)].collect().toMap
    assert(dc == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("coOccurrence: pairs, weights, duplicate rows, and the loud cap") {
    val rows = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 2L), // dup row
      (200L, 1L), (200L, 2L), (300L, 9L)) // singleton group -> no pairs
      .toDF("grp", "item")
    val w = Graph.coOccurrence(rows, "grp", "item", weighted = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(w == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
    val u = Graph.coOccurrence(rows, "grp", "item")
      .as[(Long, Long)].collect().toSet
    assert(u == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val ex = intercept[IllegalArgumentException] {
      Graph.coOccurrence(rows, "grp", "item", maxGroupItems = 2L)
    }
    assert(ex.getMessage.contains("maxGroupItems"), ex.getMessage)
  }

  test("weightedShortestPaths: cheaper multi-hop beats direct; caps bind") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 100L))
      .toDF("src", "dst", "weight")
    val full = Graph.weightedShortestPaths(e, Seq(1L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    // one hop only: the expensive direct edge is all that fits
    val capped = Graph.weightedShortestPaths(e, Seq(1L).toDF("id"), maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 0L, 2L -> 5L, 3L -> 100L))
    // multi-source: a source vertex is distance 0 regardless of edges
    val multi = Graph.weightedShortestPaths(e, Seq(1L, 3L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 0L, 2L -> 5L, 3L -> 0L))
    // directed: nothing reaches 1
    assert(!Graph.weightedShortestPaths(e, Seq(3L).toDF("id"))
      .as[(Long, Long)].collect().toMap.contains(2L))
  }

  test("weightedShortestPaths: cycles converge; unit weights equal BFS") {
    val cyc = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val d = Graph.weightedShortestPaths(cyc, Seq(1L).toDF("id"), maxHops = 30)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // unit-weight distances match the BFS operator on the same graph
    val sym = cyc.select($"src".as("id_a"), $"dst".as("id_b"))
    val bfs = Graph.shortestPaths(sym, Seq(1L).toDF("id"), maxHops = 30)
      .as[(Long, Long)].collect().toMap
    // shortestPaths symmetrizes; compare on the symmetrized weighted twin
    val wsym = cyc.unionByName(cyc.select($"dst".as("src"), $"src".as("dst"),
      $"weight"))
    val dw = Graph.weightedShortestPaths(wsym, Seq(1L).toDF("id"), maxHops = 30)
      .as[(Long, Long)].collect().toMap
    assert(dw == bfs)
  }

  test("shortestPaths: reliable-checkpoint path agrees with local") {
    val dir = java.nio.file.Files.createTempDirectory("bfs_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val local = Graph.shortestPaths(edges, Seq(1L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    val reliable = withCheckpointDir(dir) {
      Graph.shortestPaths(edges, Seq(1L).toDF("id"))
        .as[(Long, Long)].collect().toMap
    }
    assert(local == reliable)
    assert(treeSize(new java.io.File(dir)) > 0,
      "no checkpoint files written under the reliable dir")
  }

  test("labelPropagation: two cliques joined by a bridge separate") {
    // cliques {1,2,3} and {10,11,12} plus bridge 3-10: each vertex's
    // neighborhood majority stays inside its clique, so three rounds
    // settle both cliques on their min label
    val clique = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("id_a", "id_b")
    val labels = Graph.labelPropagation(clique, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    // the second clique agrees on one label (the bridge's label 3 wins
    // the consensus there) and that label differs from clique one's
    assert(labels(10L) == labels(11L) && labels(11L) == labels(12L))
    assert(labels(10L) != labels(1L))
  }

  test("labelPropagation: tie-break picks the smallest label") {
    // vertex 5's neighbors 1 and 9 each contribute one label — the
    // min-label tie-break must choose 1, deterministically
    val path = Seq((1L, 5L), (5L, 9L)).toDF("id_a", "id_b")
    val one = Graph.labelPropagation(path, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(5L) == 1L)
  }

  test("labelPropagation: synchronous rounds are a pure function of iters") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("id_a", "id_b")
    val a = Graph.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toSet
    val b = Graph.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
    // 4-cycle, one round: every vertex adopts its smaller neighbor
    val r1 = Graph.labelPropagation(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("coreness: h-index rounds land on exact core numbers; pendant stays 1; guard") {
    // triangle a-b-c plus pendant d-a: true coreness 2/2/2/1.
    //  seed = degrees (3, 2, 2, 1);
    //  round 1: a = H{2,2,1} = 2, b = H{3,2} = 2, c = 2, d = H{3} = 1
    //  — already the fixpoint; later rounds must not move it
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
      .toDF("id_a", "id_b")
    val got = Graph.coreness(edges, "id_a", "id_b", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L),
      got.toString)
    // one round from the degree seed already equals it here
    val one = Graph.coreness(edges, "id_a", "id_b", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == got, one.toString)
    // a path is all 1-core; direction of input edges is irrelevant
    val path = Seq((10L, 11L), (12L, 11L)).toDF("id_a", "id_b")
    val p = Graph.coreness(path, "id_a", "id_b", iters = 2)
      .collect().map(_.getLong(1)).toSet
    assert(p == Set(1L), p.toString)
    intercept[IllegalArgumentException] {
      Graph.coreness(edges, "id_a", "id_b", iters = 0)
    }
  }

  test("pageRankWeighted: two-edge split closed form, parallel-edge merge, junk weights dropped") {
    // a -> b at weight 3, a -> c at weight 1: b gets 3/4 of a's rank
    //   iter 1: contrib(b) = (1e9*3) div 4 = 750000000 ->
    //     rank(b) = 150000000 + 637500000 = 787500000;
    //     contrib(c) = 250000000 -> rank(c) = 362500000;
    //     rank(a) = 150000000 (no in-edges)
    //   iter 2: a's 150000000 splits 112500000 / 37500000 ->
    //     rank(b) = 245625000, rank(c) = 181875000
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val g1 = Graph.pageRankWeighted(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g1 == Map("a" -> 150000000L, "b" -> 787500000L,
      "c" -> 362500000L), g1.toString)
    val g2 = Graph.pageRankWeighted(edges, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g2 == Map("a" -> 150000000L, "b" -> 245625000L,
      "c" -> 181875000L), g2.toString)
    // parallel edges merge by exact weight sum: (1 + 2) == 3
    val par = Seq(("a", "b", 1L), ("a", "b", 2L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    val gp = Graph.pageRankWeighted(par, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gp == g2, s"parallel-edge merge: $gp != $g2")
    // NULL and non-positive weights are dropped, self-loops too
    val junk = Seq(("a", "b", Some(3L)), ("a", "c", Some(1L)),
      ("a", "d", Some(0L)), ("a", "e", Option.empty[Long]),
      ("a", "f", Some(-5L)), ("a", "a", Some(9L)))
      .toDF("src", "dst", "w")
    val gj = Graph.pageRankWeighted(junk, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gj == g2, s"junk weights must drop: $gj != $g2")
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(edges, iters = 0)
    }
  }

  test("pageRankPersonalized: mass stays near the seed, unreachable = 0") {
    // directed: seed 1 -> 2 -> 3, and an isolated-from-seed edge 8 -> 9
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val r = Graph.pageRankPersonalized(edges, Seq(1L).toDF("id"),
        iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // base = 150000000 div 1 (one seed)
    assert(r("1") == 150000000L)
    // 2 receives d * base/outdeg(1): 150e6 * 0.85 = 127500000
    assert(r("2") == 127500000L)
    // 3 receives d^2 * base: 127500000 * 850000 div 1000000
    assert(r("3") == 108375000L)
    // no path from the seed: exactly zero, by design
    assert(r("8") == 0L && r("9") == 0L)
  }

  test("pageRankPersonalized: seeds absent from the graph fail loudly when empty") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRankPersonalized(edges, Seq(99L).toDF("id"), iters = 1)
    }
    assert(ex.getMessage.contains("seed"))
    // seeds split the base: two seeds halve each share
    val two = Graph.pageRankPersonalized(
        Seq((1L, 2L), (3L, 2L)).toDF("src", "dst"),
        Seq(1L, 3L).toDF("id"), iters = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(two("1") == 75000000L && two("3") == 75000000L)
    // 2 gets d * (75e6 + 75e6)
    assert(two("2") == 127500000L)
  }

  test("associationRules: hand-checked support/confidence/lift") {
    // baskets: {1,2} {1,2} {1,3} {2} -> only pair (1,2) reaches
    // minPairGroups=2; n_groups=4, n(1)=3, n(2)=3
    val baskets = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L), (40L, 2L))
      .toDF("basket", "item")
    val rules = Graph.associationRules(baskets, "basket", "item",
        minPairGroups = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(rules.keySet == Set((1L, 2L), (2L, 1L)))
    // support 2/4 = 500000 ppm; confidence 2/3 = 666666 ppm;
    // lift 2*4/(3*3) = 888888 micros — all integer-truncated
    assert(rules((1L, 2L)) == ((2L, 3L, 500000L, 666666L, 888888L)))
    assert(rules((2L, 1L)) == ((2L, 3L, 500000L, 666666L, 888888L)))
    // duplicate items within one basket must not inflate counts
    val dup = baskets.union(Seq((10L, 1L)).toDF("basket", "item"))
    val again = Graph.associationRules(dup, "basket", "item",
      minPairGroups = 2).collect()
    assert(again.length == 2 && again.head.getLong(2) == 2L)
  }

  test("labelPropagation rejects negative vertex ids") {
    val bad = Seq((-1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Graph.labelPropagation(bad, iters = 1)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("assortativity: star = -1, regular graph empty, mixed graph in range") {
    // star K1,3: every edge joins degree 3 to degree 1 -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val r = Graph.assortativity(star).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((6L, -1000000L)), r.toString)
    // triangle: degree-regular -> zero variance -> empty
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    assert(Graph.assortativity(tri).collect().isEmpty)
    // a mixed graph scores in [-1, 1]
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("id_a", "id_b")
    val rm = Graph.assortativity(mixed).collect().head.getLong(1)
    assert(rm >= -1000000L && rm <= 1000000L)
  }

  test("closenessFromSeeds: path-graph closed form, hop bound, unreachable seeds, seed cap") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    def run(seeds: Seq[Long], hops: Int) =
      Graph.closenessFromSeeds(path, seeds.toDF("id"), maxHops = hops)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // seed 1 on a 5-path: dists 1,2,3,4 -> 1e6/1 + 1e6/2 + 1e6/3 + 1e6/4
    val full = 1000000L + 500000L + 333333L + 250000L
    assert(run(Seq(1L, 5L), 8) == Map(1L -> ((4L, full)), 5L -> ((4L, full))))
    // hop bound caps reach
    assert(run(Seq(1L), 2) == Map(1L -> ((2L, 1500000L))))
    // a seed absent from the graph scores zero, not a missing row
    assert(run(Seq(1L, 99L), 8)(99L) == ((0L, 0L)))
    // loud seed-count guard
    val e = intercept[IllegalArgumentException] {
      Graph.closenessFromSeeds(path, (1L to 20L).toDF("id"),
        maxHops = 2, maxSeeds = 5L)
    }
    assert(e.getMessage.contains("maxSeeds"))
  }

  test("closenessFromSeeds: >64 seeds exercises the multi-word settled bitmask") {
    // star K1,70 with ALL 71 vertices as seeds: seed indexes span two
    // 64-bit mask words, so the word-selection (sidx div 64), the
    // per-word bit_or aggregation and the transform/explode decode all
    // run on the words > 1 path the sf-scale bench never reaches.
    // Closed form: center reaches 70 leaves at dist 1; each leaf
    // reaches the center at 1 and 69 leaves at 2.
    val star = (1L to 70L).map(i => (0L, i)).toDF("id_a", "id_b")
    val seeds = (0L to 70L).toDF("id")
    val got = Graph.closenessFromSeeds(star, seeds, maxHops = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.size == 71)
    assert(got(0L) == ((70L, 70L * 1000000L)), got(0L).toString)
    val leaf = (70L, 1000000L + 69L * 500000L)
    assert((1L to 70L).forall(i => got(i) == leaf),
      got.filterNot(_._2 == leaf).toString)
  }

  test("kTruss delta peel: a triangle losing TWO edges in one round decrements survivors once") {
    // K4 on {1,2,3,4} (every edge closes 2 triangles) plus vertex 5
    // tied to 1 and 2 only. Round 1 peels exactly (1,5) and (2,5)
    // (support 1 < k-2); that destroys the SINGLE triangle (1,2,5),
    // which contains BOTH peeled edges — the surviving edge (1,2) must
    // lose exactly ONE support (3 -> 2, stays in the truss). A
    // per-peeled-edge decrement without the sorted-triple dedup would
    // take it to 1 and wrongly cascade the whole K4 away.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (2L, 5L)).toDF("id_a", "id_b")
    val got = Graph.kTruss(edges, k = 4)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), got.mkString(", "))
    // multi-round cascade through the delta path: a strip of 4
    // triangles where the 3 shared edges start at support 2 and every
    // round-1 peel destroys ALL triangles -> the truss empties over
    // two delta decrements per surviving edge, never one
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("id_a", "id_b")
    assert(Graph.kTruss(strip, k = 4).count() == 0L)
  }

  test("katzCentrality: walk-length terms accumulate; no in-edges stays at base; guard") {
    // directed chain 1->2->3, alpha = 0.1, 2 rounds:
    // x2 = 1e9 + 1e8; x3 = 1e9 + (1e9 + 1e8)//10 (the length-2 term)
    val chain = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
    val got = Graph.katzCentrality(chain, iters = 2, alphaPpm = 100000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("1" -> 1000000000L, "2" -> 1100000000L,
      "3" -> 1110000000L), got.toString)
    // two sources into one sink: contributions SUM (no degree split)
    val vee = Seq(("1", "2"), ("3", "2")).toDF("src", "dst")
    val g2 = Graph.katzCentrality(vee, iters = 2, alphaPpm = 100000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g2("2") == 1200000000L, g2.toString)
    val e = intercept[IllegalArgumentException] {
      Graph.katzCentrality(chain, iters = 0)
    }
    assert(e.getMessage.contains("[1,50]"))
  }

  test("eigenvectorCentrality: cycle uniform, star closed forms both parities, guard") {
    // symmetrized 4-cycle: every node has two unit in-neighbors, so
    // the normalized score is 1e9 div 4 at EVERY round (fixed point)
    val cyc = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val g = Graph.eigenvectorCentrality(cyc, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g.values.toSet == Set(250000000L), g.toString)
    // star (center 0, leaves 1..4, symmetrized), round 1:
    //   raw(center)=4e9, raw(leaf)=1e9, total=8e9
    //   center = 4e9*1e9//8e9 = 5e8; leaf = 1e9*1e9//8e9 = 1.25e8
    val star = (1 to 4).flatMap(i =>
      Seq(("0", i.toString), (i.toString, "0"))).toDF("src", "dst")
    val s1 = Graph.eigenvectorCentrality(star, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1("0") == 500000000L &&
      (1 to 4).forall(i => s1(i.toString) == 125000000L), s1.toString)
    // round 2 (bipartite parity — fixed iters keeps it replayable):
    //   raw(center)=4*1.25e8=5e8, raw(leaf)=5e8, total=2.5e9 -> all 2e8
    val s2 = Graph.eigenvectorCentrality(star, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2.values.toSet == Set(200000000L), s2.toString)
    val e = intercept[IllegalArgumentException] {
      Graph.eigenvectorCentrality(star, iters = 0)
    }
    assert(e.getMessage.contains("[1,50]"))
  }

  test("betweennessFromSeeds: path and diamond closed forms, multi-seed sum, seed cap") {
    def run(edges: Seq[(Long, Long)], seeds: Seq[Long], hops: Int) =
      Graph.betweennessFromSeeds(edges.toDF("id_a", "id_b"),
          seeds.toDF("id"), maxHops = hops)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // path 1-2-3-4-5, seed 1, hops 3: levels 2,3,4; delta(4)=0,
    // delta(3)=1e6, delta(2)=2e6 (each hop adds one full dependency)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(path, Seq(1L), 3) ==
      Map(2L -> ((1L, 2000000L)), 3L -> ((1L, 1000000L)), 4L -> ((1L, 0L))))
    // diamond 1-2-4, 1-3-4: two equal shortest paths split the
    // dependency — sigma(4)=2, delta(2)=delta(3)=1e6//2
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(run(diamond, Seq(1L), 4) ==
      Map(2L -> ((1L, 500000L)), 3L -> ((1L, 500000L)), 4L -> ((1L, 0L))))
    // both endpoints as seeds: dependencies SUM per vertex and
    // endpoint rows appear with the other seed's zero dependency
    assert(run(diamond, Seq(1L, 4L), 4) ==
      Map(1L -> ((1L, 0L)), 2L -> ((2L, 1000000L)),
        3L -> ((2L, 1000000L)), 4L -> ((1L, 0L))))
    // loud seed-count guard
    val e = intercept[IllegalArgumentException] {
      Graph.betweennessFromSeeds(path.toDF("id_a", "id_b"),
        (1L to 20L).toDF("id"), maxHops = 2, maxSeeds = 5L)
    }
    assert(e.getMessage.contains("maxSeeds"))
  }

  test("louvainMove: clique collapses to one community; modularity improves; deterministic; guard") {
    // complete 4-clique: 2 synchronous rounds reach a single community
    val clique = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("id_a", "id_b")
    val cl = Graph.louvainMove(clique, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.keySet == Set(1L, 2L, 3L, 4L))
    assert(cl.values.toSet.size == 1, s"expected one community: $cl")
    // bridged triangles: whatever the synchronous rounds settle on, it
    // must beat the singleton labeling on modularity (the greedy's
    // whole contract)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      Graph.modularity(edges, labels).agg(
        org.apache.spark.sql.functions.sum($"q_micros"))
        .collect().head.getLong(0)
    val louvain = Graph.louvainMove(edges, iters = 2)
    val singletons = (1L to 6L).map(i => (i, i.toString)).toDF("id", "label")
    assert(q(louvain.withColumn("label", $"label".cast("string"))) >
      q(singletons))
    // pure function of (edges, iters): a second run is identical
    val again = Graph.louvainMove(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again == louvain.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet)
    // non-negative-id guard (the LPA tie-break convention)
    val ex = intercept[IllegalArgumentException] {
      Graph.louvainMove(Seq((-1L, 2L)).toDF("id_a", "id_b"), iters = 1)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("modularity: closed form on two bridged triangles; zero-intra and all-one-label cases") {
    // triangle {1,2,3} + triangle {4,5,6} + bridge 3-4: m = 7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val byTriangle = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y"), (5L, "y"), (6L, "y")).toDF("id", "label")
    val got = Graph.modularity(edges, byTriangle)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // per community: sum_in = 6 (3 intra edges), sum_tot = 7,
    // q = (2m*6 - 49)/(4m^2) = 35/196 -> 178571 micro-units
    assert(got("x") == ((3L, 6L, 7L, 178571L)), got.toString)
    assert(got("y") == ((3L, 6L, 7L, 178571L)))
    // community with zero intra edges: negative contribution, no NULL
    val split = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y"), (5L, "y"), (6L, "z")).toDF("id", "label")
    val z = Graph.modularity(edges, split)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    // z = {6}: sum_in 0, sum_tot 2, q = -4/196 -> -20408
    assert(z("z") == ((0L, -20408L)), z.toString)
    // degenerate labeling (everything one community) scores exactly 0
    val one = (1L to 6L).map(i => (i, "all")).toDF("id", "label")
    val q0 = Graph.modularity(edges, one).collect()
    assert(q0.length == 1 && q0.head.getLong(4) == 0L)
    // duplicate/reversed edge rows do not double-count
    val dup = edges.union(Seq((2L, 1L)).toDF("id_a", "id_b"))
    assert(Graph.modularity(dup, byTriangle).collect()
      .map(_.getLong(4)).toSeq.sorted ==
      got.values.map(_._4).toSeq.sorted)
  }

  test("adamicAdar: closed form, edge exclusion, apex-degree cap semantics") {
    import spark.implicits._
    // square 1-2-4-3-1 plus diagonal 2-3: deg(1)=deg(4)=2, deg(2)=deg(3)=3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = Graph.adamicAdar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // only the absent pair (1,4) survives: common {2,3}, both deg 3;
    // (2,3) shares {1,4} but is an existing edge -> anti-joined out
    val term3 = math.round(1e6 / math.log(3.0))
    assert(got == Map((1L, 4L) -> ((2L, 2 * term3))), got.toString)
    // cap is SEMANTICS: deg-3 apexes excluded -> no wedges at all
    assert(Graph.adamicAdar(edges, maxApexDegree = 2).count() == 0)
    // reversed/duplicate edge rows change nothing
    val dup = edges.union(Seq((2L, 1L), (4L, 2L)).toDF("id_a", "id_b"))
    val got2 = Graph.adamicAdar(dup).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got2 == got)
    intercept[IllegalArgumentException] {
      Graph.adamicAdar(edges, maxApexDegree = 1)
    }
  }

  test("kTruss: K4 plus a pendant triangle peels to K4; k=3 keeps the triangle; loud non-convergence") {
    import org.apache.spark.sql.functions.col
    // K4 on 1..4 (every edge in 2 triangles) + triangle (1,2,5)
    // hanging off edge (1,2): its side edges close only 1 triangle
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (2L, 5L)).toDF("id_a", "id_b")
    val t4 = Graph.kTruss(edges, k = 4).orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t4.toSeq == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), t4.mkString(", "))
    // k=3: any triangle survives — all 8 edges stay
    assert(Graph.kTruss(edges, k = 3).count() == 8L)
    // triangle-free graph: 4-truss is empty
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Graph.kTruss(path, k = 4).count() == 0L)
    intercept[IllegalArgumentException] {
      Graph.kTruss(edges, k = 4, maxIter = 0)
    }
  }

  test("jaccardNeighbors: closed-form square + pendant; true degrees; apex cap semantics") {
    import org.apache.spark.sql.functions.col
    // square 1-2-3-4-1 plus pendant 1-5: deg(1)=3, others 2/1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 5L))
      .toDF("id_a", "id_b")
    val got = Graph.jaccardNeighbors(edges).orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // (1,3): common {2,4}, J = 2/(3+2-2); (2,4): common {1,3}, J = 1;
    // (2,5)/(4,5): common {1}, J = 1/2
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 3L, 2L, 666666L),
      (2L, 4L, 2L, 2L, 2L, 1000000L),
      (2L, 5L, 1L, 2L, 1L, 500000L),
      (4L, 5L, 1L, 2L, 1L, 500000L)), got.mkString(", "))
    // cap 2 excludes apex 1 (deg 3): hub-mediated overlap uncounted,
    // true degrees still in the denominator
    val capped = Graph.jaccardNeighbors(edges, maxApexDegree = 2)
      .orderBy(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(capped.toSeq == Seq((1L, 3L, 2L, 666666L),
      (2L, 4L, 1L, 333333L)), capped.mkString(", "))
  }

  test("diameterBound: exact on a path, deterministic seeds, hop cap honored, empty edges empty") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a disconnected pair: degrees tie at 2 for
    // {2,3,4} -> min id 2 starts; farthest is 5 (dist 3); sweep 2
    // from 5 finds the true diameter 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("id_a", "id_b")
    val r = Graph.diameterBound(edges).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 3L, 5L, 4L)))
    // a hop cap truncates both sweeps identically
    val c = Graph.diameterBound(edges, maxHops = 1).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((2L, 1L, 1L, 1L)))
    assert(Graph.diameterBound(
      edges.filter($"id_a" < 0)).count() == 0L)
  }

  test("stronglyConnectedComponents: cycle, DAG, bridged cycles, bow-tie closed forms") {
    def scc(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.stronglyConnectedComponents(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
    // a directed cycle is one SCC labeled by its min id
    assert(scc(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // a DAG (path + diamond) is all singletons
    assert(scc(Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 5L), (4L, 5L))) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    // two cycles joined by ONE directed edge stay separate SCCs
    assert(scc(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // bow-tie: in-tail -> cycle -> out-tail, plus a back edge closing
    // the second tail into the core — trim + a second outer round
    assert(scc(Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 20L),
      (20L, 21L), (21L, 20L))) ==
      Map(10L -> 10L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 20L, 21L -> 20L))
    // self-loops and duplicate edges are ignored / deduped
    assert(scc(Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L))
    // dagLevels: path and diamond closed forms; a cycle fails loudly
    def lv(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.dagLevels(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
    assert(lv(Seq((1L, 2L), (2L, 3L))) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(lv(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    val ce = intercept[IllegalArgumentException] {
      Graph.dagLevels(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        maxIter = 10)
    }
    assert(ce.getMessage.contains("cycle"))
    // condensation composition: two cycles + one bridge -> exactly
    // one cross-SCC edge (1-SCC feeds 3-SCC once)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val lab = Graph.stronglyConnectedComponents(edges, "src", "dst")
    val cond = edges
      .join(lab.select($"id".as("src"), $"scc_id".as("scc_a")), "src")
      .join(lab.select($"id".as("dst"), $"scc_id".as("scc_b")), "dst")
      .filter($"scc_a" =!= $"scc_b")
      .groupBy($"scc_a", $"scc_b").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cond.toSeq == Seq((1L, 3L, 1L)), cond.mkString(";"))
  }

  test("richClub: clique + pendant hand case, duplicate/reversed edges collapse, small clubs absent") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4-1: degrees 3,2,2,1. k=1: club
    // {1,2,3}, all 3 internal edges -> phi = 1. k=2: club {1} alone
    // -> absent. Reversed + duplicate edges must not double-count.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (1L, 4L),
      (3L, 2L)).toDF("id_a", "id_b")
    val got = Graph.richClub(edges, grid = Seq(1L, 2L, 4L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 3L, 1000000L)), got.mkString(", "))
    // a looser threshold includes everyone: k grid {0 invalid} ->
    // guard trips on zero/negative thresholds
    assertThrows[IllegalArgumentException] {
      Graph.richClub(edges, grid = Seq(0L))
    }
  }

  test("minimumSpanningForest: triangle cycle property, forest, ties, parallel edges, guard") {
    import spark.implicits._
    def mst(rows: Seq[(Long, Long, Long)], maxRounds: Int = 25) =
      Graph.minimumSpanningForest(rows.toDF("a", "b", "w"), "a", "b",
          "w", maxRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // triangle: the heaviest edge is the one the cycle property drops
    assert(mst(Seq((0L, 1L, 1L), (1L, 2L, 2L), (0L, 2L, 3L))) ==
      Set((0L, 1L, 1L), (1L, 2L, 2L)))
    // disconnected graph: a FOREST keeps one tree per component
    assert(mst(Seq((0L, 1L, 4L), (5L, 6L, 9L))) ==
      Set((0L, 1L, 4L), (5L, 6L, 9L)))
    // all-tied square: strict (w, a, b) order keeps the Kruskal set
    assert(mst(Seq((0L, 1L, 5L), (1L, 2L, 5L), (2L, 3L, 5L),
      (0L, 3L, 5L))) ==
      Set((0L, 1L, 5L), (0L, 3L, 5L), (1L, 2L, 5L)))
    // parallel edges collapse to min weight; self-loops are dropped;
    // orientation is irrelevant (canonical a < b output)
    assert(mst(Seq((1L, 0L, 9L), (0L, 1L, 2L), (3L, 3L, 1L),
      (1L, 2L, 7L))) == Set((0L, 1L, 2L), (1L, 2L, 7L)))
    // a two-stage merge (outer edge heavier than both leaf edges)
    // cannot finish in one round: the loud guard fires
    val twoStage = Seq((0L, 1L, 1L), (1L, 2L, 9L), (2L, 3L, 2L))
    assert(mst(twoStage) ==
      Set((0L, 1L, 1L), (1L, 2L, 9L), (2L, 3L, 2L)))
    val e = intercept[IllegalArgumentException] {
      mst(twoStage, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("maximalMatching: greedy identity on chains/triangles, ties, rounds guard") {
    import spark.implicits._
    def mm(rows: Seq[(Long, Long, Long)], maxRounds: Int = 50) =
      Graph.maximalMatching(rows.toDF("a", "b", "w"), "a", "b", "w",
          maxRounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // triangle: only the lightest edge matches (its endpoints block
    // the other two)
    assert(mm(Seq((0L, 1L, 1L), (1L, 2L, 2L), (0L, 2L, 3L))) ==
      Set((0L, 1L, 1L)))
    // path with increasing weights: greedy takes edges 1 and 3 —
    // and needs a SECOND locally-dominant round for edge 3
    val chain = Seq((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L))
    assert(mm(chain) == Set((0L, 1L, 1L), (2L, 3L, 3L)))
    val e = intercept[IllegalArgumentException] {
      mm(chain, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // all-tied square: strict (w, a, b) order takes (0,1) then (2,3)
    assert(mm(Seq((0L, 1L, 5L), (1L, 2L, 5L), (2L, 3L, 5L),
      (0L, 3L, 5L))) == Set((0L, 1L, 5L), (2L, 3L, 5L)))
    // parallel edges collapse to min weight; self-loops dropped
    assert(mm(Seq((1L, 0L, 9L), (0L, 1L, 2L), (4L, 4L, 1L))) ==
      Set((0L, 1L, 2L)))
  }
}
