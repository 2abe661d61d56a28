package graft

import org.apache.spark.sql.functions._
import graft.operators.OrderedStats

class OrderedStatsSpec extends SparkSpec {
  import spark.implicits._

  test("cumCounts: inclusive per-side cumulatives match a driver fold across bucket boundaries") {
    val rows = Seq((1.0, true), (1.0, false), (2.0, true), (3.0, false),
      (3.0, false), (5.0, true), (8.0, false), (8.0, true), (9.0, true))
    val df = rows.toDF("v", "t")
    for (nBuckets <- Seq(1, 3, 7)) {
      val got = OrderedStats.cumCounts(df, $"v", $"t", nBuckets)
        .collect().map(r => (r.getDouble(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .sortBy(_._1)
      val vs = rows.map(_._1).distinct.sorted
      var (ca, cb) = (0L, 0L)
      val want = vs.map { v =>
        val a = rows.count(r => r._1 == v && r._2).toLong
        val b = rows.count(r => r._1 == v && !r._2).toLong
        ca += a; cb += b
        (v, (a, b, ca, cb))
      }
      assert(got.toSeq == want, s"nBuckets=$nBuckets")
    }
  }

  test("ksTest: disjoint supports score 1e6, identical samples 0, shifted hand case exact") {
    // disjoint: a in {1,2}, b in {10,11} -> D = 1
    val disjoint = Seq((1.0, true), (2.0, true), (10.0, false), (11.0, false))
      .toDF("v", "t")
    val d1 = OrderedStats.ksTest(disjoint, $"v", $"t").collect().head
    assert((d1.getLong(0), d1.getLong(1), d1.getLong(2)) == ((2L, 2L, 1000000L)))
    // identical distributions -> D = 0
    val same = Seq(1.0, 2.0, 3.0).flatMap(v => Seq((v, true), (v, false)))
      .toDF("v", "t")
    assert(OrderedStats.ksTest(same, $"v", $"t")
      .collect().head.getLong(2) == 0L)
    // hand case: a = {1,2,3}, b = {2,3,4}: F gaps at v=1: |3*1-0| = 3;
    // v=2: |2*3-1*3|=3; v=3: |9-6|=3; v=4: 0 -> D = 3/9
    val hand = Seq((1.0, true), (2.0, true), (3.0, true),
      (2.0, false), (3.0, false), (4.0, false)).toDF("v", "t")
    assert(OrderedStats.ksTest(hand, $"v", $"t")
      .collect().head.getLong(2) == math.round(3.0 / 9.0 * 1e6))
    // null values, NaN values, and null tags are excluded; a side
    // emptied by the exclusions yields an empty result, not a 0/0
    val withNulls = Seq((Option(1.0), Option(true)),
      (None: Option[Double], Option(false)), (Option(2.0), None),
      (Option(Double.NaN), Option(false)))
      .toDF("v", "t")
    assert(OrderedStats.ksTest(withNulls, $"v", $"t").collect().isEmpty)
  }

  test("spearman: monotone = 1e6 (ties included), reversal = -1e6, nonlinear monotone, degenerate empty") {
    def rho(rows: Seq[(Double, Double)], nb: Int = 32): Option[Long] =
      OrderedStats.spearman(rows.toDF("x", "y"), $"x", $"y", nBuckets = nb)
        .collect().headOption.map(_.getLong(1))
    // aligned ties: identical average ranks both sides -> exactly 1
    assert(rho(Seq((1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)))
      .contains(1000000L))
    // reversed: exactly -1
    assert(rho(Seq((1.0, 40.0), (2.0, 20.0), (2.0, 20.0), (3.0, 10.0)))
      .contains(-1000000L))
    // monotone but NON-linear: Spearman 1e6 where Pearson would not be
    val cubic = (1 to 20).map(i => (i.toDouble, math.pow(i.toDouble, 3)))
    assert(rho(cubic).contains(1000000L))
    // independent seeded noise: |rho| small
    val rnd = new scala.util.Random(9)
    val noise = (1 to 200).map(_ => (rnd.nextDouble(), rnd.nextDouble()))
    assert(math.abs(rho(noise).get) < 300000L)
    // bucketing is a grouping device: same rho for any nBuckets
    assert(rho(noise, nb = 3) == rho(noise, nb = 17))
    // constant column: zero rank variance -> empty, not 0/0
    assert(rho(Seq((5.0, 1.0), (5.0, 2.0), (5.0, 3.0))).isEmpty)
    // pairwise NULL exclusion
    val withNull = Seq((Option(1.0), Option(1.0)),
      (Option(2.0), None: Option[Double]), (Option(3.0), Option(2.0)))
      .toDF("x", "y")
    assert(OrderedStats.spearman(withNull, $"x", $"y")
      .collect().head.getLong(0) == 2L)
  }

  test("gainsTable: per-decile closed form, tie collapse, gain/lift exact") {
    // 10 distinct scores, positives at the top 3: each score is its
    // own decile (decile 0 = score 10)
    val rows = (1 to 10).map(i => (i.toDouble, i >= 8))
    val g = OrderedStats.gainsTable(rows.toDF("s", "y"), $"s", $"y")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(g.size == 10)
    // decile 0 = the single top score: 1 row, 1 positive, gain 1/3,
    // lift = (1/1)/(3/10) = 10/3
    assert(g(0) == ((1L, 1L, 1L, 333333L, 3333333L)), g.toString)
    assert(g(2)._4 == 1000000L) // all positives captured by decile 2
    assert(g(9) == ((1L, 0L, 3L, 1000000L, 1000000L))) // full population
    // monotone: gain never decreases, lift never increases
    val ordered = (0 to 9).map(g)
    assert(ordered.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    assert(ordered.map(_._5).sliding(2).forall(p => p(0) >= p(1)))
    // one distinct score: the whole tie group lands in ONE decile —
    // the decile of its last cumulative position, floor((N-1)*10/N)
    val tied = OrderedStats.gainsTable(
      Seq((5.0, true), (5.0, false), (5.0, true)).toDF("s", "y"), $"s", $"y")
      .collect()
    assert(tied.length == 1 && tied.head.getInt(0) == 6) // (3-1)*10/3
    assert(tied.head.getLong(4) == 1000000L &&
      tied.head.getLong(5) == 1000000L)
    // no positives: empty result, not a division by zero
    assert(OrderedStats.gainsTable(
      Seq((1.0, false), (2.0, false)).toDF("s", "y"), $"s", $"y")
      .collect().isEmpty)
  }

  test("aucExact: separation 1e6, reversal 0, all-tied 500000, tie hand case exact") {
    def auc(rows: Seq[(Double, Boolean)]): Long =
      OrderedStats.aucExact(rows.toDF("s", "y"), $"s", $"y")
        .collect().head.getLong(2)
    // perfect separation / reversal / pure ties
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))) == 1000000L)
    assert(auc(Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))) == 0L)
    assert(auc(Seq((0.5, true), (0.5, true), (0.5, false))) == 500000L)
    // hand case with a tie: pos {0.3, 0.5}, neg {0.3, 0.4}
    // 2U = at 0.3: 1*(0+1)=1; at 0.5: 1*(2*2+0)=4 -> 5; AUC = 5/8
    assert(auc(Seq((0.3, true), (0.5, true), (0.3, false), (0.4, false))) ==
      math.round(5.0 / 8.0 * 1e6))
    // one-class input: empty result, not a division by zero
    assert(OrderedStats.aucExact(
      Seq((0.5, true), (0.7, true)).toDF("s", "y"), $"s", $"y")
      .collect().isEmpty)
    // bucketing is a grouping device only: any nBuckets, same AUC
    val rnd = new scala.util.Random(5)
    val big = (1 to 500).map(_ => (rnd.nextInt(30).toDouble, rnd.nextBoolean()))
    val ref = OrderedStats.aucExact(big.toDF("s", "y"), $"s", $"y", nBuckets = 1)
      .collect().head.getLong(2)
    for (nb <- Seq(4, 13)) {
      assert(OrderedStats.aucExact(big.toDF("s", "y"), $"s", $"y", nBuckets = nb)
        .collect().head.getLong(2) == ref, s"nBuckets=$nb")
    }
  }

  test("medianCI: rank bracket on 1..25; too-small groups refuse") {
    // n=25: k_lo = floor((25 - 1.959964*5)/2) = 7, k_hi = 19, med rank 13
    val df = (1L to 25L).map(v => ("g", v)).toDF("k", "v")
    val got = OrderedStats.medianCI(df, Seq("k"), col("v")).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(1) == 25L && r.getLong(2) == 13L)
    assert(r.getLong(3) == 7L && r.getLong(4) == 19L)
    assert(r.getLong(5) == 7L && r.getLong(6) == 19L)
    // n=4: k_lo = floor((4 - 3.92)/2) = 0 -> no 95% bracket exists
    val small = (1L to 4L).map(v => ("g", v)).toDF("k", "v")
    assert(OrderedStats.medianCI(small, Seq("k"), col("v")).count() == 0L)
  }

  test("kruskalWallis: three separated groups hand-checked; all-tied and single-group empty") {
    // g1={1,2} g2={3,4} g3={5,6}: doubled rank sums 6/14/22,
    // S3 = (36+196+484)*1000/8 = 89500, n=6 T=0:
    // hc = ((12*89500*1000 - 3*6*49*1e6) * 210) div (42*210) = 4571428
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L),
      ("c", 5L), ("c", 6L)).toDF("g", "v")
    val got = OrderedStats.kruskalWallis(df, col("g"), col("v")).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 6L && got(0).getLong(1) == 3L)
    assert(got(0).getLong(2) == 4571428L, got(0).toString)
    // Wilson-Hilferty p for H=4.5714, df=2 is ~0.0994
    assert(got(0).getLong(3) > 95000L && got(0).getLong(3) < 105000L,
      got(0).toString)
    // all values tied: zero rank variance -> empty
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "v")
    assert(OrderedStats.kruskalWallis(tied, col("g"), col("v"))
      .count() == 0L)
    // a single group: no between-group contrast -> empty
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    assert(OrderedStats.kruskalWallis(one, col("g"), col("v"))
      .count() == 0L)
  }

  test("averagePrecision: step-curve hand example; tie lands whole; one-sided empty") {
    // scores desc: v=3 (tp=1,fp=0, term 1e12), v=2 tie pair
    // (tp=2,fp=1, term 2e12 div 3), v=1 adds no positive ->
    // ap = 1666666666666 div 2e6 = 833333
    val df = Seq((3.0, true), (2.0, true), (2.0, false), (1.0, false))
      .toDF("s", "l")
    val got = OrderedStats.averagePrecision(df, col("s"), col("l"))
      .collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 2L && got(0).getLong(1) == 2L)
    assert(got(0).getLong(2) == 833333L, got(0).toString)
    assert(got(0).getLong(3) == 500000L)
    // all-positive input: no PR curve exists -> empty
    val pos = Seq((1.0, true), (2.0, true)).toDF("s", "l")
    assert(OrderedStats.averagePrecision(pos, col("s"), col("l"))
      .count() == 0L)
  }

  test("effectSizes: hand d/g/delta on two tiny samples; zero-variance empty") {
    // A={2,4} B={1,3}: d = 1/sqrt(2) -> 707107, g = d*4/7 -> 404061,
    // 2U = 6 -> cliff = (6-4)*1e6 div 4 = 500000
    val df = Seq((2L, true), (4L, true), (1L, false), (3L, false))
      .toDF("x", "t")
    val got = OrderedStats.effectSizes(df, col("x"), col("t")).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 2L && got(0).getLong(1) == 2L)
    assert(got(0).getLong(2) == 707107L, got(0).toString)
    assert(got(0).getLong(3) == 404061L, got(0).toString)
    assert(got(0).getLong(4) == 500000L, got(0).toString)
    // both sides constant: zero pooled variance -> empty
    val const = Seq((5L, true), (5L, true), (5L, false), (5L, false))
      .toDF("x", "t")
    assert(OrderedStats.effectSizes(const, col("x"), col("t"))
      .count() == 0L)
  }

  test("mannWhitney: separated samples hand-checked; ties corrected; degenerate all-tied empty") {
    // A = {1,2} entirely below B = {3,4}: 2U = 0,
    // z = -4 / (2*sqrt((4*(5*4*3))/(12*4*3))) = -2*sqrt(3/5)
    val df = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("v", "t")
    val got = OrderedStats.mannWhitney(df, col("v"), col("t")).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 0L)
    val z = -2.0 * math.sqrt(3.0 / 5.0)
    assert(r.getLong(3) == math.round(z * 1e6), r.toString)
    // p from the same A&S polynomial
    val x = math.abs(z) / 1.4142135623730951
    val tt = 1.0 / (1.0 + 0.3275911 * x)
    val p = tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741 +
      tt * (-1.453152027 + tt * 1.061405429)))) * math.exp(-(x * x))
    assert(r.getLong(4) == math.round(p * 1e6), r.toString)
    // tie correction: all values identical -> zero variance -> empty
    val tied = Seq((5L, true), (5L, true), (5L, false), (5L, false))
      .toDF("v", "t")
    assert(OrderedStats.mannWhitney(tied, col("v"), col("t")).count() == 0L)
    // one empty side -> empty
    val oneSide = Seq((1L, true), (2L, true)).toDF("v", "t")
    assert(OrderedStats.mannWhitney(oneSide, col("v"), col("t"))
      .count() == 0L)
  }

  test("ksBattery: disjoint supports give D=1 with the one-term tail; identical samples p=1; metric isolation") {
    val rows = Seq(
      // m1: a={1,2}, b={3,4} -> D=1, m_eff=1, p=2*exp(-2)
      ("m1", 1L, true), ("m1", 2L, true), ("m1", 3L, false), ("m1", 4L, false),
      // m2: identical samples -> D=0, p clamps to 1
      ("m2", 1L, true), ("m2", 2L, true), ("m2", 1L, false), ("m2", 2L, false))
      .toDF("m", "v", "t")
    val got = OrderedStats.ksBattery(rows, $"m", $"v", $"t")
      .orderBy($"metric").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length == 2)
    assert(got(0) == (("m1", 2L, 2L, 1000000L,
      math.round(2.0 * math.exp(-2.0) * 1e6))))
    assert(got(1) == (("m2", 2L, 2L, 0L, 1000000L)))
  }

  test("ksBattery: one-sided metric drops; distinct-value guard fails loudly") {
    val oneSided = Seq(("m", 1L, true), ("m", 2L, true)).toDF("m", "v", "t")
    assert(OrderedStats.ksBattery(oneSided, $"m", $"v", $"t").count() == 0L)
    val two = Seq(("m", 1L, true), ("m", 2L, false)).toDF("m", "v", "t")
    assertThrows[IllegalArgumentException] {
      OrderedStats.ksBattery(two, $"m", $"v", $"t",
        maxDistinctPerMetric = 1L)
    }
  }

  test("cramerVonMises: identical samples 0, disjoint 2/2 hand value 0.375, tied hand case, degenerate empty") {
    def t(rows: Seq[(Double, Boolean)], nb: Int = 32): Option[(Long, Long, Long, Boolean)] =
      OrderedStats.cramerVonMises(rows.toDF("v", "t"), $"v", $"t",
        nBuckets = nb).collect().headOption
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
    // identical distributions -> T = 0 exactly
    val same = Seq(1.0, 2.0, 3.0).flatMap(v => Seq((v, true), (v, false)))
    assert(t(same) == Some((3L, 3L, 0L, false)))
    // disjoint a={1,2}, b={10,11}: per-value deltas 2,4,2,0 ->
    // sum c*d^2 = 24, T = 24/(16*4) = 0.375 (matches the rank form
    // U = 16 -> T = 16/(2*2*4) - 15/24 = 0.375)
    assert(t(Seq((1.0, true), (2.0, true), (10.0, false), (11.0, false)))
      == Some((2L, 2L, 375000L, false)))
    // ties contribute multiplicity: a={1,2,3}, b={2,3,4} ->
    // deltas 3,3,3,0 with counts 1,2,2,1 -> sum = 45, T = 45/324
    assert(t(Seq((1.0, true), (2.0, true), (3.0, true),
        (2.0, false), (3.0, false), (4.0, false)))
      == Some((3L, 3L, math.round(45.0 / 324.0 * 1e6), false)))
    // bucketing invariance
    assert(t(Seq((1.0, true), (2.0, true), (3.0, true),
        (2.0, false), (3.0, false), (4.0, false)), nb = 2)
      == Some((3L, 3L, math.round(45.0 / 324.0 * 1e6), false)))
    // an emptied side -> empty result
    assert(t(Seq((1.0, true), (2.0, true))).isEmpty)
    // a gross shift at a size where T crosses the 0.461 critical
    // value -> drifted = true
    val shifted = (1 to 40).map(i => (i.toDouble, true)) ++
      (1 to 40).map(i => (i + 100.0, false))
    val big = t(shifted)
    assert(big.exists(r => r._3 > 461000L && r._4))
  }

  test("andersonDarling: disjoint 2/2 hand value 5/3, identical 0, tie weighting, degenerates empty") {
    def a2(rows: Seq[(Double, Boolean)], nb: Int = 32): Option[(Long, Long, Long)] =
      OrderedStats.andersonDarling(rows.toDF("v", "t"), $"v", $"t",
        nBuckets = nb).collect().headOption
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // disjoint a={1,2}, b={3,4}: terms (4e12 div 3) + 4e12 +
    // (4e12 div 3), A2 = S div 4e6 = 1666666 (true 5/3)
    assert(a2(Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false)))
      == Some((2L, 2L, 1666666L)))
    // identical samples: every D = 0 -> A2 = 0
    assert(a2(Seq(1.0, 2.0, 3.0).flatMap(v => Seq((v, true), (v, false))))
      == Some((3L, 3L, 0L)))
    // ties carry multiplicity: a={1,1}, b={2} -> single interior
    // value with l=2, D=2 -> A2 = 2.0 (matches scipy midrank=False)
    assert(a2(Seq((1.0, true), (1.0, true), (2.0, false)))
      == Some((2L, 1L, 2000000L)))
    // bucketing invariance
    assert(a2(Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false)),
      nb = 3) == Some((2L, 2L, 1666666L)))
    // empty side, and all-mass-at-one-value (no interior), are empty
    assert(a2(Seq((1.0, true), (2.0, true))).isEmpty)
    assert(a2(Seq((5.0, true), (5.0, false))).isEmpty)
  }

  test("yuenTTest: hand trim/winsorize algebra, outlier immunity, trim 0 = Welch, degenerates empty") {
    // arm A {0,1,2,3,100} (one whale), arm B {10..14}: g=1, h=3.
    // A: bl=1, bh=3, trimmed mean 2, winsorized {1,1,2,3,3} ->
    //   d = (5*24 - 100)/(5*3*2) = 2/3. B symmetric: mean 12, d=2/3.
    val rows = (Seq(0L, 1L, 2L, 3L, 100L).map((_, true)) ++
      Seq(10L, 11L, 12L, 13L, 14L).map((_, false)))
      .map { case (v, t) => (v.toDouble, t) }
    val r = OrderedStats.yuenTTest(rows.toDF("v", "t"), $"v", $"t")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 5L, 3L, 3L)))
    assert((r.getLong(4), r.getLong(5)) == ((2000000L, 12000000L)))
    val d = (5.0 * 24 - 100) / (5.0 * 3 * 2) // = 2/3, both arms
    val tExp = (2.0 - 12.0) / math.sqrt(d + d)
    assert(r.getLong(6) == math.round(tExp * 1e6))
    assert(r.getLong(7) == 4000000L) // symmetric d, h -> df = 4 exactly
    // the whale does NOT own the verdict: raw Welch on arm A's mean
    // (21.2) would look away from 12; the trimmed t points firmly at
    // A < B
    assert(r.getLong(6) < -5000000L)
    // trimPpm = 0 degenerates to Welch: same t as welchTTest
    val y0 = OrderedStats.yuenTTest(rows.toDF("v", "t"), $"v", $"t",
      trimPpm = 0L).collect().head
    val w = graft.operators.Features.welchTTest(rows.toDF("v", "t"),
      $"t", $"v")
      .collect().head
    assert(y0.getLong(6) == w.getLong(4), s"${y0.getLong(6)} vs ${w.getLong(4)}")
    // h < 2 after trimming (n=3, g=1 -> h=1) -> empty
    val tiny = Seq((1.0, true), (2.0, true), (5.0, true),
      (3.0, false), (4.0, false), (6.0, false))
    assert(OrderedStats.yuenTTest(tiny.toDF("v", "t"), $"v", $"t",
      trimPpm = 400000L).count() == 0L)
  }

  test("kendallW: perfect/opposed/tied closed forms; all-tied empty; guard") {
    import graft.operators.OrderedStats
    val asc = Seq((1.0, 1.0, 1.0), (2.0, 2.0, 2.0), (3.0, 3.0, 3.0),
      (4.0, 4.0, 4.0)).toDF("a", "b", "c")
    // three identical rankings -> W = 1 exactly
    val r = OrderedStats.kendallW(asc, Seq($"a", $"b", $"c"))
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 1000000L, r.toString)
    // third rater reversed: S4 = 20, denom = 540 -> W = 60e6/540 trunc
    val rev = Seq((1.0, 1.0, 4.0), (2.0, 2.0, 3.0), (3.0, 3.0, 2.0),
      (4.0, 4.0, 1.0)).toDF("a", "b", "c")
    val r2 = OrderedStats.kendallW(rev, Seq($"a", $"b", $"c"))
      .collect().head
    assert(r2.getLong(3) == 111111L, r2.toString)
    // one perfect + one constant rater: tie-corrected W = 0.5
    val tied = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0), (4.0, 7.0))
      .toDF("a", "b")
    val r3 = OrderedStats.kendallW(tied, Seq($"a", $"b")).collect().head
    assert(r3.getLong(2) == 60L && r3.getLong(3) == 500000L, r3.toString)
    // both raters constant: denominator 0 -> empty
    val allTied = Seq((7.0, 7.0), (7.0, 7.0)).toDF("a", "b")
    assert(OrderedStats.kendallW(allTied, Seq($"a", $"b")).count() == 0L)
    val e = intercept[IllegalArgumentException] {
      OrderedStats.kendallW(asc, Seq($"a"))
    }
    assert(e.getMessage.contains("[2, 16]"))
  }

  test("ndcgAtK: hand DCG/IDCG at k=n and k<n; zero-relevance empty; guard") {
    import graft.operators.OrderedStats
    // model order 1,2,3,4 (score desc); grades 3,0,2,0
    val rows = Seq((1L, 40.0, 3L), (2L, 30.0, 0L), (3L, 20.0, 2L),
      (4L, 10.0, 0L)).toDF("id", "s", "rel")
    def term(rel: Long, i: Long): Long =
      math.round(rel.toDouble / (math.log(i.toDouble + 1.0) / math.log(2.0)) * 1e6)
    val idcg = term(3L, 1L) + term(2L, 2L)
    val r = OrderedStats.ndcgAtK(rows, $"id", $"s", $"rel", k = 4)
      .collect().head
    // DCG: 3 at rank 1 (log2(2)=1) + 2 at rank 3 (log2(4)=2) = 4e6
    assert(r.getLong(2) == 4000000L, r.toString)
    assert(r.getLong(3) == idcg, r.toString)
    assert(r.getLong(4) == 4000000L * 1000000L / idcg, r.toString)
    // k=2 cuts the rank-3 gain from DCG, ideal unchanged
    val r2 = OrderedStats.ndcgAtK(rows, $"id", $"s", $"rel", k = 2)
      .collect().head
    assert(r2.getLong(2) == 3000000L && r2.getLong(3) == idcg)
    // all-zero relevance: NDCG is a category error -> empty
    assert(OrderedStats.ndcgAtK(rows.withColumn("rel", lit(0L)),
      $"id", $"s", $"rel", k = 4).count() == 0L)
    val e = intercept[IllegalArgumentException] {
      OrderedStats.ndcgAtK(rows, $"id", $"s", $"rel", k = 0)
    }
    assert(e.getMessage.contains("[1, 100000]"))
  }

  test("ksTest and a one-metric ksBattery read the same D on tied, unequal samples") {
    // a = {1,1,2,2,2,3,5,5}, b = {2,2,3,3,4,5}: the sup gap is at 2,
    // |5/8 − 2/6| = 7/24
    val rows = (Seq(1L, 1L, 2L, 2L, 2L, 3L, 5L, 5L).map((_, true)) ++
      Seq(2L, 2L, 3L, 3L, 4L, 5L).map((_, false))).toDF("v", "t")
    // 3 range partitions, so the two-phase prefix sum crosses them
    val ks = OrderedStats.ksTest(rows, $"v", $"t", nBuckets = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val battery = OrderedStats.ksBattery(rows.withColumn("m", lit("m")),
        $"m", $"v", $"t").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ks.toSeq == Seq((8L, 6L, math.round(7.0 / 24 * 1e6))))
    assert(battery.toSeq == ks.toSeq)
  }
}
