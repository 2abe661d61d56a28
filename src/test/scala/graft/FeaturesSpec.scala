package graft

import org.apache.spark.sql.functions._
import graft.operators.Features

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  // category a: fold0 target 100, fold1 target 200; category b: fold0
  // target 0. global mean = 300/3 = 100.
  private def fixture = Seq(
    (1L, "a", 0, 100L), (2L, "a", 1, 200L), (3L, "b", 0, 0L))
    .toDF("id", "cat", "fold", "tgt")

  test("targetEncodeOof: a row's own target never leaks into its encoding") {
    val enc = Features.targetEncodeOof(fixture, "cat", col("fold"),
        col("tgt"), smoothing = 0L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("target_enc")).toMap
    // row 1 (a, fold0) sees only fold1's 200; row 2 sees only 100
    assert(enc(1L) == 200.0 && enc(2L) == 100.0)
    // category b has no out-of-fold rows: falls back to global mean
    assert(enc(3L) == 100.0)
  }

  test("targetEncodeOof: smoothing shrinks toward the global mean") {
    val enc = Features.targetEncodeOof(fixture, "cat", col("fold"),
        col("tgt"), smoothing = 10L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("target_enc")).toMap
    // (200 + 10*100) / (1 + 10)
    assert(math.abs(enc(1L) - 1200.0 / 11.0) < 1e-12)
    assert(math.abs(enc(2L) - 1100.0 / 11.0) < 1e-12)
    // b: (0 - 0 + 10*100) / (1 - 1 + 10) = 100 — pure prior
    assert(enc(3L) == 100.0)
    // heavier smoothing is closer to the global mean
    val heavy = Features.targetEncodeOof(fixture, "cat", col("fold"),
        col("tgt"), smoothing = 1000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("target_enc")).toMap
    assert(math.abs(heavy(1L) - 100.0) < math.abs(enc(1L) - 100.0))
  }

  test("targetEncodeOof: encoding is a pure function of (category, fold)") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 500L).map(i =>
      (i, s"c${rnd.nextInt(6)}", (i % 4).toInt, rnd.nextInt(1000).toLong))
    val df = rows.toDF("id", "cat", "fold", "tgt")
    val enc = Features.targetEncodeOof(df, "cat", col("fold"), col("tgt"),
        smoothing = 5L)
      .collect().map(r => (r.getAs[String]("cat"), r.getAs[Int]("fold")) ->
        r.getAs[Double]("target_enc"))
    // every row of one (cat, fold) cell gets the identical encoding
    enc.groupBy(_._1).foreach { case (cell, vs) =>
      assert(vs.map(_._2).distinct.length == 1, s"cell $cell")
    }
    // and it equals the hand-rolled out-of-fold mean with smoothing
    val gMean = rows.map(_._4).sum.toDouble / rows.length
    val byCell = rows.groupBy(r => (r._2, r._3))
      .view.mapValues(rs => (rs.map(_._4).sum, rs.length)).toMap
    val byCat = rows.groupBy(_._2)
      .view.mapValues(rs => (rs.map(_._4).sum, rs.length)).toMap
    enc.foreach { case ((cat, fold), got) =>
      val (ks, kn) = byCat(cat)
      val (fs, fn) = byCell((cat, fold))
      val want = ((ks - fs).toDouble + 5.0 * gMean) / (kn - fn + 5).toDouble
      assert(math.abs(got - want) < 1e-9, s"($cat,$fold): $got vs $want")
    }
  }

  test("targetEncodeOof: unhinted joins degrade to sort-merge with bit-identical encodings") {
    // large synthetic key space (the operator's motivating regime —
    // a forced broadcast of k x |categories| rows is exactly what the
    // unhinted join exists to avoid)
    val rnd = new scala.util.Random(23)
    val rows = (1L to 4000L).map(i =>
      (i, s"cat_${rnd.nextInt(1500)}", (i % 5).toInt,
        rnd.nextInt(10000).toLong))
    val df = rows.toDF("id", "cat", "fold", "tgt")
    def run() = Features.targetEncodeOof(df, "cat", col("fold"),
        col("tgt"), smoothing = 3L)
      .select(col("id"), col("target_enc"))
    val viaAuto = run().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = run().queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected the dimension joins to degrade to sort-merge:\n$plan")
      val viaSmj = run().collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // exact-integer sums + one IEEE division => join strategy cannot
      // move a bit
      assert(viaSmj == viaAuto)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("groupRegression: exact line recovered per group; constant-x group excluded") {
    // group a: y = 3x + 40 exactly; group b: y = -2x + 7;
    // group c: constant x -> no slope, excluded
    val rows = (0L to 10L).map(x => ("a", x, 3 * x + 40)) ++
      (0L to 10L).map(x => ("b", x, -2 * x + 7)) ++
      Seq(("c", 5L, 1L), ("c", 5L, 9L))
    val got = Features.groupRegression(rows.toDF("g", "x", "y"),
        "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((11L, 3000000L, 40000000L)), got.toString)
    assert(got("b") == ((11L, -2000000L, 7000000L)))
    assert(!got.contains("c"))
  }

  test("welchTTest: closed-form t and Welch df; degenerate arms empty") {
    val rows = Seq((true, 10L), (true, 20L), (true, 30L),
      (false, 10L), (false, 10L), (false, 20L), (false, 20L))
    val r = Features.welchTTest(rows.toDF("t", "y"), col("t"), col("y"))
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 4L)))
    assert(r.getLong(2) == 20000000L && r.getLong(3) == 15000000L)
    // replicate the IEEE tree: var_t = 100, var_c = 100/3
    val (se2t, se2c) = (100.0 / 3.0, (100.0 / 3.0) / 4.0)
    val t = (20.0 - 15.0) / math.sqrt(se2t + se2c)
    val dfW = (se2t + se2c) * (se2t + se2c) /
      (se2t * se2t / 2.0 + se2c * se2c / 3.0)
    assert(r.getLong(4) == math.round(t * 1e6), r.toString)
    assert(r.getLong(5) == math.round(dfW * 1e6))
    // an arm with < 2 units, or zero variance everywhere: empty
    assert(Features.welchTTest(
      Seq((true, 5L), (false, 1L), (false, 2L)).toDF("t", "y"),
      col("t"), col("y")).collect().isEmpty)
    assert(Features.welchTTest(
      Seq((true, 5L), (true, 5L), (false, 5L), (false, 5L)).toDF("t", "y"),
      col("t"), col("y")).collect().isEmpty)
  }

  test("twoProportionZTest: closed-form z, SRM statistic, degenerate inputs empty") {
    def build(nt: Int, st: Int, nc: Int, sc: Int) =
      ((1 to nt).map(i => (true, i <= st)) ++
        (1 to nc).map(i => (false, i <= sc))).toDF("t", "s")
    val r = Features.twoProportionZTest(build(100, 60, 100, 40),
      col("t"), col("s")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 60L, 100L, 40L)))
    // z = 0.2 / sqrt(0.5*0.5*(2/100)) = 2.828427...
    assert(r.getLong(4) ==
      math.round(0.2 / math.sqrt(0.5 * 0.5 * 0.02) * 1e6), r.toString)
    assert(r.getLong(5) == 0L) // balanced arms: SRM 0
    // imbalanced arms: SRM = (50)^2 / 150
    val srm = Features.twoProportionZTest(build(100, 50, 50, 25),
      col("t"), col("s")).collect().head.getLong(5)
    assert(srm == math.round(2500.0 / 150.0 * 1e6))
    // degenerate: empty arm, all-success, all-failure -> empty result
    assert(Features.twoProportionZTest(build(100, 50, 0, 0),
      col("t"), col("s")).collect().isEmpty)
    assert(Features.twoProportionZTest(build(10, 10, 10, 10),
      col("t"), col("s")).collect().isEmpty)
    assert(Features.twoProportionZTest(build(10, 0, 10, 0),
      col("t"), col("s")).collect().isEmpty)
  }

  test("didEstimate: closed-form 2x2 cells, exact integer DiD, degenerate cells empty") {
    val df = Seq(
      (true, true, 10L), (true, true, 20L),   // t1: mean 15
      (true, false, 5L), (true, false, 7L),   // t0: mean 6
      (false, true, 8L), (false, true, 12L),  // c1: mean 10
      (false, false, 4L), (false, false, 6L)) // c0: mean 5
      .toDF("t", "p", "y")
    val got = Features.didEstimate(df, col("t"), col("p"), col("y"))
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("mean_t1_micros") == 15000000L)
    assert(r.getAs[Long]("did_micros") == 4000000L) // (15-6)-(10-5)
    // se^2 = 50/2 + 2/2 + 8/2 + 2/2 = 31
    val se = math.sqrt(31.0)
    assert(r.getAs[Long]("se_micros") == math.round(se * 1e6))
    assert(r.getAs[Long]("t_micros") == math.round(4.0 / se * 1e6))
    // a 1-row cell: no variance, empty result
    val thin = df.filter(!(col("t") && col("p") && col("y") === 20L))
    assert(Features.didEstimate(thin, col("t"), col("p"), col("y"))
      .count() == 0L)
  }

  test("jackknifeRatioCI: BigInt replica of the leave-one-out algebra; degenerates empty") {
    // 4 units -> 4 buckets (B=4, unit==bucket), one event each
    val df = Seq((0L, 10L), (1L, 20L), (2L, 30L), (3L, 40L))
      .toDF("unit", "cents")
    val got = Features.jackknifeRatioCI(df, col("unit"), col("cents"),
      lit(1L), nBuckets = 4).collect()
    assert(got.length == 1)
    val row = got.head
    // driver replica, all-integer until the one sqrt
    val s = Seq(10L, 20L, 30L, 40L); val n = Seq(1L, 1L, 1L, 1L)
    val (ss, nn) = (BigInt(100), BigInt(4))
    val r = s.zip(n).map { case (si, ni) =>
      (ss - si) * 1000000 / (nn - ni) }
    val (nb, sr, srr) = (BigInt(4), r.sum, r.map(x => x * x).sum)
    val v = (nb - 1) * (nb * srr - sr * sr)
    val se = math.round(math.sqrt(v.toDouble) / nb.toDouble)
    val ratio = (ss * 1000000 / nn).toLong
    val half = BigInt(1959964) * se / 1000000
    assert(row.getAs[Long]("n_buckets") == 4L)
    assert(row.getAs[Long]("ratio_micros") == ratio)
    assert(row.getAs[Long]("se_micros") == se, row.toString)
    assert(row.getAs[Long]("ci_lo_micros") == ratio - half.toLong)
    assert(row.getAs[Long]("ci_hi_micros") == ratio + half.toLong)
    // the CI brackets the point estimate and has positive width
    assert(row.getAs[Long]("ci_lo_micros") < ratio &&
      ratio < row.getAs[Long]("ci_hi_micros"))
    // single usable bucket: no variance estimable -> empty, not NaN
    val one = Seq((0L, 10L)).toDF("unit", "cents")
    assert(Features.jackknifeRatioCI(one, col("unit"), col("cents"),
      lit(1L), nBuckets = 4).count() == 0L)
    intercept[IllegalArgumentException] {
      Features.jackknifeRatioCI(df, col("unit"), col("cents"), lit(1L),
        nBuckets = 1)
    }
  }

  test("cuped: mean preserved, variance reduced, perfect covariate zeroes it") {
    val rnd = new scala.util.Random(3)
    // y = 2x + noise: a strongly explanatory covariate
    val rows = (1L to 400L).map { i =>
      val x = rnd.nextInt(1000).toLong
      (i, x, 2 * x + rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("id", "x", "y")
    val out = Features.cuped(df, col("y"), col("x"))
      .collect().map(r => (r.getAs[Long]("y"), r.getAs[Double]("y_adj")))
    def meanVar(vs: Seq[Double]): (Double, Double) = {
      val m = vs.sum / vs.size
      (m, vs.map(v => (v - m) * (v - m)).sum / vs.size)
    }
    val (my, vy) = meanVar(out.map(_._1.toDouble).toSeq)
    val (ma, va) = meanVar(out.map(_._2).toSeq)
    assert(math.abs(my - ma) < 1e-6, s"mean moved: $my vs $ma")
    assert(va < vy * 0.05, s"variance $vy -> $va (expected >20x reduction)")
    // perfect covariate (y == x): residual variance ~0
    val perfect = (1L to 100L).map(i => (i, i * 3, i * 3)).toDF("id", "x", "y")
    val pAdj = Features.cuped(perfect, col("y"), col("x"))
      .collect().map(_.getAs[Double]("y_adj"))
    val (_, pv) = meanVar(pAdj.toSeq)
    assert(pv < 1e-12)
    // constant covariate: theta = 0, y_adj == y (no NaN)
    val const = (1L to 10L).map(i => (i, 7L, i)).toDF("id", "x", "y")
    val cAdj = Features.cuped(const, col("y"), col("x")).collect()
    assert(cAdj.forall(r => r.getAs[Double]("theta") == 0.0))
    assert(cAdj.forall(r =>
      r.getAs[Double]("y_adj") == r.getAs[Long]("y").toDouble))
  }

  test("decayedScore: hand-folded chain, half-life decay, per-key isolation, order by (ts,id)") {
    import java.sql.Timestamp
    val t0 = 1700000000000L
    def ts(sec: Long) = new Timestamp(t0 + sec * 1000L)
    val df = Seq(
      (1L, ts(0), 10L, 4.0), (1L, ts(3600), 11L, 2.0),
      (1L, ts(3600 * 2), 12L, 1.0),
      (2L, ts(0), 20L, 100.0)) // second key must not bleed in
      .toDF("user_id", "ts", "event_id", "value")
    val got = Features.decayedScore(df, "user_id", "ts", "event_id",
        "value", halfLifeSeconds = 3600L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // reference fold with the same IEEE ops
    val w = math.exp(-(3600.0 * 0.6931471805599453 / 3600L))
    val s1 = 4.0
    val s2 = 2.0 + w * s1
    val s3 = 1.0 + w * s2
    assert(got(10L) == math.round(s1 * 1e6))
    assert(got(11L) == math.round(s2 * 1e6))
    assert(got(12L) == math.round(s3 * 1e6))
    assert(got(20L) == 100000000L)
    // the half-life is a genuine half: w within rounding of 0.5
    assert(math.abs(got(11L) - 4000000L) <= 2L, got(11L).toString)
    intercept[IllegalArgumentException] {
      Features.decayedScore(df, "user_id", "ts", "event_id", "value", 0L)
    }
  }

  test("decayedScore: sub-second timestamps order by full-precision ts, not truncated seconds") {
    import java.sql.Timestamp
    val t0 = 1700000000000L
    // same user, same whole second; sub-second order (id 5 at +500ms,
    // id 4 at +900ms) is the REVERSE of event_id order — the fold must
    // follow the timestamps. Δseconds truncates to 0, so w = exp(0) = 1.
    val df = Seq(
      (1L, new Timestamp(t0 + 900L), 4L, 2.0),
      (1L, new Timestamp(t0 + 500L), 5L, 4.0))
      .toDF("user_id", "ts", "event_id", "value")
    val got = Features.decayedScore(df, "user_id", "ts", "event_id",
        "value", halfLifeSeconds = 3600L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got(5L) == 4000000L, got.toString) // folded FIRST: s = 4
    assert(got(4L) == 6000000L, got.toString) // then 2 + 1·4 = 6
  }

  test("isotonicCalibrate: violators pool, means monotone, totals conserve, guard trips") {
    // score 1: 4 rows 0 pos; score 2: 2 rows 2 pos; score 3: 2 rows
    // 0 pos. PAVA pools {2,3} -> mean 0.5; block 1 stays at 0.
    val rows = Seq.fill(4)(("g", 1L, 0L)) ++ Seq.fill(2)(("g", 2L, 1L)) ++
      Seq.fill(2)(("g", 3L, 0L))
    val got = Features.isotonicCalibrate(rows.toDF("g", "s", "y"),
        "g", col("s"), col("y"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (0L, 1L, 1L, 4L, 0L, 0L),
      (1L, 2L, 3L, 4L, 2L, 500000L)), got.toSeq.toString)
    // a fully decreasing curve pools to ONE block at the global mean
    val dec = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 0L),
      ("g", 4L, 0L))
    val one = Features.isotonicCalibrate(dec.toDF("g", "s", "y"),
      "g", col("s"), col("y")).collect()
    assert(one.length == 1 && one.head.getLong(4) == 4L &&
      one.head.getLong(6) == 500000L, one.toSeq.toString)
    // already-isotonic input passes through block-per-score
    val iso = Seq(("g", 1L, 0L), ("g", 2L, 1L))
    assert(Features.isotonicCalibrate(iso.toDF("g", "s", "y"),
      "g", col("s"), col("y")).count() == 2)
    val e = intercept[IllegalArgumentException] {
      Features.isotonicCalibrate(rows.toDF("g", "s", "y"), "g",
        col("s"), col("y"), maxDistinctScores = 2L)
    }
    assert(e.getMessage.contains("distinct scores"), e.getMessage)
  }

  test("postStratifiedDiff: imbalance correction hand-checked; one-armed strata drop from both") {
    val rows = Seq(
      ("A", true, 10L), ("A", false, 20L), ("A", false, 20L),
      ("B", true, 100L), ("B", true, 100L), ("B", false, 200L),
      ("C", true, 999L)) // no control -> dropped everywhere
      .toDF("s", "t", "y")
    val got = Features.postStratifiedDiff(rows, col("s"), col("t"),
      col("y")).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 6L) // stratum C excluded from n too
    assert(r.getLong(1) == 70000000L && r.getLong(2) == 80000000L)
    assert(r.getLong(3) == -10000000L)
    assert(r.getLong(4) == 55000000L && r.getLong(5) == 110000000L)
    assert(r.getLong(6) == -55000000L)
  }

  test("conformalInterval: k-th residual radius, coverage, small-calibration refusal") {
    // calibration residuals 1..10 (yhat = 0), test residuals 0 and 100
    val rows = (1L to 10L).map(r => ("g", r, 0L, true)) ++
      Seq(("g", 0L, 0L, false), ("g", 100L, 0L, false))
    val df = rows.toDF("k", "y", "yhat", "cal")
    val got = Features.conformalInterval(df, Seq("k"), col("y"),
      col("yhat"), col("cal"), alphaMicros = 100000L).collect()
    assert(got.length == 1)
    val r = got(0)
    // k = ceil(11 * 0.9) = 10 -> radius = 10th smallest = 10
    assert(r.getLong(1) == 10L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 10L && r.getLong(4) == 10L)
    assert(r.getLong(5) == 500000L) // 0 covered, 100 not
    // 3 calibration rows at alpha=0.1: k = ceil(4*0.9) = 4 > 3 ->
    // the finite-sample guarantee needs an infinite interval: empty
    val small = (1L to 3L).map(r => ("g", r, 0L, true))
      .++(Seq(("g", 1L, 0L, false))).toDF("k", "y", "yhat", "cal")
    assert(Features.conformalInterval(small, Seq("k"), col("y"),
      col("yhat"), col("cal"), alphaMicros = 100000L).count() == 0L)
  }

  test("powerAnalysis: hand-computed closed forms; degenerate baselines empty") {
    val df = Seq(10L, 20L, 30L, 40L).toDF("y")
    val got = Features.powerAnalysis(df, col("y"), Seq(100000L))
      .collect()
    assert(got.length == 1)
    val r = got(0)
    val m = 100.0 / 4.0
    val v = (4.0 * 3000.0 - 100.0 * 100.0) / (4.0 * 3.0)
    val z = 1.959964 + 0.841621
    val delta = m * 100000.0 / 1e6
    assert(r.getLong(0) == 100000L && r.getLong(1) == 4L)
    assert(r.getLong(2) == math.round(m * 1e6))
    assert(r.getLong(3) == math.round(math.sqrt(v) * 1e6))
    assert(r.getLong(4) ==
      math.ceil(2.0 * v * (z * z) / (delta * delta)).toLong)
    assert(r.getLong(5) == math.round(z * math.sqrt(2.0 * v / 4.0) * 1e6))
    // constant metric: zero variance -> nothing is detectable
    assert(Features.powerAnalysis(Seq(5L, 5L).toDF("y"), col("y"),
      Seq(100000L)).count() == 0L)
    // single observation: no variance estimate
    assert(Features.powerAnalysis(Seq(5L).toDF("y"), col("y"),
      Seq(100000L)).count() == 0L)
  }

  test("sequentialMsprt: identical arms clamp to p=1; second look matches the hand-computed tree; running min") {
    val rows = Seq(
      (1L, true, 100L), (1L, true, 200L),
      (1L, false, 100L), (1L, false, 200L),
      (2L, true, 400L), (2L, false, 50L))
    val got = Features.sequentialMsprt(rows.toDF("lk", "t", "y"),
        col("lk"), col("t"), col("y"), tau = 50.0)
      .orderBy(col("look")).collect()
    assert(got.length == 2)
    // look 1: d = 0, v > 0 -> 1/Lambda = sqrt((v+t2)/v) >= 1, clamps
    assert(got(0).getLong(4) == 1000000L)
    assert(got(0).getLong(5) == 1000000L && !got(0).getBoolean(6))
    // look 2: recompute the documented tree independently
    val (sa, ssa) = (700.0, 100.0 * 100 + 200.0 * 200 + 400.0 * 400)
    val (sb, ssb) = (350.0, 100.0 * 100 + 200.0 * 200 + 50.0 * 50)
    val va = (3.0 * ssa - sa * sa) / (3.0 * 2.0)
    val vb = (3.0 * ssb - sb * sb) / (3.0 * 2.0)
    val v = va / 3.0 + vb / 3.0
    val d = sa / 3.0 - sb / 3.0
    val t2 = 2500.0
    val p2 = math.min(1.0, math.sqrt((v + t2) / v) *
      math.exp(-(d * d * t2) / (2.0 * v * (v + t2))))
    val p2m = math.round(p2 * 1e6)
    assert(got(1).getLong(3) == math.round(d * 1e6), got(1).toString)
    assert(got(1).getLong(4) == p2m, got(1).toString)
    assert(got(1).getLong(5) == math.min(1000000L, p2m))
  }

  test("sequentialMsprt: sub-minimum looks emit nothing; maxLooks guard fails loudly") {
    // one arm has a single observation at look 1 -> no test defined
    val rows = Seq((1L, true, 10L), (1L, false, 10L), (1L, false, 20L),
      (2L, true, 30L), (2L, false, 40L))
    val got = Features.sequentialMsprt(rows.toDF("lk", "t", "y"),
      col("lk"), col("t"), col("y"), tau = 10.0).collect()
    // look 1 drops (n_a = 1); look 2 has cumulative n_a = 2, n_b = 3
    assert(got.length == 1 && got(0).getLong(1) == 2L &&
      got(0).getLong(2) == 3L)
    assertThrows[IllegalArgumentException] {
      Features.sequentialMsprt(rows.toDF("lk", "t", "y"), col("lk"),
        col("t"), col("y"), tau = 10.0, maxLooks = 1L)
    }
  }

  test("anovaF: hand case F=73 exact, equal means F=0 p=1, degenerates empty") {
    import spark.implicits._
    // g1={1,2,3}, g2={2,3,4}, g3={10,11,12}: SSB=146, SSW=6,
    // F = (146/2)/(6/6) = 73 exactly in milli-integers
    val rows = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 3L), ("g2", 4L),
      ("g3", 10L), ("g3", 11L), ("g3", 12L)).toDF("g", "x")
    val r = Features.anovaF(rows, $"g", $"x").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((9L, 3L, 73000000L)))
    assert(r.getLong(3) < 20000L) // strongly significant
    // identical group means: SSB truncates to 0 -> F=0, p=1
    val flat = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 2L))
      .toDF("g", "x")
    val fr = Features.anovaF(flat, $"g", $"x").collect().head
    assert((fr.getLong(2), fr.getLong(3)) == ((0L, 1000000L)))
    // one group, or zero within-group variance -> empty
    assert(Features.anovaF(rows.filter($"g" === "g1"), $"g", $"x")
      .count() == 0L)
    val const = Seq(("a", 5L), ("a", 5L), ("b", 7L), ("b", 7L))
      .toDF("g", "x")
    assert(Features.anovaF(const, $"g", $"x").count() == 0L)
  }

  test("calibrationTable: hand bins, clamp at 1e6, ECE fold, out-of-range raises") {
    import spark.implicits._
    val rows = Seq((100000L, false), (300000L, true),
      (600000L, true), (900000L, true)).toDF("p", "y")
    val got = Features.calibrationTable(rows, $"p", $"y", bins = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0, 2L, 200000L, 500000L, 300000L, 275000L),
      (1, 2L, 750000L, 1000000L, 250000L, 275000L)))
    // p = 1e6 exactly lands in the LAST bin, not a phantom bin
    val top = Features.calibrationTable(
      Seq((1000000L, true)).toDF("p", "y"), $"p", $"y", bins = 10)
      .collect().head
    assert(top.getInt(0) == 9)
    // out-of-range predictions are bugs, refused loudly
    val e = intercept[Exception] {
      Features.calibrationTable(Seq((1000001L, true)).toDF("p", "y"),
        $"p", $"y").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("calibrationTable")), e.toString)
  }

  test("brierDecomposition: hand BS/REL/RES/UNC on 2 bins; perfect forecasts; empty input") {
    import spark.implicits._
    // bin0: p={1e5(f), 3e5(t)}, bin1: p={6e5(t), 9e5(t)} ->
    // BS = (1e10+4.9e11+1.6e11+1e10) div 4e6 = 167500
    // conf={2e5,7.5e5}, acc={5e5,1e6}, base=75e4
    // REL = (2*9e10+2*6.25e10) div 4e6 = 76250
    // RES = (2*6.25e10+2*6.25e10) div 4e6 = 62500
    // UNC = 75e4*25e4 div 1e6 = 187500
    val rows = Seq((100000L, false), (300000L, true),
      (600000L, true), (900000L, true)).toDF("p", "y")
    val r = Features.brierDecomposition(rows, $"p", $"y", bins = 2)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 167500L, 76250L, 62500L, 187500L)))
    // a perfect sharp forecaster: BS = REL = 0, RES = UNC
    val perfect = Seq((0L, false), (0L, false), (1000000L, true),
      (1000000L, true)).toDF("p", "y")
    val p = Features.brierDecomposition(perfect, $"p", $"y", bins = 2)
      .collect().head
    assert((p.getLong(1), p.getLong(2)) == ((0L, 0L)))
    assert(p.getLong(3) == p.getLong(4)) // RES == UNC == 250000
    assert(Features.brierDecomposition(
      rows.filter($"p" < 0L), $"p", $"y").count() == 0L)
  }

  test("mcNemar: continuity-corrected hand case, balanced discordants clamp to 0, no discordants empty") {
    import spark.implicits._
    // b=3 (T,F), c=1 (F,T), 2 concordant-yes, 1 concordant-no:
    // chi2 = (|3-1|-1)^2 / 4 = 0.25
    val rows = Seq((true, false), (true, false), (true, false),
      (false, true), (true, true), (true, true), (false, false))
      .toDF("a", "b")
    val r = Features.mcNemar(rows, $"a", $"b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 3L, 1L, 250000L)))
    assert(r.getLong(4) > 600000L && r.getLong(4) < 650000L) // p~0.617
    // b = c: the correction must NOT manufacture signal -> chi2 = 0
    val bal = Seq((true, false), (false, true)).toDF("a", "b")
    val b = Features.mcNemar(bal, $"a", $"b").collect().head
    assert(b.getLong(3) == 0L && b.getLong(4) == 1000000L)
    // all concordant: the test is undefined -> empty
    val conc = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Features.mcNemar(conc, $"a", $"b").count() == 0L)
  }

  test("cmhTest: hand strata terms, single-subject strata add no variance, zero variance empty") {
    import spark.implicits._
    // stratum s1: a=3, n1=4, m1=4, n=8 -> E=2, V=256/448
    // stratum s2: a=1, n1=2, m1=2, n=4 -> E=1, V=16/48
    val s1 = Seq((true, true), (true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false), (false, false))
      .map { case (t, y) => ("s1", t, y) }
    val s2 = Seq((true, true), (true, false), (false, true),
      (false, false)).map { case (t, y) => ("s2", t, y) }
    val rows = (s1 ++ s2).toDF("s", "t", "y")
    val r = Features.cmhTest(rows, $"s", $"t", $"y").collect().head
    val ep = 2000000000000L + 1000000000000L
    val vp = 571428571428L + 333333333333L
    val zExp = (4000000000000L - ep).toDouble /
      (1e6 * math.sqrt(vp.toDouble))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((12L, 2L, 4L, ep / 1000000L)))
    assert(r.getLong(4) == math.round(zExp * 1e6))
    // a single-subject stratum adds E but zero V (n-1 = 0 guard)
    val withSingleton = (s1 ++ s2 ++ Seq(("s3", true, true)))
      .toDF("s", "t", "y")
    val w = Features.cmhTest(withSingleton, $"s", $"t", $"y")
      .collect().head
    assert(w.getLong(1) == 3L &&
      w.getLong(3) == (ep + 1000000000000L) / 1000000L)
    // all strata degenerate -> zero variance -> empty
    val degenerate = Seq(("x", true, true), ("y", false, false))
      .toDF("s", "t", "y")
    assert(Features.cmhTest(degenerate, $"s", $"t", $"y").count() == 0L)
  }

  test("posthocPairs: Welch t mirrored, Holm step-down rejects the far pairs only, guard trips") {
    import spark.implicits._
    // means 2, 3, 11, each group variance 1: the g3 pairs are
    // overwhelming, (g1,g2) is not — Holm must split exactly there
    val rows = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 3L), ("g2", 4L),
      ("g3", 10L), ("g3", 11L), ("g3", 12L)).toDF("g", "x")
    val got = Features.posthocPairs(rows, $"g", $"x").collect()
    assert(got.length == 3)
    val byPair = got.map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(6), r.getLong(7), r.getLong(8), r.getBoolean(9))))
      .toMap
    val t12 = -1.0 / math.sqrt(1.0 / 3.0 + 1.0 / 3.0)
    val (tM, pM, rk, rej) = byPair(("g1", "g2"))
    assert(tM == math.round(t12 * 1e6))
    assert(pM > 200000L && pM < 250000L) // normal two-sided ~ 0.2207
    assert(rk == 3L && !rej) // last rank, survives Holm
    assert(byPair(("g1", "g3"))._4 && byPair(("g2", "g3"))._4)
    // a 1-row group is untestable: its pairs are absent, m shrinks
    val withTiny = (Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 2L), ("g2", 3L), ("g2", 4L), ("g4", 7L))).toDF("g", "x")
    assert(Features.posthocPairs(withTiny, $"g", $"x").count() == 1L)
    // maxGroups guard
    assertThrows[IllegalArgumentException] {
      Features.posthocPairs(rows, $"g", $"x", maxGroups = 2L)
    }
  }

  test("ebShrinkRates: mirrored MoM prior, thin segments shrink hardest, flat rates pass through") {
    import spark.implicits._
    // a: 3/7 (thin), b: 3000/10000 (rich), c: 500/1000
    val rows = (Seq.fill(3)(("a", true)) ++ Seq.fill(4)(("a", false)) ++
      Seq.fill(3000)(("b", true)) ++ Seq.fill(7000)(("b", false)) ++
      Seq.fill(500)(("c", true)) ++ Seq.fill(500)(("c", false)))
      .toDF("g", "y")
    val got = Features.ebShrinkRates(rows, $"g", $"y").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)))))
      .toMap
    val pm = Seq(3000000L / 7L, 300000L, 500000L) // quantized ppm
    val k = 3.0
    val m = pm.sum.toDouble / k / 1e6
    val vNum = (BigInt(3) * pm.map(p => BigInt(p) * p).sum -
      BigInt(pm.sum) * BigInt(pm.sum)).toDouble
    val v = vNum / (k * (k - 1)) / 1e12
    val kp = m * (1.0 - m) / v - 1.0
    def shrunk(s: Double, n: Double): Long =
      math.round((s + kp * m) / (n + kp) * 1e6)
    assert(got("a") == ((7L, 3000000L / 7L, shrunk(3, 7),
      Some(math.round(kp * 1e6)))))
    assert(got("b")._3 == shrunk(3000, 10000))
    // the thin segment moves farther toward the prior mean
    assert(math.abs(got("a")._3 - got("a")._2) >
      math.abs(got("b")._3 - got("b")._2))
    // identical rates: zero across-segment variance -> pass-through
    val flat = (Seq.fill(2)(("x", true)) ++ Seq.fill(2)(("x", false)) ++
      Seq.fill(5)(("y", true)) ++ Seq.fill(5)(("y", false)))
      .toDF("g", "y")
    val f = Features.ebShrinkRates(flat, $"g", $"y").collect()
    assert(f.forall(r => r.getLong(4) == r.getLong(3) && r.isNullAt(5)))
  }

  test("tostEquivalence: mirrored one-sided t's, wide margin passes, tight margin refuses") {
    import spark.implicits._
    val rows = (Seq(10L, 12L, 14L).map((true, _)) ++
      Seq(11L, 13L, 15L).map((false, _))).toDF("t", "y")
    val se2 = 4.0 / 3.0 + 4.0 / 3.0 // both arm variances are 4
    val wide = Features.tostEquivalence(rows, $"t", $"y", margin = 5L)
      .collect().head
    assert(wide.getLong(2) == -1000000L)
    assert(wide.getLong(3) ==
      math.round((-1.0 + 5.0) / math.sqrt(se2) * 1e6))
    assert(wide.getLong(4) ==
      math.round((5.0 - -1.0) / math.sqrt(se2) * 1e6))
    assert(wide.getLong(5) < 50000L && wide.getBoolean(6))
    // margin 1: t_lower = 0 -> one-sided p = 0.5 -> not equivalent
    val tight = Features.tostEquivalence(rows, $"t", $"y", margin = 1L)
      .collect().head
    assert(tight.getLong(3) == 0L)
    assert(tight.getLong(5) >= 499000L && !tight.getBoolean(6))
    // degenerate arm -> empty
    assert(Features.tostEquivalence(rows.filter($"y" =!= 10L), $"t",
      $"y", margin = 5L).count() == 1L) // n_t = 2 still fine
    assert(Features.tostEquivalence(rows.filter($"t"), $"t", $"y",
      margin = 5L).count() == 0L)
  }

  test("deltaMethodRatio: mirrored linearized variance, identical arms z=0, degenerates empty") {
    import spark.implicits._
    // unit rows (treat, num, den): t-arm {(10,2),(20,4),(30,4)},
    // c-arm {(12,3),(18,3),(30,4)} — ratios 6 and 6: z must be 0
    val same = Seq((true, 10L, 2L), (true, 20L, 4L), (true, 30L, 4L),
      (false, 12L, 3L), (false, 18L, 3L), (false, 30L, 4L))
      .toDF("t", "x", "y")
    val s = Features.deltaMethodRatio(same, $"t", $"x", $"y")
      .collect().head
    assert((s.getLong(2), s.getLong(3)) == ((6000000L, 6000000L)))
    assert(s.getLong(4) == 0L && s.getLong(5) == 1000000L)
    // a shifted t-arm: mirror the full tree
    val rows = Seq((true, 12L, 2L), (true, 24L, 4L), (true, 36L, 4L),
      (false, 12L, 3L), (false, 18L, 3L), (false, 30L, 4L))
      .toDF("t", "x", "y")
    val r = Features.deltaMethodRatio(rows, $"t", $"x", $"y")
      .collect().head
    def se2(xs: Seq[(Long, Long)]): Double = {
      val n = xs.size.toDouble
      val (sx, sy) = (xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble)
      val rr = sx / sy
      val qx = xs.map(p => p._1.toDouble * p._1).sum
      val qy = xs.map(p => p._2.toDouble * p._2).sum
      val xy = xs.map(p => p._1.toDouble * p._2).sum
      val vx = (n * qx - sx * sx) / (n * (n - 1))
      val vy = (n * qy - sy * sy) / (n * (n - 1))
      val cxy = (n * xy - sx * sy) / (n * (n - 1))
      val ybar = sy / n
      (vx - 2.0 * rr * cxy + rr * rr * vy) / (n * ybar * ybar)
    }
    val tArm = Seq((12L, 2L), (24L, 4L), (36L, 4L))
    val cArm = Seq((12L, 3L), (18L, 3L), (30L, 4L))
    val zExp = (72.0 / 10.0 - 60.0 / 10.0) /
      math.sqrt(se2(tArm) + se2(cArm))
    assert(r.getLong(4) == math.round(zExp * 1e6))
    // zero denominator sum, or 1-row arm -> empty
    assert(Features.deltaMethodRatio(
      same.withColumn("y", lit(0L)), $"t", $"x", $"y").count() == 0L)
  }

  test("logisticGdMulti: one feature reproduces logisticGd exactly; guards; empty") {
    import graft.operators.Features
    // 40 rows, separable-ish: y ~ x > 0.5
    val rows = (1 to 40).map { i =>
      val x = i / 40.0
      (x, x > 0.5 ^ (i % 7 == 0))
    }.toDF("x", "y")
    val single = Features.logisticGd(rows, $"x", $"y", iters = 5)
      .collect().head
    val multi = Features.logisticGdMulti(rows, Seq($"x"), $"y", iters = 5)
      .collect()
    // same trajectory: bias row 0 == w0, slope row 1 == w1, same summary
    assert(multi.length == 2)
    val byIdx = multi.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(byIdx(0L)._1 == single.getLong(1), "bias differs from logisticGd")
    assert(byIdx(1L)._1 == single.getLong(2), "slope differs from logisticGd")
    assert(byIdx(0L)._2 == single.getLong(0) &&
      byIdx(0L)._3 == single.getLong(3) && byIdx(0L)._4 == single.getLong(4))
    // a second feature changes the fit (the whole point)
    val two = Features.logisticGdMulti(rows,
      Seq($"x", lit(1.0) - $"x"), $"y", iters = 5).collect()
    assert(two.length == 3)
    // loud guards
    val e = intercept[IllegalArgumentException] {
      Features.logisticGdMulti(rows, (1 to 17).map(_ => $"x"), $"y")
    }
    assert(e.getMessage.contains("[1, 16]"))
    // empty input -> empty output
    assert(Features.logisticGdMulti(rows.filter(lit(false)),
      Seq($"x"), $"y").count() == 0L)
  }

  test("cochranArmitage: hand trend; degenerate empty") {
    import graft.operators.Features
    // s=1: 2/10, s=2: 5/10, s=3: 8/10 — a clean dose response
    val rows = ((1 to 10).map(i => (1L, i <= 2)) ++
      (1 to 10).map(i => (2L, i <= 5)) ++
      (1 to 10).map(i => (3L, i <= 8))).toDF("s", "y")
    val r = Features.cochranArmitage(rows, $"s", $"y").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 30L && r.getLong(2) == 15L)
    // TN = 30*36 - 60*15 = 180, AN = 30*140 - 60^2 = 600,
    // z = 180*sqrt(30)/sqrt(15*15*600) — the engine's exact tree
    val zExp = 180.0 * math.sqrt(30.0) / math.sqrt(225.0 * 600.0)
    assert(r.getLong(3) == math.round(zExp * 1e6), r.toString)
    assert(r.getLong(4) > 0L && r.getLong(4) < 10000L) // strongly significant
    // all successes -> empty
    assert(Features.cochranArmitage(rows.withColumn("y", lit(true)),
      $"s", $"y").count() == 0L)
  }

  test("cochranQ: hand Q and exact chi2(2) tail; k=2 reduces to McNemar; unanimous empty") {
    import graft.operators.Features
    // 4 rows x 3 flags: C=(4,2,2), R=(1,2,2,3) -> Q = 16/6
    val rows = Seq((1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1))
      .toDF("a", "b", "c")
    val r = Features.cochranQ(rows,
      Seq($"a" === 1, $"b" === 1, $"c" === 1)).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(r.getLong(2) == math.round(16.0 / 6.0 * 1e6))
    assert(r.getLong(3) == math.round(math.exp(-(16.0 / 6.0) / 2.0) * 1e6))
    // k=2: Q == uncorrected McNemar (b-c)^2/(b+c) = 1 on 3-vs-1 discordant
    val two = Seq((1, 0), (1, 0), (0, 1), (1, 0)).toDF("a", "b")
    val r2 = Features.cochranQ(two, Seq($"a" === 1, $"b" === 1))
      .collect().head
    assert(r2.getLong(2) == 1000000L)
    assert(r2.isNullAt(3)) // no closed-form tail at k != 3
    // unanimous rows only -> empty
    val u = Seq((1, 1, 1), (0, 0, 0)).toDF("a", "b", "c")
    assert(Features.cochranQ(u,
      Seq($"a" === 1, $"b" === 1, $"c" === 1)).count() == 0L)
  }

  test("decisionStump: hand Ginis, argmin tie-break threshold asc, perfect split, guards") {
    // f=1:(T,T) f=2:(T,F) f=3:(F,F) — splits at 1 and 2 tie at
    // 250000 ppm, tie-break picks threshold 1; parent = 500000
    val df = Seq((1L, true), (1L, true), (2L, true), (2L, false),
      (3L, false), (3L, false)).toDF("f", "y")
    val got = Features.decisionStump(df, $"f", $"y").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((1L, 2L, 4L, 2L, 1L, 250000L, 500000L)))
    // perfectly separable: split gini 0 at the class boundary
    val sep = Seq((1L, true), (1L, true), (2L, false), (2L, false))
      .toDF("f", "y")
    val p = Features.decisionStump(sep, $"f", $"y").collect().head
    assert(p.getLong(0) == 1L && p.getLong(5) == 0L &&
      p.getLong(6) == 500000L)
    // constant feature: no proper split exists — emits NOTHING
    val const = Seq((5L, true), (5L, false)).toDF("f", "y")
    assert(Features.decisionStump(const, $"f", $"y").count() == 0L)
    // NULL feature/label rows are excluded, not voted
    val withNull = Seq((Some(1L), Some(true)), (Some(1L), Some(true)),
      (Some(2L), Some(false)), (None, Some(true)), (Some(3L), None))
      .toDF("f", "y")
    val n = Features.decisionStump(withNull, $"f", $"y").collect().head
    assert(n.getLong(0) == 1L && n.getLong(1) == 2L && n.getLong(2) == 1L)
  }

  test("boostedStumpsL2: two hand-folded rounds, gain tie-break, constant feature, guard") {
    // f=0: y {0,0}; f=1: y {60,60}; f=2: y {120,120}. p0 = 60.
    // Round 1 residuals: -60,-60 | 0,0 | 60,60 — splits at t=0 and
    // t=1 tie at gain 10800, tie-break picks t=0; vL=-60, vR=30.
    // Round 2 residuals: 0,0 | -30,-30 | 30,30 — t=1 wins (gain
    // 2700); vL = -60/4 = -15, vR = 60/2 = 30.
    val df = Seq((0L, 0L), (0L, 0L), (1L, 60L), (1L, 60L),
      (2L, 120L), (2L, 120L)).toDF("f", "y")
    val got = Features.boostedStumpsL2(df, $"f", $"y", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 0L, 2L, 4L, -60L, 30L),
      (2L, 1L, 4L, 2L, -15L, 30L)))
    // rounds = 1 stops after the first stump
    assert(Features.boostedStumpsL2(df, $"f", $"y", rounds = 1)
      .count() == 1L)
    // constant feature: no split exists — emits nothing
    val const = Seq((5L, 1L), (5L, 9L)).toDF("f", "y")
    assert(Features.boostedStumpsL2(const, $"f", $"y").count() == 0L)
    val e = intercept[IllegalArgumentException] {
      Features.boostedStumpsL2(df, $"f", $"y", rounds = 0)
    }
    assert(e.getMessage.contains("rounds must be"))
  }

  test("ridgeRegression: lambda=0 recovers exact OLS, shrinkage hand case, collinear NULL, guards") {
    // y = 3*x1 + 2*x2 exactly: moments C11=C22=14, C12=4, C1y=50,
    // C2y=40, det=180 -> OLS (3, 2, 0) exactly; at lambda=1 (L=n²=25)
    // det=1505, b1=1790/1505, b2=1360/1505 — hand-rounded micros
    val df = Seq((1L, 0L, 3L), (0L, 1L, 2L), (2L, 1L, 8L),
      (1L, 2L, 7L), (0L, 0L, 0L)).toDF("x1", "x2", "y")
    val got = graft.operators.Features.ridgeRegression(df, $"y", $"x1",
        $"x2", lambdas = Seq(0L, 1L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((3000000L, 2000000L, 0L)), got(0L).toString)
    assert(got(1L) == ((1189369L, 903654L, 2325581L)), got(1L).toString)
    // shrinkage is monotone toward zero
    assert(got(1L)._1 < got(0L)._1 && got(1L)._2 < got(0L)._2)
    // perfectly collinear covariates at lambda=0: det=0 -> NULL row,
    // but lambda>0 regularizes the system back to solvable
    val coll = Seq((1L, 1L, 3L), (2L, 2L, 6L), (3L, 3L, 9L))
      .toDF("x1", "x2", "y")
    val c = graft.operators.Features.ridgeRegression(coll, $"y", $"x1",
        $"x2", lambdas = Seq(0L, 1L)).collect()
    assert(c(0).isNullAt(2) && c(0).isNullAt(3) && c(0).isNullAt(4))
    assert(!c(1).isNullAt(2))
    intercept[IllegalArgumentException] {
      graft.operators.Features.ridgeRegression(df, $"y", $"x1", $"x2",
        lambdas = Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Features.ridgeRegression(df, $"y", $"x1", $"x2",
        lambdas = Seq(-1L))
    }
  }

  test("ridgeRegression: a 3.1e9 covariate sums exactly, matching a BigInt reference") {
    // x1·x1 at 3.1e9 is 9.61e18 > 2^63 − 1: a long product fails with
    // ARITHMETIC_OVERFLOW under ANSI, so the moments must sum in DECIMAL
    val rows = Seq((3100000000L, 1L, 5L), (2L, 3L, 1L), (5L, 0L, 4L),
      (1L, 2L, 2L), (4L, 4L, 7L), (0L, 1L, 3L))
    val df = rows.toDF("x1", "x2", "y")
    val got = Features.ridgeRegression(df, $"y", $"x1", $"x2",
        lambdas = Seq(0L, 1L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val n = BigInt(rows.size)
    def s(f: ((Long, Long, Long)) => BigInt) = rows.map(f).sum
    val (s1, s2, sy) = (s(r => BigInt(r._1)), s(r => BigInt(r._2)),
      s(r => BigInt(r._3)))
    def c(sab: BigInt, sa: BigInt, sb: BigInt) = n * sab - sa * sb
    def round6(d: Double) = BigDecimal(d * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    for (lambda <- Seq(0L, 1L)) {
      val l = lambda * n * n
      val a11 = c(s(r => BigInt(r._1) * r._1), s1, s1) + l
      val a22 = c(s(r => BigInt(r._2) * r._2), s2, s2) + l
      val a12 = c(s(r => BigInt(r._1) * r._2), s1, s2)
      val c1y = c(s(r => BigInt(r._1) * r._3), s1, sy)
      val c2y = c(s(r => BigInt(r._2) * r._3), s2, sy)
      val det = a11 * a22 - a12 * a12
      assert(det > 0)
      val b1 = (a22 * c1y - a12 * c2y).toDouble / det.toDouble
      val b2 = (a11 * c2y - a12 * c1y).toDouble / det.toDouble
      val icpt = (sy.toDouble - b1 * s1.toDouble - b2 * s2.toDouble) /
        n.toDouble
      assert(got(lambda) == ((n.toLong, round6(b1), round6(b2),
        round6(icpt))), s"lambda $lambda")
    }
  }

  test("isotonicFit: hand PAVA both directions, weights pool exactly, guards") {
    import spark.implicits._
    // increasing on rates 1, 3, 2, 4 (unit weights): the 3/2 violation
    // pools to 2.5 -> fits 1e6, 2.5e6, 2.5e6, 4e6
    val up = Seq((10L, 1L, 1L), (20L, 1L, 3L), (30L, 1L, 2L),
      (40L, 1L, 4L)).toDF("bucket", "w", "s")
    val gotUp = graft.operators.Features
      .isotonicFit(up, "bucket", "w", "s", increasing = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(gotUp(10L) == ((1000000L, 1000000L)), gotUp.toString)
    assert(gotUp(20L) == ((3000000L, 2500000L)), gotUp.toString)
    assert(gotUp(30L) == ((2000000L, 2500000L)), gotUp.toString)
    assert(gotUp(40L) == ((4000000L, 4000000L)), gotUp.toString)
    // decreasing on 3, 1, 2: the 1/2 violation pools to 1.5
    val down = Seq((1L, 1L, 3L), (2L, 1L, 1L), (3L, 1L, 2L))
      .toDF("bucket", "w", "s")
    val gotDn = graft.operators.Features
      .isotonicFit(down, "bucket", "w", "s", increasing = false)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(gotDn == Map(1L -> 3000000L, 2L -> 1500000L, 3L -> 1500000L),
      gotDn.toString)
    // WEIGHTS pool exactly: rates 1 (w=3) then 2 (w=1) decreasing ->
    // one pool mean (3+2)/4 = 1.25 -> 1250000 ppm for both
    val wt = Seq((1L, 3L, 3L), (2L, 1L, 2L)).toDF("bucket", "w", "s")
    val gotWt = graft.operators.Features
      .isotonicFit(wt, "bucket", "w", "s", increasing = false)
      .collect().map(_.getLong(4)).toSet
    assert(gotWt == Set(1250000L), gotWt.toString)
    // a cascade: 4, 1 pools to 2.5, then 2 arrives and re-pools all
    // three to (4+1+2)/3 -> 2333333 (increasing)
    val cas = Seq((1L, 1L, 4L), (2L, 1L, 1L), (3L, 1L, 2L))
      .toDF("bucket", "w", "s")
    val gotCas = graft.operators.Features
      .isotonicFit(cas, "bucket", "w", "s", increasing = true)
      .collect().map(_.getLong(4)).toSet
    assert(gotCas == Set(2333333L), gotCas.toString)
    // guards: non-positive weight; duplicate bucket
    val e1 = intercept[org.apache.spark.SparkException] {
      graft.operators.Features.isotonicFit(
        Seq((1L, 0L, 1L)).toDF("bucket", "w", "s"),
        "bucket", "w", "s").collect()
    }
    assert(e1.getMessage.contains("0 < w"), e1.getMessage)
    val e2 = intercept[org.apache.spark.SparkException] {
      graft.operators.Features.isotonicFit(
        Seq((1L, 1L, 1L), (1L, 1L, 2L)).toDF("bucket", "w", "s"),
        "bucket", "w", "s").collect()
    }
    assert(e2.getMessage.contains("duplicate bucket"), e2.getMessage)
  }

  test("isotonicFit: planted merged-pool overflow refuses on TOTALS, not per-bucket") {
    import spark.implicits._
    // three buckets each inside the per-bucket 2^31 bound, but their
    // POOLED sums cross-multiply past Long.MaxValue: w = s = 1.5e9
    // per bucket means a two-bucket pool (3e9, 3e9) against the third
    // gives 3e9 * 1.5e9 = 4.5e18 < 2^63, but four buckets pool to
    // 4.5e9 * 3e9 = 1.35e19 > Long.MaxValue — the silent flip the
    // totals bound exists to refuse. Decreasing rates force pooling.
    val big = 1500000000L // 1.5e9 < 2^31
    val rows = Seq((1L, big, big), (2L, big, big - 1L),
      (3L, big, big - 2L), (4L, big, big - 3L))
      .toDF("bucket", "w", "s")
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Features.isotonicFit(rows, "bucket", "w", "s",
        increasing = false).collect()
    }
    assert(e.getMessage.contains("total weight"), e.getMessage)
    // and totals at exactly the bound still work: 2^31 split 4 ways
    val q = (1L << 29)
    val ok = graft.operators.Features.isotonicFit(
      Seq((1L, q, q), (2L, q, q - 1L), (3L, q, q - 2L), (4L, q, q - 3L))
        .toDF("bucket", "w", "s"),
      "bucket", "w", "s", increasing = false).collect()
    assert(ok.length == 4)
  }

  test("isotonicFitGrouped: per-key fits equal isotonicFit per key; bounds apply per group") {
    import spark.implicits._
    // two segments whose pools genuinely differ: "a" has the 3/2
    // violation (pools to 2.5e6), "b" is already isotonic (no pools)
    val a = Seq((10L, 1L, 1L), (20L, 1L, 3L), (30L, 1L, 2L),
      (40L, 1L, 4L))
    val b = Seq((10L, 2L, 1L), (20L, 2L, 5L), (30L, 2L, 9L))
    val fleet = (a.map { case (bk, w, s) => ("a", bk, w, s) } ++
      b.map { case (bk, w, s) => ("b", bk, w, s) })
      .toDF("seg", "bucket", "w", "s")
    val got = graft.operators.Features
      .isotonicFitGrouped(fleet, "seg", "bucket", "w", "s",
        increasing = true)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    def single(rows: Seq[(Long, Long, Long)]) = graft.operators.Features
      .isotonicFit(rows.toDF("bucket", "w", "s"), "bucket", "w", "s",
        increasing = true)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val wantA = single(a); val wantB = single(b)
    assert(got.size == 7)
    wantA.foreach { case (bk, v) => assert(got(("a", bk)) == v) }
    wantB.foreach { case (bk, v) => assert(got(("b", bk)) == v) }
    // the pools DO differ across segments at bucket 20/30
    assert(got(("a", 20L))._4 == 2500000L && got(("b", 20L))._4 == 2500000L)
    assert(got(("a", 30L))._4 == 2500000L && got(("b", 30L))._4 == 4500000L)
    // the totals bound applies PER GROUP: a group over budget refuses
    // even when the other group is tiny
    val big = 1500000000L
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Features.isotonicFitGrouped(
        (Seq(("x", 1L, 1L, 1L)) ++ (1 to 2).map(i =>
          ("y", i.toLong, big, big))).toDF("seg", "bucket", "w", "s"),
        "seg", "bucket", "w", "s").collect()
    }
    assert(e.getMessage.contains("total weight"), e.getMessage)
  }
}
