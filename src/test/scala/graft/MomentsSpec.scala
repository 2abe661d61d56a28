package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.{Moments, Quality}

class MomentsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's `round` on a double: HALF_UP on its shortest decimal form. */
  private def roundHalfUp(d: Double): Long =
    BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("centered, sampleVar, sampleCov, mean, pearsonMicros and slope equal their BigInt trees") {
    val rnd = new Random(20261019L)
    // |x|, |y| ≤ 10⁹; groups of 2 to ~100 rows
    val rows = (0 until 240).map { i =>
      val g = if (i < 2) 0 else 1 + i % 4
      (g, rnd.nextLong() % 1000000001L, rnd.nextLong() % 1000000001L)
    }
    val (x, y) = ($"x", $"y")
    val aggs = Moments.sums("n", Seq("sx" -> x, "sy" -> y),
      Seq(("sxy", x, y), ("sxx", x, x), ("syy", y, y)))
    val (n, sx, sy) = ($"n", $"sx", $"sy")
    val (sxy, sxx, syy) = ($"sxy", $"sxx", $"syy")
    val got = rows.toDF("g", "x", "y").groupBy($"g")
      .agg(aggs.head, aggs.tail: _*)
      .select($"g", Moments.centered(n, sxy, sx, sy).as("c"),
        Moments.sampleVar(n, sx, sxx).as("v"),
        Moments.sampleCov(n, sxy, sx, sy).as("cov"),
        Moments.mean(sx, n).as("m"),
        Moments.pearsonMicros(n, sxy, sx, sy, sxx, syy).as("r"),
        Moments.slope(n, sxy, sx, sy, sxx).as("b"))
      .collect()
    assert(got.length == 5)
    for (r <- got) {
      val part = rows.filter(_._1 == r.getInt(0))
      val nn = BigInt(part.size)
      def s(f: ((Int, Long, Long)) => BigInt) = part.map(f).sum
      val (bx, by) = (s(p => BigInt(p._2)), s(p => BigInt(p._3)))
      val bxy = s(p => BigInt(p._2) * p._3)
      val bxx = s(p => BigInt(p._2) * p._2)
      val byy = s(p => BigInt(p._3) * p._3)
      def cen(sab: BigInt, sa: BigInt, sb: BigInt) = nn * sab - sa * sb
      val (cxy, cxx, cyy) = (cen(bxy, bx, by), cen(bxx, bx, bx),
        cen(byy, by, by))
      assert(BigInt(r.getDecimal(1).toBigIntegerExact) == cxy)
      assert(r.getDouble(2) == cxx.toDouble / (nn * (nn - 1)).toDouble)
      assert(r.getDouble(3) == cxy.toDouble / (nn * (nn - 1)).toDouble)
      assert(r.getDouble(4) == bx.toDouble / nn.toDouble)
      assert(r.getLong(5) == roundHalfUp(cxy.toDouble /
        (math.sqrt(cxx.toDouble) * math.sqrt(cyy.toDouble)) * 1e6))
      assert(r.getDouble(6) == cxy.toDouble / cxx.toDouble)
    }
  }

  test("masked sums over a one-arm input: the empty arm has n = 0 and sums of 0, not NULL") {
    val df = Seq((true, 3L), (true, 5L), (true, -2L)).toDF("t", "y")
    val y = $"y"
    def arm(p: String, in: org.apache.spark.sql.Column) = Moments.sums(
      s"n_$p", Seq(s"s_$p" -> y), Seq((s"q_$p", y, y)), Some(in))
    val aggs = arm("t", $"t") ++ arm("c", !$"t")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    assert(r.getLong(0) == 3L)
    assert(r.getDecimal(1).longValueExact() == 6L)
    assert(r.getDecimal(2).longValueExact() == 38L)
    assert(r.getLong(3) == 0L)
    assert(!r.isNullAt(4) && r.getDecimal(4).signum() == 0)
    assert(!r.isNullAt(5) && r.getDecimal(5).signum() == 0)
  }

  test("upperTailZ and wilsonHilfertyZ equal the inline trees they replace") {
    val z = $"z"
    val p2 = Quality.pValueTwoSidedZ(z)
    val inlineTail = when(z >= 0.0, p2 / 2.0).otherwise(lit(1.0) - p2 / 2.0)
    val tails = Seq(-2.5, -0.3, 0.0, 0.7, 3.1).toDF("z")
      .select(z, Quality.upperTailZ(z), inlineTail).collect()
    tails.foreach(r => assert(r.getDouble(1) == r.getDouble(2), r))
    val p = tails.map(_.getDouble(1))
    assert(p.sliding(2).forall(w => w(0) > w(1)) && p.forall(v => v > 0 && v < 1))
    assert(math.abs(p(2) - 0.5) < 1e-6)
    // d = 3: u below, at and above (1 − 2/27)³, where z crosses 0
    val (u, d) = ($"u", $"d")
    val inlineWh = (exp(log(u) / lit(3.0)) -
      (lit(1.0) - lit(2.0) / (lit(9.0) * d))) /
      sqrt(lit(2.0) / (lit(9.0) * d))
    val u0 = math.pow(1.0 - 2.0 / 27.0, 3)
    val wh = Seq((0.2, 3.0), (u0, 3.0), (3.0, 3.0)).toDF("u", "d")
      .select(Quality.wilsonHilfertyZ(u, d), inlineWh).collect()
    wh.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    assert(wh(0).getDouble(0) < 0.0 && wh(2).getDouble(0) > 0.0)
    assert(math.abs(wh(1).getDouble(0)) < 1e-12)
  }
}
