package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{count, lit, round, sqrt, sum, when}

/** Exact moments for the A/B, regression and correlation operators.
  *
  * One rule, so that an oracle replays every result bit for bit:
  * inputs are integral (cents, micros, ranks, counts); a pass takes
  * a count and sums of values and of pairwise products, each value
  * widened to DECIMAL(38,0) INSIDE the sum; centered co-moments
  * `n·Σab − Σa·Σb` stay exact in DECIMAL; and ONE IEEE step at the
  * end turns exact integers into the statistic, in the operation
  * order the oracle SQL mirrors token for token.
  *
  * Why the cast goes inside the sum: a long accumulator, or a long
  * product `x·x`, overflows long before the DECIMAL sum could — a
  * product at |x| > 3.04·10⁹ raises ARITHMETIC_OVERFLOW under ANSI
  * (and wraps silently without it), a long sum wraps at petabyte row
  * counts — while the oracle's HUGEINT sums never do. */
private[graft] object Moments {

  val Dec = "decimal(38,0)"

  /** The aggregates of one moment pass, in order: the count `n`, the
    * DECIMAL sum of each `(name, v)` of `values`, then the DECIMAL sum
    * of `a·b` for each `(name, a, b)` of `products`. With a `mask`
    * (one arm or cell of a test) the count is the rows inside it and
    * a row outside adds 0, so an empty arm has n = 0 and sums of 0,
    * never NULL. */
  def sums(n: String, values: Seq[(String, Column)],
      products: Seq[(String, Column, Column)],
      mask: Option[Column] = None): Seq[Column] = {
    def in(v: Column): Column =
      mask.fold(v)(m => when(m, v).otherwise(lit(0).cast(Dec)))
    mask.fold(count(lit(1)))(m => sum(when(m, 1L).otherwise(0L))).as(n) +:
      (values.map { case (name, v) => sum(in(v.cast(Dec))).as(name) } ++
        products.map { case (name, a, b) =>
          sum(in(a.cast(Dec) * b)).as(name) })
  }

  /** The centered co-moment `n·Σab − Σa·Σb` (n times the sum of
    * centered products), exact in DECIMAL. */
  def centered(n: Column, sab: Column, sa: Column, sb: Column): Column =
    n.cast(Dec) * sab - sa * sb

  /** Sample covariance `(n·Σab − Σa·Σb)/(n·(n−1))`: one IEEE division
    * of two exact integers. */
  def sampleCov(n: Column, sab: Column, sa: Column, sb: Column): Column =
    centered(n, sab, sa, sb).cast("double") /
      (n.cast(Dec) * (n - 1)).cast("double")

  /** Sample variance `(n·SS − S²)/(n·(n−1))`. */
  def sampleVar(n: Column, s: Column, ss: Column): Column =
    sampleCov(n, ss, s, s)

  def mean(s: Column, n: Column): Column =
    s.cast("double") / n.cast("double")

  /** Pearson r in micros: `round(C_xy/(√C_xx·√C_yy)·10⁶)` over the
    * centered co-moments. The caller guards C_xx, C_yy > 0. */
  def pearsonMicros(n: Column, sxy: Column, sx: Column, sy: Column,
      sxx: Column, syy: Column): Column =
    round(centered(n, sxy, sx, sy).cast("double") /
      (sqrt(centered(n, sxx, sx, sx).cast("double")) *
        sqrt(centered(n, syy, sy, sy).cast("double"))) * 1e6)
      .cast("long")

  /** OLS slope of y on x, `C_xy/C_xx`. The caller guards C_xx > 0. */
  def slope(n: Column, sxy: Column, sx: Column, sy: Column,
      sxx: Column): Column =
    centered(n, sxy, sx, sy).cast("double") /
      centered(n, sxx, sx, sx).cast("double")
}
