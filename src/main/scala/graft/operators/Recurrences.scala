package graft.operators

/** The per-key integer recurrences of the [[TimeSeries]] fits and of
  * their [[graft.streaming.EventStreams]] twins, each written once with
  * its overflow guard.
  *
  * Every step is long add/multiply plus ONE truncating long division
  * per state (Java `/` and DuckDB `//` truncate identically, negatives
  * included), so a recursive-CTE oracle replays each step exactly.
  * Rates are in ppm. A guard that trips throws
  * `<op>: <what><where> exceeds the overflow-safe bound …`, where `op`
  * names the operator and `where` (evaluated only on failure) the
  * order and key when the caller has them. */
private[graft] object Recurrences {
  private val Ppm = 1000000L

  /** Largest |operand| of a ·10⁶ product that stays inside a long. */
  val Bound = 9000000000000L

  /** A smoothing rate in ppm must lie in [0, 10⁶]. */
  def requirePpm(name: String, v: Long): Unit =
    require(v >= 0L && v <= Ppm, s"$name must be in [0, 1000000] (got $v)")

  /** One exponential-smoothing step `(a·x + (10⁶−a)·s) / 10⁶` — the
    * Holt, Holt–Winters, Croston and EWM-variance states all move by
    * it. */
  def smooth(s: Long, x: Long, aPpm: Long): Long =
    (aPpm * x + (Ppm - aPpm) * s) / Ppm

  /** Holt level/trend update on observation `x`:
    * `l′ = smooth(l + b, x, α)`, `b′ = smooth(b, l′ − l, β)`.
    * Returns (l′, b′). */
  def holt(l: Long, b: Long, x: Long, alphaPpm: Long,
      betaPpm: Long): (Long, Long) = {
    val l2 = smooth(l + b, x, alphaPpm)
    (l2, smooth(b, l2 - l, betaPpm))
  }

  /** EWM-variance (RiskMetrics) update on the first difference `r`:
    * `v′ = (λ·v + (10⁶−λ)·r²·10⁶) / 10⁶`. v is a truncated convex
    * combination of past `r²·10⁶` terms, so |r| ≤ 3000 keeps the
    * numerator inside a long for EVERY λ; a larger |r| throws. */
  def ewmVar(v: Long, r: Long, lambdaPpm: Long, op: String,
      where: => String): Long = {
    if (math.abs(r) > 3000L)
      throw new IllegalArgumentException(
        s"$op: |delta| ${math.abs(r)}$where exceeds the overflow-safe " +
          "bound 3000 — quantize the series coarser")
    smooth(v, r * r * Ppm, Ppm - lambdaPpm)
  }

  /** The volatility readout `round(√(v/10⁶)·10⁶)` of an EWM variance in
    * micro units — one mirrored IEEE tree. */
  def sigma(v: Long): Long = math.round(math.sqrt(v.toDouble / 1e6) * 1e6)

  /** The Kalman filters' entry bound, checked on the driver before any
    * job: Q, R > 0 (else the first gain divides by zero inside a task)
    * and Q + R ≤ 9·10¹², which keeps every P⁻·10⁶ inside a long (P
    * never exceeds R + Q). `qName`/`rName` are the caller's parameter
    * names, which the messages quote. */
  def requireKalmanVars(qName: String, q: Long, rName: String,
      r: Long): Unit = {
    require(q > 0L, s"$qName must be > 0 (got $q)")
    require(r > 0L, s"$rName must be > 0 (got $r)")
    require(q <= Bound - r, // not q + r <= Bound: q + r can wrap
      s"$qName + $rName must be <= 9e12 so the gain's P⁻·10⁶ " +
        s"numerator stays inside a long (got ${BigInt(q) + r})")
  }

  /** One Kalman local-level update of level `l` and variance `p` on
    * observation `x`: `P⁻ = P + Q`, gain `K = P⁻·10⁶ / (P⁻ + R)` in ppm,
    * innovation `e = x − l`, `l′ = l + K·e / 10⁶`,
    * `P′ = P⁻·(10⁶ − K) / 10⁶`. Callers keep P⁻ ≤ 9·10¹² (so P⁻·10⁶
    * fits a long); |e| above 9·10¹² throws (K ≤ 10⁶ would overflow
    * K·e). Returns (e, K, l′, P′). */
  def kalman(l: Long, p: Long, x: Long, q: Long, r: Long, op: String,
      where: => String): (Long, Long, Long, Long) = {
    val pp = p + q
    val gain = pp * Ppm / (pp + r)
    val e = x - l
    if (math.abs(e) > Bound)
      throw new IllegalArgumentException(
        s"$op: |innovation| ${math.abs(e)}$where exceeds the " +
          "overflow-safe bound 9e12 — quantize the series coarser")
    (e, gain, l + gain * e / Ppm, pp * (Ppm - gain) / Ppm)
  }

  /** The predicted variance `P + Q` across a grid gap, where nothing
    * else bounds it: above 9·10¹² the next gain's P⁻·10⁶ would
    * overflow, so it throws, naming the Q parameter `qName`. */
  def kalmanPredict(p: Long, q: Long, op: String, where: => String,
      qName: String): Long = {
    val pp = p + q
    if (pp > Bound)
      throw new IllegalArgumentException(
        s"$op: predicted variance $pp$where exceeds the overflow-safe " +
          s"bound 9e12 after a long gap — coarsen the grid or lower $qName")
    pp
  }
}
