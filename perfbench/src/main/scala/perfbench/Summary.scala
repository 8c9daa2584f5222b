package perfbench

/** Order statistics the benchmark reports. */
object Summary {

  /** Percentiles a tail may be reported at, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Fewest ops for which a tail is reported at all. */
  val MinTailOps = 20

  /** Ops that must lie beyond the reported tail percentile. */
  val BeyondTail = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** The tail of `xs`: the highest ladder percentile with at least
    * [[BeyondTail]] values above its rank, as (percentile, value). None
    * when fewer than [[MinTailOps]] values were measured. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < MinTailOps) None
    else {
      val n = xs.size
      val p = TailLadder.filter { p =>
        n - math.ceil(p / 100 * n).toInt >= BeyondTail
      }.last
      Some((p, percentile(xs, p)))
    }
}
