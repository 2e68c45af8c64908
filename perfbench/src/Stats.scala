package perfbench

/** Order statistics for the end-to-end report. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in [0, 1]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p * s.size).toInt)
    s(math.min(rank, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles the tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** Samples strictly beyond the nearest-rank position of `p` in `n`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** The tail rule: the highest ladder percentile with at least ten
    * samples beyond it. `None` when even the median has fewer than ten
    * samples beyond it (n < 20); callers then report the maximum.
    */
  def tailPercentile(n: Int): Option[Double] = TailLadder.find(p => beyond(n, p) >= 10)

  /** (label, value) of the tail: e.g. ("p90", 41.2) or ("max", 980.0). */
  def tail(xs: Seq[Double]): (String, Double) = tailPercentile(xs.size) match {
    case Some(p) => (label(p), percentile(xs, p))
    case None    => ("max", xs.max)
  }

  def label(p: Double): String = {
    val s = BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString
    "p" + s
  }
}
