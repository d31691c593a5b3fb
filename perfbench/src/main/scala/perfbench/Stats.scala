package perfbench

/** Summary statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank `q`-th percentile. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q / 100.0 * n).toInt

  /** Nearest-rank `q`-th percentile (0 < q < 100). Refuses an estimate that
    * fewer than `minBeyond` samples lie beyond: such a tail percentile is
    * decided by one or two samples and swings from run to run. The median is
    * exempt (`q == 50` always has half the samples beyond it). */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Double = {
    require(q > 0 && q < 100, s"percentile $q out of range")
    require(xs.nonEmpty, "percentile of no samples")
    val n = xs.length
    if (q > 50) require(beyond(n, q) >= minBeyond,
      s"p$q of $n samples has ${beyond(n, q)} samples beyond it; at least $minBeyond are required")
    val s = xs.sorted
    s(math.max(0, math.ceil(q / 100.0 * n).toInt - 1))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
