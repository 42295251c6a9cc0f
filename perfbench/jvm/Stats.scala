package perfbench

/** Order statistics for timings. */
object Stats {
  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The `p` percentile (nearest rank), only when at least `minBeyond`
    * samples lie beyond it: a tail read from fewer samples is noise, so it
    * is refused rather than reported. The median is always allowed. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else if (p == 50.0) Some(median(xs))
    else if (beyond(xs.size, p) < minBeyond) None
    else {
      val s = xs.sorted
      Some(s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}
