package perfbench

/** Summary statistics for per-operation samples. */
object Stats {

  /** Median (mean of the two middle samples when the count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile the sample supports: 90, or lower when fewer than
    * ten samples would lie beyond the 90th. With nearest rank r = ceil(p·n/100)
    * the samples beyond are n − r, so p ≤ 100·(n − 10)/n. It never goes
    * below 50: a sample of 20 or fewer supports no tail above its median.
    */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 50 else math.max(50, math.min(90, (100L * (n - 10) / n).toInt))

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** (percentile used, its value) under the ≥10-beyond rule; the median
    * when the sample supports no tail above it.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.size)
    (p, if (p == 50) median(xs) else percentile(xs, p))
  }
}
