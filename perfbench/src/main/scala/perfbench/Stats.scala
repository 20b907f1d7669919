package perfbench

/** Order statistics for benchmark samples. */
object Stats {

  /** Linearly interpolated quantile `q` in [0, 1] of a non-empty sample
    * (the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail percentiles, lowest first. */
  val ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples ranked strictly above percentile `p` of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest ladder percentile that has at least ten samples beyond
    * it, or the median when even the median has fewer (under 20 samples):
    * a tail read from fewer than ten samples is noise, not a tail.
    */
  def tailPercentile(n: Int): Double =
    ladder.filter(p => beyond(n, p) >= 10).lastOption.getOrElse(50.0)

  /** (percentile used, value) of the supportable tail of a sample. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.length)
    (p, quantile(xs, p / 100.0))
  }
}
