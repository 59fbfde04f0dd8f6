package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolation quantile (the `inclusive` method of Python's
    * `statistics.quantiles`), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least `beyond` samples above
    * it, as (percentile, value). With `n` samples that is the
    * (n - beyond)/n quantile; a sample of `beyond` or fewer has no such
    * percentile and reports its median. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val n = xs.length
    if (n <= beyond) (50.0, median(xs))
    else {
      val pct = math.floor(100.0 * (n - beyond) / n)
      val p = math.max(pct, 50.0)
      (p, quantile(xs, p / 100.0))
    }
  }
}
