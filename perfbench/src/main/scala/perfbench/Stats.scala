package perfbench

/** Order statistics on the nearest-rank definition. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.size, p))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  private def rank(n: Int, p: Double): Int =
    math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  private val Ladder =
    Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)

  /** The highest ladder percentile with at least ten samples above its
    * rank, so a tail is never read off a handful of points; the median
    * when the sample is too small for any. */
  def tailPercentile(n: Int): Double =
    Ladder.find(p => n - 1 - rank(n, p) >= 10).getOrElse(50.0)

  /** (percentile, value) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }
}
