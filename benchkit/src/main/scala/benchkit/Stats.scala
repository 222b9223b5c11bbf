package benchkit

/** Summary statistics over timing samples. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of the standard ladder that has at least
    * ten of `n` samples beyond it — a tail percentile estimated from
    * fewer points is one or two outliers, not a distribution.
    */
  def supportedPercentile(n: Int): Option[Double] =
    ladder.find(p => math.floor(n * (1 - p / 100) + 1e-9) >= 10)

  /** (percentile, value) at [[supportedPercentile]], if any. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    supportedPercentile(xs.size).map(p => p -> quantile(xs, p / 100))

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
