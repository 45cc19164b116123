package ragbench

/** Order statistics and interval arithmetic behind the reported numbers. */
object Stats {

  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * `statistics.quantiles`), `q` in [0, 1].
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail is reported at, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest of [[TailPercentiles]] that has at least `beyond`
    * samples strictly above its rank, with its value; None when the
    * sample is too small for any of them.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailPercentiles.find(p => xs.size - math.ceil(xs.size * p / 100.0) >= beyond)
      .map(p => p -> quantile(xs, p / 100.0))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Length of the overlap of [a0, a1) and [b0, b1). */
  def overlap(a0: Long, a1: Long, b0: Long, b1: Long): Long =
    math.max(0L, math.min(a1, b1) - math.max(a0, b0))
}
