package graft.perfbench

/** Order statistics used by every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentiles a tail timing may be reported at, highest last. */
  val Ladder: Seq[Double] = Seq(50, 75, 85, 90, 95, 99, 99.9)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size - 1e-9).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** Samples strictly beyond the nearest-rank p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int =
    n - math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** The highest ladder percentile that leaves at least `minBeyond` samples
    * beyond it, falling back to the median when no ladder step does (fewer
    * than 2 * minBeyond samples). 73 samples give p85; 20 give p50.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Double =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption.getOrElse(50.0)

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip intervals to the window [from, to). */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(i => i._2 > i._1)
}
