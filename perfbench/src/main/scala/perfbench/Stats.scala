package perfbench

/** Order statistics and interval arithmetic used by every report. Pure
  * functions over plain numbers, so the tests can pin them on fixed inputs.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** The tail sample of a latency distribution: the highest percentile that
    * still leaves at least `minAbove` samples above it. With n samples
    * sorted ascending that is rank n - minAbove (1-based), the percentile
    * 100 * rank / n. When that percentile would not be above the median
    * (n <= 2 * minAbove), it is the maximum, and `above` reads 0.
    */
  final case class Tail(value: Double, percentile: Double, above: Int, n: Int)

  def tail(xs: Seq[Double], minAbove: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = n - minAbove
    if (rank >= 1 && rank * 2 > n) Tail(s(rank - 1), 100.0 * rank / n, n - rank, n)
    else Tail(s.last, 100.0, 0, n)
  }

  /** Total length covered by a set of closed intervals (overlaps counted
    * once).
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- intervals.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Length of `[start, end]` not covered by any of `inner` (each clipped to
    * the window).
    */
  def uncovered(start: Long, end: Long, inner: Seq[(Long, Long)]): Long = {
    val clipped = inner.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    math.max(0L, (end - start) - unionLength(clipped))
  }
}
