package perfbench

/** Order statistics and interval arithmetic behind every reported figure. */
object Stats {

  /** Median, averaging the two middle values of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total length covered by a set of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** [[unionLength]] of the intervals clipped to `[lo, hi)`. */
  def coveredWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}
