package graftbench

/** The arithmetic the metrics rest on, kept free of Spark so the
  * self-tests can pin it.
  */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile `q` (0 < q < 1), reported only when at
    * least `minBeyond` samples lie strictly beyond its rank: a tail
    * percentile read off fewer samples than that is one or two outliers,
    * not a percentile. A p90 therefore needs at least 100 samples.
    */
  def tailPercentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"percentile must be in (0, 1), got $q")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val rank = math.max(1, math.ceil(q * s.size).toInt)
      if (s.size - rank >= minBeyond) Some(s(rank - 1)) else None
    }
  }

  /** Total length covered by the union of half-open intervals [a, b). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** The intervals restricted to [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  /** Time inside [lo, hi) that the intervals do not cover. For a span and
    * its Spark jobs this is the driver gap: planning, commits, listing and
    * everything else the driver does while no job runs.
    */
  def uncovered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    math.max(0L, hi - lo) - unionLength(clip(intervals, lo, hi))
}
