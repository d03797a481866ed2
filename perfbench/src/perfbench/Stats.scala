package perfbench

/** Order statistics and interval arithmetic behind every reported number. */
object Stats {

  /** Percentile `p` (0–100) by linear interpolation between closest ranks
    * (the NumPy default); the median of an even-sized sample is the mean of
    * its two middle values.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest last. */
  val TailPercentiles: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest percentile in [[TailPercentiles]] that leaves at least
    * `beyond` samples above it, with its value; None when even the median
    * has fewer than `beyond` samples beyond it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailPercentiles
      .filter(p => xs.size * (100 - p) >= beyond * 100.0 - 1e-6)
      .lastOption
      .map(p => p -> percentile(xs, p))

  /** Total length of the union of half-open intervals `[a, b)`, clipped to
    * `[lo, hi)`.
    */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(span: (Long, Long), children: Iterable[(Long, Long)]): Long =
    (span._2 - span._1) - covered(children, span._1, span._2)
}
