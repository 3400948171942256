package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Midpoint median; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** A tail reading: the sample at `percentile` (the share of samples at or
    * below it, in percent) with `beyond` samples above it, out of `n`. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it when there are `nMin` samples: the (nMin - minBeyond)-th
    * smallest of nMin samples, e.g. p90 of 100. Over n >= nMin samples it
    * reads that same percentile, at nearest rank
    * ceil(n * (nMin - minBeyond) / nMin), so a run that fits one pass more
    * than another reads the same point of the latency distribution. None
    * when n < nMin or nMin <= minBeyond. */
  def tailAt(xs: Seq[Double], nMin: Int, minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (nMin <= minBeyond || n < nMin) None
    else {
      val k = (((nMin - minBeyond).toLong * n + nMin - 1) / nMin).toInt
      Some(Tail(xs.sorted.apply(k - 1), 100.0 * k / n, n - k, n))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curEnd) {
        total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    total + (curEnd - curStart)
  }
}
