package graft.perfbench

/** The arithmetic behind the reported numbers, kept free of Spark so the
  * suite can pin it. Intervals are half-open `[start, end)` in any one
  * time unit. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty sample:
    * rank `p/100 · (n-1)` between the two nearest order statistics. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median of operation latencies, or NaN (JSON null) when every
    * operation failed and left no sample. */
  def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)

  /** The highest of the standard percentiles that still has at least ten
    * samples beyond it, or None when the sample is too small for any
    * (fewer than 20 samples). */
  def tailPercentile(n: Int): Option[Double] =
    Seq(999, 990, 950, 900, 750, 500) // per mille, exact integer arithmetic
      .find(pm => n.toLong * (1000 - pm) >= 10000L).map(_ / 10.0)

  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip intervals to a window. */
  def clip(iv: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(t => t._2 > t._1)

  /** A span's self time: its duration minus the part of it that its child
    * spans cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))

  /** Window time during which no task ran: the driver-serial part. */
  def driverSerial(from: Long, to: Long, tasks: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(clip(tasks, from, to))

  /** Σ task time ÷ (wall × cores). */
  def utilization(taskTime: Double, wall: Double, cores: Int): Double =
    if (wall <= 0 || cores <= 0) 0.0 else taskTime / (wall * cores)
}
