package perfbench

/** The benchmark's summary statistics. Pure functions over samples, so the
  * rules the report depends on are unit-tested (StatsSpec).
  */
object Stats {

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank must be in (0, 1], got $p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size).toInt) - 1)
  }

  /** Samples strictly above the nearest-rank `p` position. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** A tail percentile is reported only when at least `minBeyond` samples
    * lie beyond it; otherwise it would just be one of the few largest
    * samples. None when the run has too few samples.
    */
  def tailPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= minBeyond) Some(percentile(xs, p)) else None

  /** Latency drift along a sequence: median of the last quarter over the
    * median of the first quarter (quarters of floor(n/4) samples). 1 means
    * flat; above 1 means later operations are slower.
    */
  def growth(xs: Seq[Double]): Double = {
    require(xs.size >= 4, s"growth needs at least 4 samples, got ${xs.size}")
    val q = xs.size / 4
    median(xs.takeRight(q)) / median(xs.take(q))
  }

  /** Length of [start, end) not covered by any of `intervals` (which may
    * overlap each other and extend past the window).
    */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => a < b }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start) - covered
  }
}
