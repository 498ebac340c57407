package perfbench

/** The benchmark's arithmetic, kept apart so the self-test can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the sample at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size / 100.0).toInt) - 1)
  }

  /** The tail of a timing sample: the highest whole percentile (from
    * p50 up) whose nearest-rank sample leaves at least `beyond` samples
    * above it. Returns (percentile, value); None when the sample is too
    * small to leave `beyond` samples past its median. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= beyond)
      .map(p => p -> percentile(xs, p))
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Time in [start, end] during which no Spark job of the request ran:
    * driver-side work (construction, planning, result handling). */
  def driverGap(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(jobs, start, end)

  /** Bytes stored, or written, per byte of user data. */
  def amplification(bytes: Long, userBytes: Long): Double = {
    require(userBytes > 0, "amplification needs user bytes")
    bytes.toDouble / userBytes
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Rounded as the engine rounds scores: 4 decimals, half up. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
