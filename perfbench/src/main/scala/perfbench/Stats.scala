package perfbench

/** Latency summaries. */
object Stats {

  /** Median by linear interpolation between the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest sample that still has at least `beyond`
    * samples above it, with the percentile it sits at and the sample
    * count. It is never taken below the median: with fewer than
    * `2 * beyond + 2` samples the tail is the median (the upper one of an
    * even count), and the percentile in the record says so.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val i = math.max(n - beyond - 1, n / 2)
    Tail(s(i), 100.0 * (i + 1) / n, n)
  }
}
