package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest percentile that still has at least
    * `beyond` samples above it, as (value, percentile, samples).
    *
    * With n sorted samples the value at 0-based index n - beyond - 1 has
    * exactly `beyond` samples after it; its percentile is the share of
    * samples at or below it. With too few samples for any such percentile
    * the median stands in, reported at percentile 50. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val i = n - beyond - 1
    if (i < n / 2) Tail(median(xs), 50.0, n)
    else Tail(s(i), 100.0 * (i + 1) / n, n)
  }
}
