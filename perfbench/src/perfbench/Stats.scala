package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least
    * `beyond` samples above it. With n sorted samples that is the value
    * at 0-based rank n − beyond − 1, i.e. percentile 100·(n − beyond)/n.
    * Needs n > beyond. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val n = xs.length
    require(n > beyond, s"tail needs more than $beyond samples, got $n")
    val s = xs.sorted
    Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }
}
