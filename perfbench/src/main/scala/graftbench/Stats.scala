package graftbench

/** Summary statistics for latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: `value` at `percentile`, out of `samples`. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least `beyond` samples above
    * it: the (beyond+1)-th largest sample, at percentile 100·(n−beyond)/n.
    * With `beyond` samples or fewer no percentile qualifies, and the
    * maximum is returned at percentile 100 so the sample count shows it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }
}
