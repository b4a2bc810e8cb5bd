package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Samples a tail statistic must leave beyond it. */
  val TailBeyond = 10

  /** The tail latency: the highest percentile that still has at least
    * [[TailBeyond]] samples above it. With n samples that is the
    * (TailBeyond + 1)-th largest value, at percentile 100·(n − 10)/n
    * (nearest rank). Returns (value, percentile, samples beyond). When that
    * percentile would not lie above the median (n < 2·TailBeyond + 1) there
    * is no such tail; it falls back to the maximum, with 0 samples beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 2 * TailBeyond + 1) (s.last, 100.0, 0)
    else (s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, TailBeyond)
  }
}
