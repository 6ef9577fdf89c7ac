package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
   *  samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    s(math.max(0, rank(s.size, p) - 1))
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Int): Int = math.ceil(p * n / 100.0).toInt

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentile a sample of `n` supports: the highest integer
   *  percentile that still has at least `beyond` samples ranked above it,
   *  never below the median (under `2 * beyond` samples the tail is the
   *  median). */
  def tailPercentile(n: Int, beyond: Int = 10): Int =
    (99 to 50 by -1).find(p => n - rank(n, p) >= beyond).getOrElse(50)

  /** (percentile, value) of the tail of `xs` under [[tailPercentile]]. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }
}
