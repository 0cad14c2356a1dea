package graftbench

/** Summary statistics for timing samples. */
object Stats {

  /** Percentile levels the tail rule chooses from. */
  val Ladder: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** Samples strictly above the nearest-rank `q` percentile of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** The highest ladder level with at least `minBeyond` samples beyond it,
    * or None when even the median has fewer.
    */
  def tailLevel(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(q => beyond(n, q) >= minBeyond).lastOption

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size - 1e-9).toInt - 1))
  }

  /** Geometric mean; infinite when any sample is. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
