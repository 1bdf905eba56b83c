package gatebench

/** Percentiles over latency samples. */
object Stats {

  /** Linear-interpolated percentile `p` (0-100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail percentiles that has at least ten
    * samples beyond it, or None when even p90 has fewer.
    */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90).find(p => n * (100 - p) / 100.0 >= 10.0)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
