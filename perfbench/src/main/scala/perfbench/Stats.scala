package perfbench

/** Order statistics for the benchmark's sample sets. */
object Stats {

  /** The `q`-th percentile (0..100) of a non-empty sample, interpolated
    * linearly between the two closest ranks (numpy's default method), so
    * p50 of an even-sized sample is the mean of the middle pair.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 100, s"percentile $q outside 0..100")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
