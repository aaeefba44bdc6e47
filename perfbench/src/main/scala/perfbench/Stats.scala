package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated quantile (the common "type 7" rule) of a
    * non-empty sample, `q` in [0, 1].
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the `p`-th percentile's rank: with `n`
    * samples, `n * (1 - p/100)` of them lie beyond it.
    */
  def samplesBeyond(n: Int, percentile: Double): Double =
    n * (1.0 - percentile / 100.0)

  /** The highest percentile of `ladder` that has at least `minBeyond`
    * samples beyond it, or None when even the lowest rung has fewer.
    * A tail percentile estimated from fewer samples is mostly noise.
    */
  def supportedPercentile(
      n: Int,
      ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9),
      minBeyond: Int = 10): Option[Double] =
    ladder.sorted.reverse.find(p => samplesBeyond(n, p) >= minBeyond - 1e-9)
}
