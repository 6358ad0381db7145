package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated quantile (the "inclusive" definition: q = 0 is the
    * minimum, q = 1 the maximum). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that lie strictly above the q-quantile of n samples. */
  def samplesBeyond(n: Int, q: Double): Int =
    n - 1 - math.floor(q * (n - 1)).toInt

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
