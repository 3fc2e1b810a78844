package perfbench

/** Order statistics of a run's samples. */
object Stats {
  /** Linear-interpolation quantile (numpy's default, type 7). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p >= 0 && p <= 1, s"quantile $p outside [0, 1]")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples a tail quantile needs before it is reported: at least
    * `MinTail` of them beyond it, so a p90 needs 100 samples and a p99
    * 1000. The median needs one. */
  val MinTail = 10
  def minSamples(p: Double): Int =
    if (p == 0.5) 1 else math.ceil(MinTail / math.min(p, 1 - p) - 1e-9).toInt

  def supported(n: Int, p: Double): Boolean = n >= minSamples(p)

  /** The quantile if the samples support it. */
  def quantileIfSupported(xs: Seq[Double], p: Double): Option[Double] =
    if (supported(xs.length, p)) Some(quantile(xs, p)) else None
}
