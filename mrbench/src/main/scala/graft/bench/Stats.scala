package graft.bench

/** Summary statistics the benchmark reports. */
object Stats {
  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val at = p / 100.0 * (s.size - 1)
    val lo = math.floor(at).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (at - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it: p90 needs 100 samples, p99 needs 1,000.
    */
  def reportable(p: Double, n: Int): Boolean = math.floor(n * (100 - p) / 100 + 1e-9) >= 10

  val MetricName = "[A-Za-z0-9_.-]+"
}
