package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear interpolation between closest ranks (the "inclusive" rule of
    * Python's `statistics.quantiles` and numpy's default). `p` in 0..100. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, in per-mille so the sample-count test is
    * exact integer arithmetic. */
  private val tailPerMille = Seq(999, 990, 950, 900, 750)

  /** The highest candidate percentile with at least ten samples beyond it,
    * or None below forty samples, where no percentile above the median has
    * ten samples beyond it and a "tail" would be one or two outliers. */
  def tailPercentile(n: Int): Option[Double] =
    tailPerMille.find(pm => n.toLong * (1000 - pm) >= 10000L).map(_ / 10.0)

  /** `(percentile, value)` of the supported tail, if the sample supports one. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailPercentile(xs.length).map(p => p -> percentile(xs, p))
}
