package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the reported percentiles that still leaves at least
    * ten samples beyond it — the tail a sample of `n` can support.
    * `None` below 20 samples, where not even the median has ten above.
    */
  def supportedPercentile(n: Int): Option[Double] =
    Seq(99.9, 99, 90, 50).find(p => n * (1 - p / 100.0) >= 10 - 1e-9)
}
