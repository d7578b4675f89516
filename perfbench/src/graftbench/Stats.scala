package graftbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile (the R-7 / numpy default) of `xs`. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p >= 0 && p <= 1, s"quantile $p outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest ladder percentile that leaves at least `beyond` samples
    * above it in a sample of `n`, or None when not even the median does. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n * (1 - p) >= beyond - 1e-9).lastOption
}
