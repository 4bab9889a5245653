package graft.perfbench

/** Percentiles as the benchmark reports them. */
object Stats {

  /** The tail percentile a sample of `n` supports: the highest of 99, 90 and
    * 75 that leaves at least ten samples beyond it, else the median. */
  def tailPercentile(n: Int): Int =
    Seq(99, 90, 75).find(p => n.toLong * (100 - p) >= 1000L).getOrElse(50)

  /** Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample. */
  def percentile(values: Array[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of an empty sample")
    val sorted = values.sorted
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(values: Seq[Double]): Double = percentile(values.toArray, 50)
}
