package perfbench

/** Order statistics used for every timing the benchmark reports. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first. */
  val TailLevels: Seq[Double] = Seq(90.0, 99.0, 99.9)

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` in a sample of `n`. */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly beyond the nearest-rank percentile `p`. */
  private def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest percentile in [[TailLevels]] that has at least ten
    * samples beyond it, with its value; None when the sample is too
    * small for any of them (fewer than 100 values).
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLevels.filter(p => beyond(xs.size, p) >= 10).lastOption
      .map(p => p -> percentile(xs, p))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
