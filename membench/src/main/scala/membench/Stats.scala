package membench

/** Order statistics for a fixed-size sample set. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The tail sample: the highest order statistic with at least `beyond`
    * samples above it. Returns (value, percentile it sits at, sample count).
    * The percentile depends only on the sample count, so runs with equal
    * counts always report the same percentile.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val n = xs.length
    require(n > beyond, s"tail needs more than $beyond samples, got $n")
    val s = xs.sorted
    val i = n - beyond - 1
    (s(i), 100.0 * (i + 1) / n, n)
  }
}
