package graftbench

/** The reductions the benchmark reports: medians, and quartiles computed
  * like Python's `statistics.quantiles(xs, n=4)` (the exclusive method).
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First, second and third quartile. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two values")
    val s = xs.sorted
    val m = s.size + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.size - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }
}
