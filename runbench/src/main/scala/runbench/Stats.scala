package runbench

/** Order statistics and the result line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (the exclusive method); a single
    * sample is its own quartiles.
    */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1) return (s(0), s(0))
    def q(i: Int): Double = {
      val m = n + 1
      val j = math.min(math.max(i * m / 4, 1), n - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(3))
  }

  /** "name: median=… q1=… q3=… n=… unit=…" */
  def line(name: String, xs: Seq[Double], unit: String): String = {
    val (q1, q3) = quartiles(xs)
    s"$name: median=${median(xs)} q1=$q1 q3=$q3 n=${xs.size} unit=$unit"
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
