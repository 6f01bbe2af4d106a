package perfbench

object Stats {
  /** NaN when there is nothing to take the median of (every op failed). */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples, as (value, percentile). With ten or
    * fewer samples no such percentile exists and the maximum is reported at
    * percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0) else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

object Json {
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    java.lang.Double.toString(d)
  }
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
