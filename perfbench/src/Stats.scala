package perfbench

object Stats {
  /** Linear-interpolated quantile, p in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99/p95/p90/p75 that has at least ten samples beyond
    * it, as (percentile, value); the median when there are too few. */
  def tail(xs: Seq[Double]): (Int, Double) =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
      .getOrElse(50 -> median(xs))
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
