package perfbench

/** Order statistics and the result line's JSON. */
object Stats {

  /** Linear-interpolated quantile (the "R-7" rule), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The `q` percentile, reported only when at least `minBeyond`
    * samples lie above it — a tail figure resting on fewer samples is
    * noise, not a measurement. */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.size * (1 - q) < minBeyond - 1e-9) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
