package lshbench

object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The tail latency: the sample with [[TailBeyond]] samples above it,
    * i.e. the highest percentile that still has that many samples beyond
    * it. Never reported below the median; with too few samples it is the
    * median. Returns (value, percentile, sample count). */
  val TailBeyond = 10
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 2 * TailBeyond) (median(xs), 50.0, n)
    else {
      val s = xs.sorted
      (s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n)
    }
  }
}

/** Just enough JSON writing for the benchmark's outputs. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
