package perfbench

import scala.collection.mutable

/** Order statistics and the small JSON writer the benchmark reports with. */
object Stats {

  /** Linear-interpolated quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x

  /** A metric value with its unit, in report order. */
  final case class Metric(value: Double, unit: String)

  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, Metric]
    def put(name: String, value: Double, unit: String): Unit = m(name) = Metric(value, unit)
    def toSeq: Seq[(String, Metric)] = m.toSeq
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def jsonNumber(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  /** Minimal JSON for the report: String, numbers, Boolean, Seq, Map, Metric. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => jsonNumber(d)
    case Metric(value, unit) => s"""{"value":${jsonNumber(value)},"unit":${jsonString(unit)}}"""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${jsonString(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => jsonString(other.toString)
  }
}
