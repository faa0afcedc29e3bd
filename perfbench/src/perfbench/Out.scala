package perfbench

import scala.collection.mutable

/** Statistics and a minimal JSON writer (the harness emits one result
  * file that `run.py` reads; no JSON library beyond the JDK is needed).
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile that keeps at least ten samples beyond it:
    * the 11th-largest sample, at percentile floor(100·(n−10)/n). Returns
    * (value, percentile, n); with ten samples or fewer, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0, 0)
    else if (n <= 10) (s.last, 100, n)
    else (s(n - 11), (100 * (n - 10)) / n, n)
  }
}

/** Ordered JSON object builder: values are numbers, strings, booleans,
  * nested builders or sequences of those.
  */
final class Json {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = fields(k) = v
  def apply(k: String): Any = fields(k)
  def get(k: String): Option[Any] = fields.get(k)
  def render: String = Json.render(this)
  def keys: Iterable[String] = fields.keys
  private[perfbench] def entries = fields
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case j: Json => j.entries.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
