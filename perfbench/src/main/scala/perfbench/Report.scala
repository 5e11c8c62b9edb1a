package perfbench

import scala.collection.mutable

object Json {
  /** A finite number with all its digits (NaN/∞ have no JSON form). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val m = s.length
    if (m % 2 == 1) s(m / 2) else (s(m / 2 - 1) + s(m / 2)) / 2.0
  }

  /** The highest percentile that leaves at least `beyond` samples above
    * it: (percentile, value), or None when there are too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val idx = n - beyond - 1
      Some((100.0 * (idx + 1) / n, s(idx)))
    }
  }
}

/** Named metrics with units, printed one per line and as the final JSON. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String, note: String = ""): Unit = {
    values(name) = (value, unit)
    if (note.nonEmpty) notes(name) = note
  }

  def names: Seq[String] = values.keys.toSeq

  def printLines(out: java.io.PrintStream): Unit =
    values.foreach { case (k, (v, u)) =>
      out.println(f"$k%-44s ${Json.num(v)}%s $u%s${notes.get(k).map(" (" + _ + ")").getOrElse("")}")
    }

  def json(only: Seq[String]): String =
    only.map { k =>
      val (v, u) = values(k)
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
}
