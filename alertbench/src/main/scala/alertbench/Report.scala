package alertbench

import scala.collection.mutable

/** What one run measured: metrics by name with unit, the operation counts,
  * and any verification problems. Printed as one JSON line. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]() // raw JSON values
  val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, json: String): Unit = info(name) = json
  def problem(p: String): Unit = if (problems.size < 40) problems += p

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Report.q(k)}:{\"value\":${Report.num(v)},\"unit\":${Report.q(u)}}"
    }.mkString(",")
    val inf = info.map { case (k, v) => s"${Report.q(k)}:$v" }.mkString(",")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms},"info":{$inf},"problems":[${problems.map(Report.q).mkString(",")}]}"""
  }
}

object Report {
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  /** Quantile by linear interpolation between order statistics
    * (position (n-1)·p), the common "type 7" definition. */
  def quantile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}
