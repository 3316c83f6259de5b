package perfbench

import scala.collection.mutable

/** The result line the benchmark prints last. Numbers are written with
  * Double.toString / Long.toString, which ignore the default locale, so a
  * comma-decimal locale can never corrupt the line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append("\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value is not finite: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }

  /** ordered name -> (value, unit) */
  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
    def render: String = m.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}"""
    }.mkString("{", ",", "}")
  }

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metrics.render}}"""
}
