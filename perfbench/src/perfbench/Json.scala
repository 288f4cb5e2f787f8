package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the result file. Non-finite doubles are
  * written as the `NaN` / `Infinity` tokens Python's json module reads.
  */
object Json {
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

  def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isPosInfinity) "Infinity" else if (d.isNegInfinity) "-Infinity"
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  /** A Spark result value. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case n @ (_: Long | _: Int) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case r: Row => arr(r.toSeq.map(value))
    case xs: scala.collection.Seq[_] => arr(xs.map(value))
    case other => str(other.toString)
  }
}
