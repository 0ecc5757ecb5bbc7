package perfbench

/** Minimal JSON writer for the benchmark's two output lines. */
object Json {
  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] =>
      xs.headOption match {
        case Some(_: (_, _)) => obj(xs.toSeq.map { case (k, x) => k.toString -> x })
        case _ => xs.map(value).mkString("[", ", ", "]")
      }
    case (a, b) => value(Seq(a, b))
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  /** The result line: exactly correct, attempted, failed, metrics. */
  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }))
}
