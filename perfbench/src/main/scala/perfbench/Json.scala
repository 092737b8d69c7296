package perfbench

/** Minimal JSON writer for the harness's result file (the harness has no
  * JSON library of its own; run.py parses the output). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case r: RawJson => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
}
