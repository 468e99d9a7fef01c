package perfbench

/** Minimal JSON writer for the records the checkers read (numbers,
  * strings, booleans, sequences, maps; no dependency beyond the JDK).
  */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case r: RawJson          => r.json
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Number           => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_]         => apply(a.toSeq)
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
