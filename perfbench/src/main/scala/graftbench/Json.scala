package graftbench

/** Minimal JSON rendering for the result line and the detail files. */
object Json {
  def render(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN) "null" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity") else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case o: Option[_]         => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_]       => s.map(render).mkString("[", ", ", "]")
    case other                => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** Parses the flat `{"name": "value", ...}` string map the digest file
    * holds.
    */
  def parseStringMap(text: String): Map[String, String] = {
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
