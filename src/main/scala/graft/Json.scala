package graft

/** The one JSON writer behind the artifacts. Exception messages carry
  * newlines, backslashes and occasionally other control characters
  * (ESC, \f), and the oracle SQL may carry tabs: every one of them is
  * escaped, so any value parses back to itself. */
object Json {

  /** `v` as a quoted JSON string literal. */
  def jstr(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `v` as JSON: a map an object in its own order, an iterable an
    * array, a double to the millisecond. */
  def render(v: Any): String = v match {
    case s: String => jstr(s)
    case d: Double => "%.3f".formatLocal(java.util.Locale.ROOT, d)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }
}
