package graft

/** The one JSON string escaper behind the hand-written artifacts
  * (Bench, ScaleSweep, Verify). Exception messages carry newlines,
  * backslashes and occasionally other control characters (ESC, \f),
  * and the oracle SQL may carry tabs: every one of them is escaped,
  * so any value parses back to itself. */
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
}
