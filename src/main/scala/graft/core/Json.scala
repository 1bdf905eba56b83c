package graft.core

/** The one JSON string writer for graft's hand-built documents (event
  * lines, REST replies, the oracle SQL map, the python worker protocol,
  * graft-ctl requests, Bench's error list).
  */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character escaped, so a multi-line error message stays one valid
    * value.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
