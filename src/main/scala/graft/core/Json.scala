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
  def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' =>
          val hex = Integer.toHexString(c)
          b.append("\\u").append("0000", hex.length, 4).append(hex)
        case c => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }
}
