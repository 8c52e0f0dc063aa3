package graft

/** JSON output helpers for the harness mains. */
object Json {
  /** `s` as a quoted JSON string literal. Escapes the quote, the backslash
    * and every control character below U+0020: one unescaped tab or CR in
    * an oracle SQL string makes `oracle_sql.json` unreadable, and the
    * oracle compare then checks nothing. */
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}
