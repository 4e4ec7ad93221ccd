package graft.util

/** JSON string literal for the harness outputs (oracle_sql.json, Bench
  * and QBench error fields). */
object Json {

  /** Quotes `s`, escaping backslash, quote and ALL control chars
    * (< 0x20): a tab or CR in builder-authored SQL, or any control char
    * in an exception message, would otherwise make the whole document
    * unparsable. */
  def string(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
