package graft

/** JSON string literals for the one-line artifacts the mains write
  * (Verify's oracle dump, Bench's result line).
  */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a raw tab, CR or newline in builder-authored
    * SQL or error text would otherwise make a reader's JSON parse fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
