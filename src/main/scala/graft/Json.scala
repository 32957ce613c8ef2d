package graft

object Json {
  /** JSON string literal: quoted, with backslash, quote and ALL control
    * chars (< 0x20) escaped. A tab or CR in builder-authored SQL left
    * raw would make the reader's json.load of Verify's oracle_sql.json
    * fail and silently zero the correctness read; Bench's result lines
    * carry error messages with the same hazard. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
