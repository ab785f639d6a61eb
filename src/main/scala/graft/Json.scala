package graft

/** JSON output helpers shared by the mains that write JSON by hand. */
object Json {

  /** `s` as a JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — `\n \r \t` by name, the rest as `\u00XX`. A raw
    * control char (Spark error messages embed plans; oracle SQL carries
    * newlines and tabs) would make the document invalid JSON. */
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
