package graft

/** Minimal JSON string escaping shared by Verify, OracleDump and Bench.
  * Escapes backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load fail and
  * silently zero the round's correctness.
  */
object JsonUtil {
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
