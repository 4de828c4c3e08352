package graft.core

/** The one JSON string quoter of the harness outputs (Bench's line,
  * Verify's `oracle_sql.json` / `errors.json`, CodegenAudit's lines).
  * Escapes backslash, quote and ALL control chars (< 0x20): a tab or CR
  * in an oracle SQL string, or a stray quote in a future query name,
  * would otherwise emit invalid JSON and break the consumer's parse.
  */
object Json {
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
