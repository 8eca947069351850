package graft

/** The one JSON string escaper behind the hand-written JSON documents
  * (Verify's oracle_sql.json, Bench's artifact lines, StatusServer's
  * responses, ConfigJson.maintenanceJson). */
object Json {
  /** Body of a JSON string literal, without the surrounding quotes:
    * quote, backslash, \n, \r and \t by name, every other control
    * character as \u00XX — a raw tab or CR would make json.load fail. */
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
