package graft

/** String literals for the mains' hand-built JSON output. */
private[graft] object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab in an oracle's SQL text or a quote in a data
    * path would otherwise make a reader's json.load fail on the whole
    * document. */
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
