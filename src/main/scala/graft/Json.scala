package graft

/** String literals and objects for the mains' JSON output. */
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

  /** A JSON object of `fields`: keys escaped through [[str]], values
    * already rendered JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
