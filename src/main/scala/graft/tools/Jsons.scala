package graft.tools

/** Minimal JSON string quoting for the bench tools' and `graft.Verify`'s
  * hand-built one-line artifacts. They interpolate file-system paths, query
  * names and oracle SQL into JSON; a quote, backslash or tab there would
  * otherwise corrupt the artifact so the guard, jq or `json.load` can no
  * longer parse it.
  */
object Jsons {
  /** `s` as a quoted JSON string literal (escapes ", \, and control chars). */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
