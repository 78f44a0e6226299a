package graft

/** The one JSON writer helper the mains share. */
object Json {

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character below 0x20 escaped, everything else verbatim. A raw tab
    * or CR in builder-authored SQL would otherwise make a consumer's
    * JSON parser reject the whole file. */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
