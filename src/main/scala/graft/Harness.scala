package graft

/** Small helpers shared by the driver-facing entrypoints (Bench,
  * Verify, tools) — one definition so the JSON-escaping and cleanup
  * contracts cannot drift between the sibling artifact writers. */
object Harness {

  /** JSON string literal (quoted): backslash, quote, and ALL control
    * chars (<0x20) escaped — a tab or CR in an embedded path or
    * builder-authored SQL would otherwise make the driver's
    * `json.load` fail and silently zero the round's artifact. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A comma-separated name list, each name trimmed, empties dropped:
    * "q34, q92" selects q92 and a trailing comma never injects a blank
    * name. */
  def names(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Recursive delete of a scratch dir (best-effort; does not follow
    * anything listFiles does not surface). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
