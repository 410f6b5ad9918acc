package graft

/** One JSON string-escaper for every main that hand-emits JSON (Bench
  * detail forensics, CkptDrill error legs, Verify's oracle_sql.json).
  * Divergent inline replace-chains, each missing a different control
  * character, were consolidated here (BENCH_NOTES "r17 review pass:
  * the drill's own validity hardened") — a message containing e.g. an
  * ANSI escape would have made the very file written for failure
  * forensics unparseable. */
object JsonOut {
  /** `s` as a quoted JSON string literal: backslash, quote, and EVERY
    * control character below 0x20 escaped (\n\r\t named, the rest as
    * \u00XX). */
  def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    b.append('"')
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
    b.toString
  }
}
