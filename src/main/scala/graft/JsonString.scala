package graft

/** The one JSON string-literal writer every hand-built JSON document in the
  * engine goes through (HTTP responses, the structural output serializer,
  * the sink's sidecar index, the verify and bench artifacts).
  *
  * Escapes `"` and `\`, writes `\n`, `\r` and `\t` short, and every other
  * control character below U+0020 as a lowercase `\u00xx`; all other
  * characters (DEL, U+2028, surrogate pairs) pass through unchanged, which
  * is valid JSON once the text is encoded as UTF-8.
  *
  * One pass over the input: runs of characters that need no escape are
  * copied with a single bulk append, so a base64 image body costs one
  * copy rather than one `String` per character.
  */
object JsonString {

  private val Hex = "0123456789abcdef"

  /** Append `s` to `sb` as a quoted JSON string literal; returns `sb`. */
  def appendQuoted(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    val n = s.length
    sb.ensureCapacity(sb.length + n + 2) // one regrowth for a large body
    sb.append('"')
    var run = 0 // start of the pending unescaped run
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\') {
        sb.append(s, run, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append("\\u00").append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 0xf))
        }
        run = i + 1
      }
      i += 1
    }
    sb.append(s, run, n).append('"')
  }

  /** `s` as a quoted JSON string literal. */
  def quote(s: String): String =
    appendQuoted(new java.lang.StringBuilder, s).toString
}
