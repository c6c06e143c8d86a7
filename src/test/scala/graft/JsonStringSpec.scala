package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared JSON string writer against the per-character escaper the
  * HTTP responses used before it: byte-for-byte the same literal, and a
  * literal that a standard JSON parser reads back to the input. */
class JsonStringSpec extends AnyFunSuite {

  /** The earlier escaper, kept here as the reference output. */
  private def reference(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val mapper = new ObjectMapper()

  private def check(s: String): Unit = {
    val q = JsonString.quote(s)
    assert(q == reference(s))
    assert(mapper.readValue(q, classOf[String]) == s)
  }

  test("every ASCII char, alone and in one string, matches the reference and parses back") {
    (0 until 0x80).foreach(c => check(c.toChar.toString))
    check((0 until 0x80).map(_.toChar).mkString)
    check("a\"b\\c\u0001d\u001fe\u007ff")
    check("")
  }

  test("surrogate pairs and U+2028 pass through unchanged") {
    val clef = "\uD834\uDD1E" // U+1D11E, one surrogate pair
    check(clef)
    check(s"x${clef}y\u2028z\u2029")
    assert(JsonString.quote("\u2028") == "\"\u2028\"")
  }

  test("a 2 MB base64 body matches the reference and parses back") {
    val bytes = new Array[Byte](3 * 1024 * 1024 / 2)
    new scala.util.Random(7).nextBytes(bytes)
    val b64 = java.util.Base64.getEncoder.encodeToString(bytes)
    assert(b64.length == 2 * 1024 * 1024)
    check(b64)
    check("\n" + b64 + "\t")
  }

  test("appendQuoted appends after existing content") {
    val sb = new java.lang.StringBuilder("{\"k\":")
    JsonString.appendQuoted(sb, "v\n").append('}')
    assert(sb.toString == "{\"k\":\"v\\n\"}")
  }
}
