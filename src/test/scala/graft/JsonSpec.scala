package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Json.str]]: a standard JSON parser reads every output back to
  * the exact input string, control characters and non-ASCII included. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def roundTrip(s: String): String = mapper.readTree(Json.str(s)).textValue()

  test("quote, backslash and control characters round-trip through Jackson") {
    Seq("\"", "\\", "\n", "\r", "\t", "\u0001", "a\"b\\c\nd\re\tf\u0001g\u001f")
      .foreach(s => assert(roundTrip(s) === s, s"escaped as ${Json.str(s)}"))
  }

  test("every char below 0x20 is escaped, never emitted raw") {
    val all = (0 until 0x20).map(_.toChar).mkString
    val out = Json.str(all)
    assert(!out.exists(_ < ' '), out)
    assert(roundTrip(all) === all)
  }

  test("non-ASCII passes through verbatim") {
    val s = "µs — Übergrößenträger 北京 😀"
    assert(Json.str(s) === "\"" + s + "\"")
    assert(roundTrip(s) === s)
  }

  test("an object built from Json.str keys and values parses back") {
    val sql = "SELECT 'a\tb'\nFROM \"t\" -- \\"
    val node = mapper.readTree(s"{${Json.str("q_x")}: ${Json.str(sql)}}")
    assert(node.get("q_x").textValue() === sql)
  }
}
