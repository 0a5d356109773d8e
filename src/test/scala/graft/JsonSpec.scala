package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared JSON string escaper: every value the hand-written
  * artifacts embed must parse back, through a real JSON parser, to the
  * same string. */
class JsonSpec extends AnyFunSuite {

  test("jstr round-trips quotes, backslashes and control characters") {
    val mapper = new ObjectMapper()
    for (v <- Seq("plain", "say \"hi\"", "C:\\tmp\\x", "two\nlines\r\n",
                  "tab\there", "\u001b[31mred\u001b[0m", "\f\u0000\u001f",
                  "", "ünïcode ✓")) {
      val parsed = mapper.readTree(s"""{"k":${Json.jstr(v)}}""")
      assert(parsed.get("k").asText == v, s"value ${v.map(_.toInt)}")
    }
  }
}
