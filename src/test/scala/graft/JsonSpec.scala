package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("Json.escape round-trips quote, backslash and control characters through Jackson") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    val escaped = Json.escape(raw)
    assert(escaped == "a\\\"b\\\\c\\nd\\re\\tf\\u0001g")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val back = mapper.readTree(s"""{"${Json.escape("k\t")}": "$escaped"}""")
    assert(back.get("k\t").asText() == raw)
  }
}
