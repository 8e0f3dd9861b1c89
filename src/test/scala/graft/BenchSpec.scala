package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's `"errors"` object must stay valid JSON whatever an error message
  * holds, and keep its one-line flattening of newlines and tabs. */
class BenchSpec extends AnyFunSuite {
  test("an errors map holding control characters parses back with Jackson") {
    val msgs = Seq(
      "q_a" -> "bad \u0001 byte",
      "q_b" -> "ansi \u001b[31mred\u001b[0m \"quoted\" back\\slash",
      "q_c" -> "two\nlines\r\tand a tab")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.errorsJson(msgs))
    assert(root.size == 3)
    assert(root.get("q_a").asText == "bad \u0001 byte")
    assert(root.get("q_b").asText == "ansi \u001b[31mred\u001b[0m \"quoted\" back\\slash")
    assert(root.get("q_c").asText == "two lines  and a tab")
  }

  test("a message without control characters is written as before") {
    assert(Bench.errorsJson(Seq("q" -> "a \"b\" c\\d\ne")) ==
      "{\"q\":\"a \\\"b\\\" c\\\\d e\"}")
  }
}
