package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONTROL_SHUFFLE` parsing: unset takes the default, anything
  * but a positive integer fails naming the variable. */
class TuningSpec extends AnyFunSuite {
  import Tuning.{ControlShuffleVar, parseControlShuffle}

  test("unset takes the default width 4; a positive integer is used as is") {
    assert(parseControlShuffle(Map.empty) == 4)
    assert(parseControlShuffle(Map("OTHER" -> "9")) == 4)
    assert(parseControlShuffle(Map(ControlShuffleVar -> "8")) == 8)
    assert(parseControlShuffle(Map(ControlShuffleVar -> "1")) == 1)
  }

  test("malformed, zero and negative values fail naming the variable") {
    for (v <- Seq("eight", "", "4.5", "0", "-3")) {
      val e = intercept[IllegalArgumentException](
        parseControlShuffle(Map(ControlShuffleVar -> v)))
      assert(e.getMessage.contains(ControlShuffleVar), v)
      assert(e.getMessage.contains(s"'$v'"), v)
    }
  }
}
