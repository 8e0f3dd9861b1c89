package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing: unset takes the caller's default, anything
  * but a positive integer fails naming the variable. */
class SparkEntrySpec extends AnyFunSuite {
  import SparkEntry.{CpusVar, parseCpus}

  test("unset takes the caller's default; a positive integer is used as is") {
    assert(parseCpus(Map.empty, 4) == 4)
    assert(parseCpus(Map("OTHER" -> "9"), 32) == 32)
    assert(parseCpus(Map(CpusVar -> "8"), 4) == 8)
    assert(parseCpus(Map(CpusVar -> " 32 "), 4) == 32)
    assert(parseCpus(Map(CpusVar -> "1"), 32) == 1)
  }

  test("empty, malformed, zero and negative values fail naming the variable") {
    for (v <- Seq("", "  ", "eight", "4.5", "4 cores", "0", "-3")) {
      val e = intercept[IllegalArgumentException](parseCpus(Map(CpusVar -> v), 4))
      assert(e.getMessage.contains(CpusVar), v)
      assert(e.getMessage.contains(s"'$v'"), v)
    }
  }
}
