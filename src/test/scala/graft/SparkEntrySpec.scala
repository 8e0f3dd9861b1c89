package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing: unset takes the caller's default, anything
  * but a positive integer fails naming the variable. `SPARK_GRAFT_ONLY`
  * parsing: unset selects everything, a name outside the registry fails
  * naming it. */
class SparkEntrySpec extends AnyFunSuite {
  import SparkEntry.{CpusVar, OnlyVar, parseCpus, parseOnly}

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

  private val known = Set("q1_agg", "q3_join", "llm_bpe_train")

  test("SPARK_GRAFT_ONLY: unset selects everything; listed names are trimmed") {
    assert(parseOnly(Map.empty, known).isEmpty)
    assert(parseOnly(Map(OnlyVar -> "q1_agg"), known).contains(Set("q1_agg")))
    assert(parseOnly(Map(OnlyVar -> " q1_agg , q3_join,"), known)
      .contains(Set("q1_agg", "q3_join")))
  }

  test("SPARK_GRAFT_ONLY: an unknown name or an empty list fails naming it") {
    val e = intercept[IllegalArgumentException](
      parseOnly(Map(OnlyVar -> "q1_agg,q3_jion"), known))
    assert(e.getMessage.contains(OnlyVar) && e.getMessage.contains("q3_jion"))
    assert(!e.getMessage.contains("q1_agg"))
    for (v <- Seq("", " , ")) {
      val e = intercept[IllegalArgumentException](parseOnly(Map(OnlyVar -> v), known))
      assert(e.getMessage.contains(OnlyVar), v)
    }
  }

  test("SPARK_GRAFT_ONLY is checked against the registry") {
    val all = SparkEntry.queries.keySet
    assert(parseOnly(Map(OnlyVar -> "q1_agg,llm_sgns_train"), all)
      .contains(Set("q1_agg", "llm_sgns_train")))
    intercept[IllegalArgumentException](parseOnly(Map(OnlyVar -> "q1_agg,no_such_query"), all))
  }
}
