package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSelectSpec extends AnyFunSuite {
  private val all = Seq("q4_lineitem", "q40_events", "q41_docs", "q1_agg")

  test("SPARK_GRAFT_BENCH_ONLY selects exact names, never prefixes") {
    assert(Bench.selectQueries(Some("q4_lineitem"), all) == Seq("q4_lineitem"))
    assert(Bench.selectQueries(Some(" q41_docs , q1_agg "), all) == Seq("q1_agg", "q41_docs"))
    assert(Bench.selectQueries(None, all) == all.sorted)
  }

  test("a name that is no query fails instead of timing nothing") {
    val e = intercept[IllegalArgumentException](Bench.selectQueries(Some("q4"), all))
    assert(e.getMessage.contains("q4"))
  }
}
