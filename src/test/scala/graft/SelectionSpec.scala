package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.select]], the `SPARK_GRAFT_ONLY` parser Bench and Verify share:
  * entries are trimmed, and a list that names an unknown gate fails before
  * any work instead of quietly selecting nothing.
  */
class SelectionSpec extends AnyFunSuite {
  private val gates = SparkEntry.queries.keySet

  test("unset selects every gate") {
    assert(Bench.select(None, gates).isEmpty)
  }

  test("a list with spaces selects exactly the named gates") {
    val got = Bench.select(Some(" q01_pricing_summary , dedup_minhash,graph_kcore "), gates)
    assert(got.contains(Set("q01_pricing_summary", "dedup_minhash", "graph_kcore")))
  }

  test("an unknown name throws and is named in the message") {
    val e = intercept[IllegalArgumentException](
      Bench.select(Some("q01_pricing_summary,q01"), gates))
    assert(e.getMessage.contains("q01") && !e.getMessage.contains("q01_pricing_summary"))
  }

  test("a list naming nothing throws") {
    intercept[IllegalArgumentException](Bench.select(Some(" , "), gates))
  }
}
