package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's query selection, without `main` (which stops the shared
  * session) and without a Spark session at all. */
class VerifySpec extends AnyFunSuite {
  test("no subset selects every registered query") {
    assert(Verify.selected(None).map(_._1).toSet == SparkEntry.queries.keySet)
  }

  test("a subset selects exactly the named queries, in the given order") {
    assert(Verify.selected(Some("s1_scan_prune, q1_agg,s1_scan_prune"))
      .map(_._1) == Seq("s1_scan_prune", "q1_agg"))
  }

  test("a subset with unknown names fails and lists every unknown name") {
    val e = intercept[IllegalArgumentException](
      Verify.selected(Some("q1_agg,q1_agq,no_such_query")))
    assert(e.getMessage.contains("unknown query name(s): q1_agq, no_such_query"))
    intercept[IllegalArgumentException](Verify.selected(Some(" , ")))
  }
}
