package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*_ONLY` query filter: a typo must fail by name
  * instead of selecting nothing and reading as a clean, fast run.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("an unset filter selects every query") {
    assert(SparkEntry.selectQueries(None).keySet == SparkEntry.queries.keySet)
  }

  test("known names select exactly those queries, spaces and empty items ignored") {
    val picked = SparkEntry.selectQueries(Some(" billing_invoice,,k1_state_machine "))
    assert(picked.keySet == Set("billing_invoice", "k1_state_machine"))
  }

  test("unknown names fail, listing every one of them") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("billing_invoice,k1_state_machin,zz_nope")))
    assert(e.getMessage.contains("k1_state_machin, zz_nope"), e.getMessage)
    assert(!e.getMessage.contains("billing_invoice"), e.getMessage)
  }

  test("a list that names no query fails") {
    intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(" , ")))
  }
}
