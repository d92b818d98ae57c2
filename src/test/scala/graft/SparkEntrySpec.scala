package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key inventory, checked without a Spark session: every operator key
  * has its oracle SQL and every oracle names an operator key, and every
  * harness key is an operator key, so a typo in the `harnessKeys` literal
  * cannot silently move a key between Bench's `total_harness` and
  * `total_operators`. */
class SparkEntrySpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keySet

  test("every query has an oracle and every oracle a query") {
    val oracles = SparkEntry.oracleSql.keySet
    assert((keys -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- keys).isEmpty, "oracles without a query")
    assert(keys.size == 238)
  }

  test("every harness key is a query key") {
    assert((SparkEntry.harnessKeys -- keys).isEmpty, "unknown harness keys")
  }
}
