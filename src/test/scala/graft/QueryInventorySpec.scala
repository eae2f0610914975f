package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gated inventory is one list: every declared query has an oracle
  * and every oracle has a query, so retiring a query from only one map
  * fails here instead of surfacing as a missing dump in the oracle gate. */
class QueryInventorySpec extends AnyFunSuite {

  test("every declared query has an oracle entry and every oracle entry a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).toSeq.sorted.isEmpty, "queries without an oracle entry")
    assert((oracles -- queries).toSeq.sorted.isEmpty, "oracle entries without a query")
  }
}
