package graft

/** The `SparkEntry` contract: every query has its DuckDB oracle and
  * every oracle has its query, and the flagship entry returns rows. */
class SparkEntrySpec extends SparkSpec {

  test("every query has exactly one oracle and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("entry returns verdict rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
