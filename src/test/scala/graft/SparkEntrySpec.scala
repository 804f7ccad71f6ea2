package graft

/** The `SparkEntry` contract: every query has its DuckDB oracle and
  * every oracle has its query, and the flagship entry returns rows. */
class SparkEntrySpec extends SparkSpec {

  test("every query has exactly one oracle and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // the driver surface is the validator's 12 queries and no other
    assert(SparkEntry.queries.keySet == Set("v_violations", "v_verdict",
      "v_stats", "v_import", "v_docjson", "v_docjson_varcol",
      "v_unique", "v_ri", "v_drift", "v_window", "v_tokdrift", "v_tdigest"))
  }

  test("entry returns verdict rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
