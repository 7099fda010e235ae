package graft

/** The driver smoke-checks SparkEntry.entry(spark) for rows>0 — this spec
  * is the same check, run before every commit — and the query registry
  * pairs every `queries` entry with an `oracleSql` entry (a query with no
  * oracle would only print "no oracle" in tools/check_oracle.py). */
class EntrySpec extends SparkSpec {
  test("entry: flagship cluster-stats pipeline returns rows on sf0.001") {
    val out = SparkEntry.entry(spark)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(out.columns.contains("cluster") && out.columns.contains("n"))
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("every registered query has an oracle, and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"no oracle: ${q -- o}; no query: ${o -- q}")
  }
}
