package graft
/** Write oracle_sql.json alone (no query execution) — lets an
  * incremental oracle sweep start checking completed Verify dumps
  * before the full engine pass finishes. Same writer as Verify. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    new java.io.File(outDir).mkdirs()
    Verify.writeOracleSql(outDir, SparkEntry.oracleSql)
  }
}
