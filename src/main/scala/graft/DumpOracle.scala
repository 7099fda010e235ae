package graft
import java.nio.file.{Files, Paths}
import graft.core.Util.jsonString
/** Write oracle_sql.json alone (no query execution) — lets an
  * incremental oracle sweep start checking completed Verify dumps
  * before the full engine pass finishes. Same escaping as Verify. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    new java.io.File(outDir).mkdirs()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
