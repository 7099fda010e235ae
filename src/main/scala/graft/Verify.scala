package graft
import java.nio.file.{Files, Paths}
import graft.core.Util.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Write `sqls` (query name → oracle SQL) as `outDir/oracle_sql.json`,
    * the one writer behind Verify, DumpOracle and One. */
  def writeOracleSql(outDir: String, sqls: Iterable[(String, String)]): Unit = {
    val json = sqls
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Tables.session("graft-verify", "4")
    new java.io.File(outDir).mkdirs()
    // local iteration aid, same contract as Bench: the driver leaves it
    // unset → full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }
}
