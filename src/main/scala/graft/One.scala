package graft

/** Dev harness: dump ONE query's result + its oracle SQL in the Verify
  * layout, so `tools/check_oracle.py <out> <sfDir>` can gate a single
  * query during iteration (full Verify runs every query, ~2 min). */
object One {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = core.Tables.session("graft-one",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    Verify.writeOracleSql(outDir, SparkEntry.oracleSql.get(name).map(name -> _))
    spark.stop()
  }
}
