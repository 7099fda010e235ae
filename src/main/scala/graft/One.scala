package graft

/** Dev harness: dump ONE query's result + its oracle SQL in the Verify
  * layout, so `tools/check_oracle.py <out> <sfDir>` can gate a single
  * query during iteration (full Verify runs every query, ~2 min). Prints
  * one stderr line with the seconds and Spark jobs of the query's body
  * (building the frame, eager actions included) and of its action (the
  * parquet write), each phase counted under its own job group. */
object One {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = core.Tables.session("graft-one",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val (df, bodyS, bodyJobs) = core.Util.jobsIn(spark, "body") {
      SparkEntry.queries(name)(spark, sfDir)
    }
    val (_, actionS, actionJobs) = core.Util.jobsIn(spark, "action") {
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    System.err.println(f"graft.One $name body_s=$bodyS%.3f " +
      f"body_jobs=$bodyJobs action_s=$actionS%.3f action_jobs=$actionJobs")
    Verify.writeOracleSql(outDir, SparkEntry.oracleSql.get(name).map(name -> _))
    spark.stop()
  }
}
