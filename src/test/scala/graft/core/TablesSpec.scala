package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** [[Tables.table]]'s parquet schema memo: a repeat read infers nothing
  * (no job), and a file rewritten at the same path is read with its new
  * schema. */
class TablesSpec extends SparkSpec {

  test("table: a second read runs 0 jobs; a rewrite at the same path " +
    "is read with its new schema") {
    val dir = Files.createTempDirectory("graft_tables")
    try {
      val path = dir.resolve("documents.parquet")
      Files.copy(Paths.get(s"$sfDir/documents.parquet"), path)
      val (cold, _, coldJobs) = Util.jobsIn(spark, "cold") {
        Tables.table(spark, dir.toString, "documents")
      }
      val (warm, _, warmJobs) = Util.jobsIn(spark, "warm") {
        Tables.table(spark, dir.toString, "documents")
      }
      assert(coldJobs >= 1, "the first read infers the schema with a job")
      assert(warmJobs == 0)
      assert(warm.schema == cold.schema)
      assert(warm.count() == cold.count())
      Files.copy(Paths.get(s"$sfDir/region.parquet"), path,
        StandardCopyOption.REPLACE_EXISTING)
      val rewritten = Tables.table(spark, dir.toString, "documents")
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      assert(rewritten.schema == region.schema)
      assert(rewritten.schema != cold.schema)
      assert(rewritten.count() == region.count())
    } finally Util.deleteRecursively(dir)
  }
}
