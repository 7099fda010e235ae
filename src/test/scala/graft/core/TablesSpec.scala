package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** [[Tables.table]]'s parquet schema memo: a repeat read infers nothing
  * (no job), and a file rewritten at the same path is read with its new
  * schema. [[Tables.registerAll]]: a dropped view is re-bound, and the
  * memos survive a bench reset of an unrelated query.
  * [[Tables.rowCount]]: a footer count equal to `count()`, with no job,
  * no memo and a `count()` fallback for directories. */
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

  test("registerAll re-binds a dropped fixture view without force") {
    Tables.registerAll(spark, sfDir)
    spark.catalog.dropTempView("nation")
    Tables.registerAll(spark, sfDir)
    assert(spark.catalog.tableExists("nation"))
    assert(spark.table("nation").count() ==
      Tables.table(spark, sfDir, "nation").count())
  }

  test("benchReset of a query that pays for no memo keeps the schema and " +
    "view memos: repeat reads and registerAll run 0 jobs") {
    Tables.table(spark, sfDir, "orders")
    Tables.registerAll(spark, sfDir)
    val view = spark.sessionState.catalog.getRawTempView("orders")
    graft.SparkEntry.benchReset("a3_value_counts")
    val (_, _, readJobs) = Util.jobsIn(spark, "read") {
      Tables.table(spark, sfDir, "orders")
    }
    val (_, _, registerJobs) = Util.jobsIn(spark, "register") {
      Tables.registerAll(spark, sfDir)
    }
    assert(readJobs == 0 && registerJobs == 0)
    // not re-bound: the same view plan object
    assert(spark.sessionState.catalog.getRawTempView("orders").get eq
      view.get)
  }

  test("rowCount equals count() on all 10 tables at sf0.001 and sf0.01, " +
    "and runs no job") {
    for (sf <- Seq("sf0.001", "sf0.01"); name <- Tables.names) {
      val dir = sfDir.stripSuffix("sf0.001") + sf
      val (n, _, jobs) = Util.jobsIn(spark, "rowCount") {
        Tables.rowCount(spark, dir, name)
      }
      assert(jobs == 0, s"$sf/$name: rowCount ran $jobs jobs")
      assert(n == Tables.table(spark, dir, name).count(), s"$sf/$name")
    }
  }

  test("rowCount falls back to count() on a Spark-written directory, and " +
    "counts a file rewritten in place afresh") {
    val dir = Files.createTempDirectory("graft_rowcount")
    try {
      spark.range(37).toDF("doc_id").repartition(3)
        .write.parquet(dir.resolve("parts.parquet").toString)
      val (parts, _, jobs) = Util.jobsIn(spark, "rowCountDir") {
        Tables.rowCount(spark, dir.toString, "parts")
      }
      assert(parts == 37L)
      assert(jobs >= 1, "a directory is counted by a job")
      val path = dir.resolve("documents.parquet")
      Files.copy(Paths.get(s"$sfDir/documents.parquet"), path)
      assert(Tables.rowCount(spark, dir.toString, "documents") ==
        Tables.rowCount(spark, sfDir, "documents"))
      Files.copy(Paths.get(s"$sfDir/region.parquet"), path,
        StandardCopyOption.REPLACE_EXISTING)
      assert(Tables.rowCount(spark, dir.toString, "documents") ==
        spark.read.parquet(s"$sfDir/region.parquet").count())
    } finally Util.deleteRecursively(dir)
  }
}
