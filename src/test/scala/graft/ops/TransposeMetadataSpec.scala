package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** p15/s19 pins: Dataset.transpose semantics on a bounded aggregate
  * frame, and the _metadata file-provenance columns' split-invariance
  * (row_index is a position WITHIN its file, so its per-file sum is
  * n(n−1)/2 no matter how the scan is split across tasks).
  */
class TransposeMetadataSpec extends SparkSpec {
  import spark.implicits._

  test("transpose: index values become columns, metric rows survive") {
    val agg = Seq(("a", 1.0, 10.0), ("b", 2.0, 20.0), ("c", 3.0, 30.0))
      .toDF("k", "m1", "m2")
    val t = agg.transpose(col("k"))
    assert(t.columns.toSeq == Seq("key", "a", "b", "c"))
    val rows = t.collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows("m1") == ((1.0, 2.0, 3.0)))
    assert(rows("m2") == ((10.0, 20.0, 30.0)))
  }

  test("transpose result is driver-local: no exchange in its plan") {
    val agg = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "m")
    val t = agg.transpose(col("k"))
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("_metadata.row_index sum is split-invariant; file_name real") {
    val dir = graft.core.Util.scratchDir("meta").toString
    // two files of known sizes: 100 and 50 rows
    spark.range(100).withColumn("f", lit(0))
      .union(spark.range(50).withColumn("f", lit(1)))
      .repartition(2, col("f"))
      .write.mode("overwrite").partitionBy("f").parquet(dir)
    def probe(key: String) = spark.read.parquet(dir)
      .select(col(s"_metadata.$key").as("k"),
        col("_metadata.row_index").as("ri"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("ri").as("s"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val expect = Set((100L, 100L * 99 / 2), (50L, 50L * 49 / 2))
    assert(probe("file_path") == expect)
    // file_name is the BASENAME only — one task writing both partition
    // directories reuses its part-file name, so name-keyed grouping
    // MERGES the two files. Provenance joins must key on file_path.
    assert(probe("file_name") == Set((150L, 6175L)))
    // shrink split size so each file is read as MANY tasks — per-file
    // row_index must still enumerate 0..n−1 exactly once
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      assert(probe("file_path") == expect)
    } finally spark.conf.set(key, prev)
  }
}
