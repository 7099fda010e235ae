package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior of [[Tables.fanOut]]'s routing (r20): fan out ONLY a frame
  * whose parallelism is pinned by an unsplittable scan — a bare scan (±
  * filter/project) of a one-split input. Frames that already shuffle
  * upstream (join, aggregate, window, distinct, repartition) are
  * returned untouched: the exchange there buys no parallelism, only a
  * pass (measured r19→r20: fanning the curation pipeline's post-join
  * frames cost llm_curation_pipeline 1.64→2.35 s idle while every
  * bare-scan site held its win). */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def fanned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("RepartitionByExpression")

  test("bare one-split scan (± filter) is fanned out") {
    assert(fanned(Tables.fanOut(docs, col("doc_id"))))
    assert(fanned(Tables.fanOut(
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
      col("doc_id"))))
  }

  test("one-split scan + sortWithinPartitions is fanned to shuffle.partitions") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val out = Tables.fanOut(docs.sortWithinPartitions("doc_id"), col("doc_id"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(out.queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r.numPartitions
    } == Seq(n))
  }

  test("post-join / post-aggregate / post-distinct frames are NOT fanned") {
    val ids = docs.select(col("doc_id"))
    val joined = docs.join(ids, Seq("doc_id"), "left_semi")
    assert(!fanned(Tables.fanOut(joined, col("doc_id"))))
    val agged = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
    assert(!fanned(Tables.fanOut(agged, col("doc_id"))))
    val dedup = docs.select("doc_id", "text").dropDuplicates("text")
    assert(!fanned(Tables.fanOut(dedup, col("doc_id"))))
  }

  test("already-repartitioned frame is not fanned again") {
    val once = Tables.fanOut(docs, col("doc_id"))
    assert(fanned(once))
    val twice = Tables.fanOut(once, col("doc_id"))
    // exactly one RepartitionByExpression in the plan
    assert("RepartitionByExpression".r
      .findAllIn(twice.queryExecution.analyzed.toString).size == 1)
  }

  test("local (non-file) and streaming-shaped frames are untouched") {
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(!fanned(Tables.fanOut(local, col("doc_id"))))
  }
}
