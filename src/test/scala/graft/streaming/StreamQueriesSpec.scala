package graft.streaming

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec}
import graft.core.Util
import org.apache.spark.sql.functions._

/** The harness the st* queries share: [[SparkEntry.fixtureStream]],
  * [[SparkEntry.drain]] and [[Util.scratchDir]]. Every query leaves no
  * temp view, no active stream and no per-call scratch dir behind, a
  * failing drain rethrows without leaking its view, and a warm fixture
  * stream starts without a job. */
class StreamQueriesSpec extends SparkSpec {

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  private def scratchEntries: Set[String] = {
    val ls = java.nio.file.Files.list(Util.scratchRoot)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  test("every st* query runs once and leaves no view, stream or " +
    "per-call scratch dir") {
    val st = SparkEntry.queries.keys.filter(_.matches("st\\d+_.*"))
      .toSeq.sorted
    assert(st.size == 20)
    val views0 = tempViews
    val dirs0 = scratchEntries
    st.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    assert(tempViews == views0)
    assert(spark.streams.active.isEmpty)
    // what stays until exit: the memoized fixture links and st10 topic
    // copy, and st12's checkpoint (its result reads it lazily); no other
    // per-call dir may stay (st3 streams through the memoized link, st9
    // and st20 delete theirs before returning)
    val added = scratchEntries -- dirs0
    assert(added.forall(n => Seq("fixture_", "st10_", "st12_ckpt_")
      .exists(n.startsWith)), added)
    assert(added.count(_.startsWith("st12_ckpt_")) == 1, added)
  }

  test("drain: a transform that throws inside the stream rethrows, leaves " +
    "no view and restores the shuffle conf") {
    val boom = udf((id: Long) =>
      if (id >= 0) throw new IllegalStateException("boom") else id)
    val views0 = tempViews
    Util.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "3")) {
      val e = intercept[Exception] {
        SparkEntry.drain(spark, "boom",
          SparkEntry.fixtureStream(spark, sfDir, "documents")
            .select(boom(col("doc_id")).as("x")), "append")(identity)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    }
    assert(tempViews == views0)
    assert(spark.streams.active.isEmpty)
  }

  test("fixtureStream on a warm session runs 0 jobs and reuses its link " +
    "dir") {
    SparkEntry.fixtureStream(spark, sfDir, "events")
    val dirs0 = scratchEntries
    val (stream, _, jobs) = Util.jobsIn(spark, "warm-fixture") {
      SparkEntry.fixtureStream(spark, sfDir, "events")
    }
    assert(jobs == 0)
    assert(stream.isStreaming)
    assert(stream.schema ==
      spark.read.parquet(s"$sfDir/events.parquet").schema)
    assert(scratchEntries == dirs0)
  }
}
