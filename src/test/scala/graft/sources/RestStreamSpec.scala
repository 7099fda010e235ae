package graft.sources

import graft.SparkSpec
import graft.sources.v2.{RestFixture, RestMicroBatchStream, RestOffset, RestRangePartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The REST source's streaming form: record-count offsets over an
  * append-only API. Incremental tailing is proven across a RESTART —
  * the second run resumes from the checkpointed count and emits only
  * the records appended in between. */
class RestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL(
    "id BIGINT, state STRING, prio BIGINT, title STRING")

  // the memory sink can't recover from a checkpoint, so the restart
  // test drains into a parquet sink: the accumulated file contents
  // expose any re-emitted record as a duplicate id
  private def drainOnce(fx: RestFixture.Fixture, ckpt: String,
                        out: String): Seq[Long] = {
    val q = spark.readStream.format("graft.sources.v2.RestSource")
      .schema(schema)
      .option("url", fx.url).option("pageSize", fx.pageSize)
      .option("pagesPerTask", 3).load()
      .select("id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(out).as[Long].collect().toSeq.sorted
  }

  test("tails the API incrementally across checkpointed restarts") {
    val fx = RestFixture.growable(300L, 50)
    val base = graft.core.Util.scratchDir("graft_rest_stream")
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    // first drain: everything available at start (offset lands page-aligned)
    assert(drainOnce(fx, ckpt, out) == (0L until 300L))
    // the API appends 137 records; a RESTARTED query on the same
    // checkpoint must emit ONLY them — a re-emitted old record would
    // surface as a duplicate id in the accumulated sink
    fx.grow(137L)
    assert(drainOnce(fx, ckpt, out) == (0L until 437L))
    // resume from offset 437 — MID-page 8: the reader must re-fetch the
    // partially-consumed page and slice off the already-emitted records
    fx.grow(100L)
    assert(drainOnce(fx, ckpt, out) == (0L until 537L))
    // nothing new → empty batch, not a re-read
    assert(drainOnce(fx, ckpt, out) == (0L until 537L))
  }

  test("micro-batch partitions slice pages to the record range") {
    val ms = new RestMicroBatchStream("http://unused", schema, schema,
      pageSize = 50, pagesPerTask = 4, params = Nil)
    // batch [120, 260): pages 2..5 (inclusive), grouped by 4
    val parts = ms.planInputPartitions(RestOffset(120L), RestOffset(260L))
      .map(_.asInstanceOf[RestRangePartition])
    assert(parts.map(p => (p.startPage, p.endPage)).toSeq == Seq((2L, 6L)))
    assert(parts.forall(p => p.recLo == 120L && p.recHi == 260L))
    // empty batch plans nothing
    assert(ms.planInputPartitions(RestOffset(9L), RestOffset(9L)).isEmpty)
  }

  test("offsets round-trip through json") {
    val ms = new RestMicroBatchStream("http://unused", schema, schema,
      50, 4, Nil)
    assert(ms.deserializeOffset(RestOffset(12345L).json()) == RestOffset(12345L))
  }
}
