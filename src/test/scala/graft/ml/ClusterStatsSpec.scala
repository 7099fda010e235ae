package graft.ml

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}

/** [[ClusterStats.local]] — the flagship's driver-side stats — must give
  * [[ClusterStats.stats]]' rows bit for bit: same schema, same order, the
  * same raw double bits and the same nulls. */
class ClusterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def assertBitEqual(labeled: DataFrame): Unit = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val want = ClusterStats.stats(labeled, "label", "text", "doc_id")
    val rows = labeled.collect()
    val got = ClusterStats.local(spark, rows.map(_.getAs[Number](0).longValue),
      rows.map(_.getString(1)), rows.map(_.getLong(2)))
    assert(got.schema == want.schema)
    def bits(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.map(bits) == w.map(bits))
    assert(g.nonEmpty)
  }

  private def frame(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("doc_id", "text", "label") // label: non-null long, as the flagship's

  test("local stats equal stats bit for bit on the flagship labels " +
    "(sf0.001, sf0.01)") {
    Seq(sfDir, sfDir.stripSuffix("sf0.001") + "sf0.01").foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val labeled = SparkEntry.flagshipLabels(docs)
      assert(labeled.select("label").distinct().count() >= 2)
      assertBitEqual(labeled)
    }
  }

  test("local stats equal stats bit for bit on degenerate rows") {
    // a one-member cluster (null stds), a non-BMP character (code-point
    // length 1, two UTF-16 chars), an empty first message (la + lb = 0
    // against another empty message), and noise
    assertBitEqual(frame(Seq(
      (1L, "disk quota exceeded", 0L),
      (2L, "disk quota exceeded on pool 😀", 0L),
      (3L, "disk quota reached", 0L),
      (4L, "only member", 7L),
      (5L, "", 3L),
      (6L, "", 3L),
      (7L, "x", 3L),
      (8L, "noise a", -1L),
      (9L, "noise 😀😀 b", -1L))))
    // all noise: one group, label -1
    assertBitEqual(frame((0 until 7).map(i =>
      (i.toLong, s"transfer failed at line ${i * 37}", -1L))))
  }
}
