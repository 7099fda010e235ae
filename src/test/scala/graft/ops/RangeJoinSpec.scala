package graft.ops

import graft.SparkSpec

/** Edge semantics of the bin-bucketed range join and the anti-join
  * (SparkEntry j6/j7 carry the DuckDB cross-engine oracles; these pin
  * the corners the fixture can't hit). */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def points(ps: (Long, Double)*) =
    ps.toDF("point_id", "p")
  private def intervals(ivs: (Long, Double, Double)*) =
    ivs.toDF("interval_id", "lo", "hi")

  test("containment is inclusive on both bounds") {
    val got = Relational.rangeJoinPoints(
        points((1L, 10.0), (2L, 20.0), (3L, 15.0), (4L, 9.99), (5L, 20.01)),
        "p", intervals((100L, 10.0, 20.0)), "lo", "hi", binWidth = 8.0)
      .select("point_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("interval spanning many bins matches points in every bin") {
    // width 35 over binWidth 10 → 4-5 bins; points scattered across them
    val got = Relational.rangeJoinPoints(
        points((1L, 2.0), (2L, 12.0), (3L, 22.0), (4L, 32.0), (5L, 36.0)),
        "p", intervals((7L, 1.0, 36.0)), "lo", "hi", binWidth = 10.0)
      .select("point_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("each matching pair appears exactly once (no bin-replica dupes)") {
    val got = Relational.rangeJoinPoints(
        points((1L, 15.0)), "p",
        intervals((100L, 0.0, 100.0)), "lo", "hi", binWidth = 10.0)
      .count()
    assert(got == 1L)
  }

  test("inverted interval (lo > hi) is dropped, not counted down") {
    // sequence(3, 1) in Spark would COUNT DOWN — the filter must drop
    // the row before the explode ever sees it
    val got = Relational.rangeJoinPoints(
        points((1L, 15.0)), "p",
        intervals((100L, 20.0, 10.0)), "lo", "hi", binWidth = 10.0)
      .count()
    assert(got == 0L)
  }

  test("negative coordinates bin correctly (floor, not truncate)") {
    // floor(-15/10) = -2; integer truncation toward zero would put the
    // point in bin -1 and miss the interval's bin set
    val got = Relational.rangeJoinPoints(
        points((1L, -15.0)), "p",
        intervals((100L, -18.0, -12.0)), "lo", "hi", binWidth = 10.0)
      .select("point_id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("overlapping column names are rejected") {
    intercept[IllegalArgumentException] {
      Relational.rangeJoinPoints(
        points((1L, 1.0)), "p",
        points((2L, 2.0)), "point_id", "p", binWidth = 1.0)
    }
  }

  test("a caller column named _bin is rejected, not silently clobbered") {
    val withBin = Seq((1L, 10.0, 99L)).toDF("point_id", "p", "_bin")
    intercept[IllegalArgumentException] {
      Relational.rangeJoinPoints(withBin, "p",
        intervals((100L, 0.0, 20.0)), "lo", "hi", binWidth = 10.0)
    }
  }

  test("antiJoin keeps non-matching rows; null keys never match") {
    val left = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "c"))
      .toDF("k", "v")
    val right = Seq(Tuple1(2L)).toDF("k")
    val got = Relational.antiJoin(left, right, Seq("k"), hintBroadcast = true)
      .select("v").as[String].collect().sorted
    // SQL anti-join: the null-key row has no match, so it SURVIVES
    assert(got.toSeq == Seq("a", "c"))
  }
}
