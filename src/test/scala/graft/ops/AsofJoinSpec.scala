package graft.ops

import graft.SparkSpec

/** J5 as-of join semantics: latest right at-or-before each left, per
  * key; inclusive bound; null-extended lefts; name-collision guard. */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def run(left: Seq[(String, Long, Long)],
                  right: Seq[(String, Long, Long)]) =
    Relational.asofJoin(
        left.toDF("k", "ts", "lid"),
        right.toDF("k", "ts", "rid").withColumnRenamed("rid", "r_id")
          .select($"k", $"ts", $"r_id", $"ts".as("r_ts")),
        "k", "ts", Seq("r_id", "r_ts"))
      .select($"lid", $"r_id", $"r_ts")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

  test("latest prior right wins; equal ts is inclusive; no prior -> null") {
    val out = run(
      left = Seq(("u", 10L, 1L), ("u", 20L, 2L), ("u", 5L, 3L), ("v", 7L, 4L)),
      right = Seq(("u", 8L, 100L), ("u", 20L, 200L), ("u", 2L, 300L),
        ("w", 1L, 400L)))
    assert(out(1L) == ((Some(100L), Some(8L))))   // 8 <= 10, latest
    assert(out(2L) == ((Some(200L), Some(20L))))  // equal ts included
    assert(out(3L) == ((Some(300L), Some(2L))))
    assert(out(4L) == ((None, None)))             // key v has no rights
  }

  test("forward direction: earliest right at-or-after; no later -> null") {
    val out = Relational.asofJoin(
        Seq(("u", 10L, 1L), ("u", 25L, 2L), ("u", 30L, 3L), ("v", 7L, 4L))
          .toDF("k", "ts", "lid"),
        Seq(("u", 8L, 100L), ("u", 20L, 200L), ("u", 25L, 300L))
          .toDF("k", "ts", "rid")
          .select($"k", $"ts", $"rid".as("r_id")),
        "k", "ts", Seq("r_id"), direction = "forward")
      .select($"lid", $"r_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L) == Some(200L)) // earliest right >= 10 is ts=20
    assert(out(2L) == Some(300L)) // equal ts inclusive
    assert(out(3L) == None)       // nothing at-or-after 30
    assert(out(4L) == None)       // key v has no rights
  }

  test("direction is validated") {
    val df = Seq(("u", 1L, 1L)).toDF("k", "ts", "lid")
    val r = Seq(("u", 1L, 2L)).toDF("k", "ts", "r_id")
    intercept[IllegalArgumentException] {
      Relational.asofJoin(df, r, "k", "ts", Seq("r_id"), direction = "sideways")
    }
  }

  test("per-key isolation: rights never leak across keys") {
    val out = run(
      left = Seq(("a", 100L, 1L), ("b", 100L, 2L)),
      right = Seq(("a", 50L, 10L)))
    assert(out(1L) == ((Some(10L), Some(50L))))
    assert(out(2L) == ((None, None)))
  }

  test("SQL null semantics: null keys/ts never match, null lefts survive") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", StringType, true),
      StructField("ts", LongType, true), StructField("id", LongType, false)))
    def df(rows: Seq[(String, java.lang.Long, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3))),
        schema)
    val left = df(Seq((null, 10L, 1L), ("u", null, 2L), ("u", 10L, 3L)))
    val right = df(Seq((null, 5L, 100L), ("u", null, 200L), ("u", 4L, 300L)))
      .withColumnRenamed("id", "r_id")
    val out = Relational.asofJoin(left, right, "k", "ts", Seq("r_id"))
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // null-key left and null-ts left both survive, UNMATCHED (a null
    // never satisfies = / >=); null-key and null-ts rights match nothing
    assert(out == Map(1L -> None, 2L -> None, 3L -> Some(300L)))
  }

  test("colliding right column names are rejected") {
    val l = Seq(("a", 1L, 1L)).toDF("k", "ts", "x")
    val r = Seq(("a", 1L, 2L)).toDF("k", "ts", "x")
    intercept[IllegalArgumentException] {
      Relational.asofJoin(l, r, "k", "ts", Seq("x"))
    }
  }

  test("tie-break picks the largest-id right among equal (key, ts)") {
    val l = Seq(("u", 10L, 1L)).toDF("k", "ts", "lid")
    // three right rows tied at ts=5 — without a tie-break the winner is
    // whichever the partition sort placed last (arbitrary)
    val r = Seq(("u", 5L, 7L), ("u", 5L, 30L), ("u", 5L, 9L))
      .toDF("k", "ts", "r_id")
    val out = Relational.asofJoin(l, r, "k", "ts", Seq("r_id"),
        tieBreak = Some("r_id"))
      .select($"lid", $"r_id").as[(Long, Long)].collect()
    // numeric ordering, not string: 30 > 9 > 7
    assert(out.toSeq == Seq((1L, 30L)))
  }

  test("plan: one hash exchange on the key, no join operator") {
    val l = Seq(("a", 1L, 1L)).toDF("k", "ts", "lid")
    val r = Seq(("a", 1L, 2L)).toDF("k", "ts", "r_id")
    val plan = Relational.asofJoin(l, r, "k", "ts", Seq("r_id"))
      .queryExecution.executedPlan.toString
    assert(!Seq("HashJoin", "MergeJoin", "NestedLoop", "CartesianProduct")
      .exists(plan.contains), plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }
}
