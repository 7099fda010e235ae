package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** transformWithState + state-store reader behavior the one-batch
  * Verify oracle cannot see: state must MERGE across micro-batches (the
  * running profile is a monoid fold over arrival order), and a
  * checkpoint written by one query must read back as a DataFrame with
  * exactly the operator's key set. */
class TwsSpec extends SparkSpec {

  test("tws profile merges state across micro-batches (RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tws.UserEvent]
    Tws.withRocksDb(spark) {
      val q = Tws.userProfiles(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("tws_prof")
        .outputMode("update").start()
      try {
        mem.addData(Tws.UserEvent(1, 1), Tws.UserEvent(1, 5),
          Tws.UserEvent(2, 3))
        q.processAllAvailable()
        mem.addData(Tws.UserEvent(1, 2), Tws.UserEvent(3, 9))
        q.processAllAvailable()
        // Update mode emits a row per touched key per batch; the row
        // with the highest cnt per key is the final running profile
        // (cnt is strictly increasing across a key's emissions).
        val last = spark.table("tws_prof")
          .groupBy("user_id")
          .agg(max(struct($"cnt", $"min_event_id", $"max_event_id"))
            .as("p"))
          .select($"user_id", $"p.cnt", $"p.min_event_id",
            $"p.max_event_id")
          .as[(Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(last(1L) == ((3L, 1L, 5L)), "u1 merged across batches")
        assert(last(2L) == ((1L, 3L, 3L)))
        assert(last(3L) == ((1L, 9L, 9L)))
        // u1 must have been emitted in BOTH batches (update semantics)
        assert(spark.table("tws_prof").filter($"user_id" === 1).count() == 2)
      } finally q.stop()
    }
  }

  test("tws ListState last-N buffer merges top-3 across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tws.UserEvent]
    Tws.withRocksDb(spark) {
      val q = Tws.lastNEvents(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("tws_lastn")
        .outputMode("update").start()
      try {
        mem.addData(Tws.UserEvent(1, 5), Tws.UserEvent(1, 1))
        q.processAllAvailable()
        mem.addData(Tws.UserEvent(1, 3), Tws.UserEvent(1, 9))
        q.processAllAvailable()
        val rows = spark.table("tws_lastn")
          .as[(Long, Option[Long], Option[Long], Option[Long])]
          .collect().toSet
        // batch 1: only two ids → third slot null; batch 2: merged top-3
        // keeps 5 from the ListState and drops 1
        assert(rows == Set(
          (1L, Some(5L), Some(1L), None),
          (1L, Some(9L), Some(5L), Some(3L))))
      } finally q.stop()
    }
  }

  test("tws MapState dictionary merges per-type counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tws.TypedEvent]
    Tws.withRocksDb(spark) {
      val q = Tws.typeCounts(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("tws_typecounts")
        .outputMode("update").start()
      try {
        mem.addData(Tws.TypedEvent(1, "click"), Tws.TypedEvent(1, "view"),
          Tws.TypedEvent(1, "click"))
        q.processAllAvailable()
        mem.addData(Tws.TypedEvent(1, "click"))
        q.processAllAvailable()
        val rows = spark.table("tws_typecounts")
          .as[Tws.TypeCount].collect()
        // batch 1 emits the two discovered entries; batch 2 re-emits the
        // WHOLE dictionary for the touched key — view's count carries
        // over untouched, click increments
        assert(rows.toSet == Set(
          Tws.TypeCount(1, "click", 2), Tws.TypeCount(1, "view", 1),
          Tws.TypeCount(1, "click", 3)))
        assert(rows.length == 4, "batch 2 re-emits view with its " +
          "unchanged count alongside the incremented click")
      } finally q.stop()
    }
  }

  test("tws initial state seeds the profile; history-only keys stay silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tws.UserEvent]
    val history = Seq(
      Tws.UserProfile(1, 2, 10, 20), // touched by the stream → merged
      Tws.UserProfile(9, 5, 1, 99)   // never streamed → must not emit
    ).toDS()
    Tws.withRocksDb(spark) {
      val q = Tws.userProfilesFrom(mem.toDS(), history).toDF()
        .writeStream.format("memory").queryName("tws_boot")
        .outputMode("update").start()
      try {
        mem.addData(Tws.UserEvent(1, 5), Tws.UserEvent(2, 7))
        q.processAllAvailable()
        val rows = spark.table("tws_boot")
          .as[(Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(rows(1L) == ((3L, 5L, 20L)), "seeded history merged in")
        assert(rows(2L) == ((1L, 7L, 7L)), "stream-only key starts fresh")
        assert(!rows.contains(9L), "history-only key never emits")
      } finally q.stop()
    }
  }

  test("statestore reader returns the dedup operator's exact key set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = graft.core.Util.scratchDir("graft_twsspec_ckpt").toString
    val q = mem.toDF().toDF("k").dropDuplicates("k")
      .writeStream.format("memory").queryName("tws_dedup")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      mem.addData("a", "b", "a")
      q.processAllAvailable()
      mem.addData("b", "c")
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.read.format("statestore").option("path", ckpt).load()
      .select($"key.k").as[String].collect().sorted.toSeq
    assert(keys == Seq("a", "b", "c"),
      "state keys == distinct set across batches")
  }
}
