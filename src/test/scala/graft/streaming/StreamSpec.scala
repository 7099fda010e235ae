package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamSpec extends SparkSpec {

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF.toDF("ts", "event_type")
    val agg = StreamIngest.windowedCounts(df, "ts", "event_type",
      window = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "error"),
        (Timestamp.valueOf("2024-01-01 00:20:00"), "error"),
        (Timestamp.valueOf("2024-01-01 01:10:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select($"event_type", $"cnt").as[(String, Long)].collect().toMap
      assert(rows("error") == 2L)
      assert(rows("click") == 1L)
    } finally q.stop()
  }

  test("sessionize: per-user counts and duration via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.SessionEvent]
    val sessions = StreamIngest.sessionize(mem.toDS(), gapMs = 0)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("update").start()
    try {
      mem.addData(
        StreamIngest.SessionEvent(1L, 1000L),
        StreamIngest.SessionEvent(1L, 5000L),
        StreamIngest.SessionEvent(2L, 2000L))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .as[StreamIngest.SessionOut].collect().map(s => s.userId -> s).toMap
      assert(rows(1L).nEvents == 2L && rows(1L).durationMs == 4000L)
      assert(rows(2L).nEvents == 1L && rows(2L).durationMs == 0L)
      assert(!rows(1L).closed)
    } finally q.stop()
  }

  test("sessionizeOnClose emits exactly once, when the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val mem = MemoryStream[StreamIngest.TimedEvent]
    val sessions = StreamIngest.sessionizeOnClose(mem.toDS(), gapMs = 1000)
    val q = sessions.writeStream.format("memory").queryName("sess_close")
      .outputMode("append").start()
    try {
      mem.addData(StreamIngest.TimedEvent(7L, t(1000)),
        StreamIngest.TimedEvent(7L, t(2500)))
      q.processAllAvailable()
      assert(spark.table("sess_close").isEmpty) // open session: no output
      // a much-later event advances the event-time watermark past
      // last(7) + gap -> user 7's session closes deterministically
      mem.addData(StreamIngest.TimedEvent(8L, t(100000)))
      q.processAllAvailable()
      val closed = spark.table("sess_close")
        .as[StreamIngest.SessionOut].collect()
      assert(closed.exists(s => s.userId == 7L && s.nEvents == 2L &&
        s.durationMs == 1500L && s.closed))
      assert(!closed.exists(_.userId == 8L)) // still open
    } finally q.stop()
  }

  test("file-source json stream ingests the error filter path") {
    import spark.implicits._
    val dir = graft.core.Util.scratchDir("graft_stream").toString
    val out = graft.core.Util.scratchDir("graft_stream_out").toString
    val chk = graft.core.Util.scratchDir("graft_stream_chk").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, event_type STRING")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part1.json"),
      """{"event_id":1,"event_type":"error"}
        |{"event_id":2,"event_type":"click"}
        |{"event_id":3,"event_type":"error"}""".stripMargin)
    val stream = StreamIngest.readJsonStream(spark, dir, schema)
    val errs = StreamIngest.errorEvents(stream, "event_type", Seq("error"))
    val q = StreamIngest.writeParquetStream(errs, out, chk)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("streamingDedup suppresses duplicates ACROSS micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val deduped = StreamIngest.streamingDedup(
      mem.toDF.toDF("fingerprint"), Seq("fingerprint"))
    val qn = "sd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData("a", "b", "a")
      q.processAllAvailable()
      // 'a' arrives again in a LATER batch: state must remember it
      mem.addData("a", "c")
      q.processAllAvailable()
      val got = spark.table(qn).as[String].collect().sorted
      assert(got.toSeq == Seq("a", "b", "c"))
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("streamingDedup withinWatermark: dups suppressed, state evictable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val deduped = StreamIngest.streamingDedup(
      mem.toDF.toDF("ts", "fingerprint").withWatermark("ts", "10 minutes"),
      Seq("fingerprint"), withinWatermark = true)
    val qn = "sw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
        (Timestamp.valueOf("2024-01-01 00:01:00"), "a"), // dup within delay
        (Timestamp.valueOf("2024-01-01 00:02:00"), "b"))
      q.processAllAvailable()
      val got = spark.table(qn).as[String].collect().sorted
      assert(got.toSeq == Seq("a", "b"))
      // the defining difference vs plain dropDuplicates: once the
      // watermark passes a key's expiry its state is EVICTED, so a
      // far-later re-arrival of 'a' is a NEW row, not a duplicate —
      // bounded state traded for windowed (not global) uniqueness
      mem.addData((Timestamp.valueOf("2024-01-01 09:00:00"), "c"))
      q.processAllAvailable() // watermark → 08:50, far past a's expiry
      mem.addData((Timestamp.valueOf("2024-01-01 09:01:00"), "a"))
      q.processAllAvailable()
      val after = spark.table(qn).as[String].collect().sorted
      assert(after.toSeq == Seq("a", "a", "b", "c"),
        "evicted key re-admits after the watermark passes its expiry")
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("streamingNearDup flags near-matches of earlier docs, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val textA = "the quick brown fox jumps over the lazy dog " * 4
    val textB = textA + "and then some extra trailing words here"
    val textC = "completely different content about spark structured " +
      "streaming state stores and watermark semantics in general " * 3
    val hits = StreamIngest.streamingNearDup(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.3)
    val qn = "snd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = hits.toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData((0L, textA), (1L, textC))
      q.processAllAvailable()
      // near-dup of doc 0 arrives in a LATER batch: bucket state must
      // remember doc 0's shingles; exact dup of doc 1 likewise
      mem.addData((2L, textB), (3L, textC))
      q.processAllAvailable()
      val got = spark.table(qn)
        .select("id", "matchId").as[(Long, Long)].collect().toSet
      assert(got == Set((2L, 0L), (3L, 1L)), s"got $got")
      // jaccard of the exact dup is 1.0
      val j3 = spark.table(qn).filter($"id" === 3L)
        .select("jaccard").as[Double].head()
      assert(j3 == 1.0)
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("streamingNearDup matches the batch nearDedup drop set on the fixture") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val batchDropped = graft.dedup.Dedup.nearDupPairs(
        docs, "doc_id", "text", threshold = 0.3)
      .select($"id_b").distinct().as[Long].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val hits = StreamIngest.streamingNearDup(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.3)
    val qn = "sndf_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = hits.toDF.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      mem.addData(docs.select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table(qn).select("id").as[Long].collect().toSet
      assert(streamed == batchDropped,
        s"stream-only=${streamed -- batchDropped} " +
          s"batch-only=${batchDropped -- streamed}")
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("kafka wire decode: payload ts branches (ntz, epoch-nanos, absent)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // a wire batch frame is schema-compatible with the streaming shim's
    // output, so the decode logic is testable without a source running
    def wire(valueJson: String): org.apache.spark.sql.DataFrame =
      Seq((Array[Byte]('k'), valueJson.getBytes("UTF-8"), "t", 3,
        17L, Timestamp.valueOf("2024-01-01 05:00:00"), 0))
        .toDF("key", "value", "topic", "partition", "offset",
          "timestamp", "timestampType")
    // NTZ payload ts wins over the broker timestamp
    val ntz = StreamIngest.decodeKafkaJson(
      wire("""{"id":7,"ts":"2024-01-01 00:30:00"}"""),
      StructType(Seq(StructField("id", LongType),
        StructField("ts", TimestampNTZType))))
    val r1 = ntz.select($"id", $"ts".cast("string"), $"kafka_partition",
      $"kafka_offset").as[(Long, String, Int, Long)].head()
    assert(r1 == ((7L, "2024-01-01 00:30:00", 3, 17L)))
    assert(ntz.schema("ts").dataType == TimestampType)
    // epoch-nanos long payload normalizes through div-1000 micros
    val nanos = StreamIngest.decodeKafkaJson(
      wire("""{"id":8,"ts":1704069000000000000}"""),
      StructType(Seq(StructField("id", LongType),
        StructField("ts", LongType))))
    assert(nanos.select($"ts".cast("string")).as[String].head()
      == "2024-01-01 00:30:00")
    // no payload ts: the broker (envelope) timestamp is the event time
    val noTs = StreamIngest.decodeKafkaJson(
      wire("""{"id":9}"""),
      StructType(Seq(StructField("id", LongType))))
    assert(noTs.select($"ts".cast("string")).as[String].head()
      == "2024-01-01 05:00:00")
  }

  test("fromKafkaCompatible streams the exact wire schema from files") {
    import spark.implicits._
    val dir = graft.core.Util.scratchDir("graft_kwire")
    Seq((Array[Byte]('a'), """{"id":1,"ts":"2024-01-01 00:00:00"}"""
        .getBytes("UTF-8"), "t", 0, 0L,
        Timestamp.valueOf("2024-01-01 00:00:01"), 0))
      .toDF("key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType")
      .write.parquet(dir.resolve("topic").toString)
    val stream = StreamIngest.fromKafkaCompatible(
      spark, dir.resolve("topic").toString)
    assert(stream.isStreaming)
    assert(stream.schema == StreamIngest.kafkaWireSchema)
    val dec = StreamIngest.decodeKafkaJson(stream,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampNTZType))))
    val qn = "kw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = dec.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val got = spark.table(qn)
        .select($"id", $"ts".cast("string"), $"kafka_offset")
        .as[(Long, String, Long)].collect().toSeq
      assert(got == Seq((1L, "2024-01-01 00:00:00", 0L)))
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("session_window boundary: delta == gap still MERGES (inclusive)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    // MEASURED contract: windows merge while next.start <= prev.end —
    // INCLUSIVE at the boundary. user 1: events at 0 and +30min
    // EXACTLY still share ONE session (end = 60min); user 2: events at
    // 0 and +29:59.999999 merge too. The st19 twin's brk predicate
    // (delta > gap) encodes exactly this.
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(us: Long) = new Timestamp(t0.getTime + us / 1000)
    val agg = mem.toDF.toDF("ts", "user_id")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val qn = "sw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("complete").start()
    try {
      mem.addData((t0, 1L), (plus(1800L * 1000000), 1L),
        (t0, 2L), (plus(1800L * 1000000 - 1), 2L))
      q.processAllAvailable()
      val got = spark.table(qn)
        .select(col("user_id"), unix_millis(col("session_window.start")),
          unix_millis(col("session_window.end")), col("n"))
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      val base = t0.getTime
      assert(got.toSeq == Seq(
        (1L, base, base + 3600000, 2L),            // exactly-gap: merged
        (2L, base, base + 1800000 + 1799999, 2L))) // sub-gap: merged
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("foreachBatch upsert: multi-batch merge, untouched keys kept, idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dir = graft.core.Util.scratchDir("fbu").toString + "/v"
    val ckpt = graft.core.Util.scratchDir("fbu_ck").toString
    val agg = mem.toDF.toDF("user_id", "value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def drain(): Unit = {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            StreamIngest.upsertView(b.sparkSession,
              b.localCheckpoint(true), Seq("user_id"), dir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def view() = spark.read.parquet(dir)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq

    mem.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
    drain()
    assert(view() == Seq((1L, 2L, 3.0), (2L, 1L, 10.0)))

    // batch 2 touches user 1 only: its row is REPLACED with the
    // cumulative aggregate (update mode re-emits it), user 2 carried
    mem.addData((1L, 4.0))
    drain()
    assert(view() == Seq((1L, 3L, 7.0), (2L, 1L, 10.0)))

    // idempotency — the exactly-once lever under micro-batch retries:
    // re-applying the last change set leaves the view unchanged
    val replay = Seq((1L, 3L, 7.0)).toDF("user_id", "cnt", "sum_value")
    StreamIngest.upsertView(spark, replay, Seq("user_id"), dir)
    assert(view() == Seq((1L, 3L, 7.0), (2L, 1L, 10.0)))

    // crash window: a JVM death between the move-aside and the move-in
    // leaves only `dir.old` — the replayed batch must recover the base
    // from it (a delete-then-move swap would silently drop every key
    // the replay doesn't touch)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + ".old"))
    StreamIngest.upsertView(spark, replay, Seq("user_id"), dir)
    assert(view() == Seq((1L, 3L, 7.0), (2L, 1L, 10.0)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + ".old")))
  }
}
