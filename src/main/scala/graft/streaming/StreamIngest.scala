package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming ingestion path (SURVEY.md §2.10): the reference's batch
  * Kafka→HDFS archive scan (S3+P3+P1) re-expressed as Structured
  * Streaming — a Kafka-wire-compatible source decoded with an explicit
  * schema (streaming readers must not infer), event-time gap
  * sessionization, exact and near-dup dedup at ingest, and a
  * foreachBatch upsert sink.
  *
  * The clustering stages stay batch jobs over micro-batch output, exactly
  * as planned in the survey (post-parity extension, not reference
  * semantics).
  */
object StreamIngest {

  final case class TimedEvent(userId: Long, ts: java.sql.Timestamp)

  final case class GapState(times: Seq[Long])
  final case class GapSession(userId: Long, sessionStartMs: Long,
                              nEvents: Long, durationMs: Long)

  /** TRUE gap-splitting sessionization: within a user's stream, an idle
    * gap > `gapMs` starts a new session; every session is emitted exactly
    * once, when the event-time watermark proves no more events can join
    * (watermark > last event + gap — Spark fires event-time timeouts
    * strictly after the set timestamp). Events buffer in state until
    * closure, so out-of-order arrivals within the watermark sort
    * correctly and the result is bit-equal to the batch lag+cumsum
    * answer over the closed prefix — which is exactly what the
    * `st2_sessionize` DuckDB oracle computes. State per user is the
    * open-horizon event-time list (bounded by per-user volume inside the
    * gap window at steady state, since closure clears it). */
  def sessionizeGaps(events: Dataset[TimedEvent], gapMs: Long,
                     watermark: String = "0 seconds")
      : Dataset[GapSession] = {
    import events.sparkSession.implicits._
    // split sorted times into (start, n, end) runs with gap > gapMs
    def split(ts: Seq[Long]): Seq[(Long, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = ts.head; var prev = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t - prev > gapMs) { out += ((start, n, prev)); start = t; n = 1L }
        else n += 1
        prev = t
      }
      out += ((start, n, prev))
      out.toSeq
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[GapState, GapSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[GapState]) =>
          // one flush rule for both data and timeout invocations: a
          // session is CLOSED iff watermark > end + gap (mirrors Spark's
          // strict event-time-timeout firing rule); closed sessions emit
          // now, open ones stay buffered with the timeout re-armed at the
          // earliest open session's closing time, so an old session still
          // emits even while the user keeps producing new ones
          val wm = state.getCurrentWatermarkMs()
          val buf = (state.getOption.map(_.times).getOrElse(Seq.empty) ++
            it.map(_.ts.getTime)).sorted
          if (buf.isEmpty) { state.remove(); Iterator.empty }
          else {
            val sessions = split(buf)
            val (closed, open) = sessions.partition { case (_, _, end) =>
              wm > end + gapMs
            }
            if (open.isEmpty) state.remove()
            else {
              val keepFrom = open.head._1
              state.update(GapState(buf.filter(_ >= keepFrom)))
              state.setTimeoutTimestamp(
                math.max(open.map(_._3).min + gapMs, wm + 1))
            }
            closed.iterator.map { case (start, n, end) =>
              GapSession(userId, start, n, end - start)
            }
          }
      }
  }

  /** Streaming exact dedup: emit each distinct key once, across
    * micro-batches. Two modes:
    *  - `withinWatermark = false` (default): global dedup — state is the
    *    full seen-key set and grows with distinct keys. This is the
    *    batch-parity mode (st3's oracle is batch DISTINCT) for bounded
    *    replays.
    *  - `withinWatermark = true`: `dropDuplicatesWithinWatermark` — the
    *    stream must carry `withWatermark` upstream; duplicate keys are
    *    suppressed only within the watermark delay, and state for keys
    *    older than the watermark is EVICTED. The 100-TB steady-state
    *    mode: bounded state, with the (standard) relaxation that a dup
    *    arriving after the delay re-emits. The dedup runs BEFORE the key
    *    projection (projecting first would drop the event-time column
    *    and silently disable eviction).
    * First-occurrence row choice within a batch is arbitrary, so only
    * the KEY columns are emitted — the distinct-key set is deterministic
    * and batch-equal. */
  def streamingDedup(stream: DataFrame, keyCols: Seq[String],
                     withinWatermark: Boolean = false): DataFrame = {
    val deduped =
      if (withinWatermark) stream.dropDuplicatesWithinWatermark(keyCols)
      else stream.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    deduped.select(keyCols.map(col): _*)
  }

  final case class BandDoc(band: Int, bucket: Long, id: Long, sh: Seq[Long])
  final case class SeenDoc(id: Long, sh: Seq[Long])
  final case class BucketState(docs: Seq[SeenDoc])
  final case class NearDupHit(id: Long, matchId: Long, jaccard: Double)

  /** Streaming MinHash NEAR-dedup at ingest — the stateful companion to
    * [[streamingDedup]]'s exact distinct: each arriving doc is checked
    * against every doc seen EARLIER in its LSH band buckets (same
    * banding as the batch `Dedup.nearDupPairs`: identical band of the
    * k-minhash signature → same bucket), verified by exact shingle-set
    * Jaccard, and emitted as a hit (id, lowest matching earlier id,
    * jaccard) when ≥ `threshold`. State per (band, bucket) is the seen
    * docs' shingle sets — the streaming twin of the batch candidate
    * join, with the same hot-bucket guard: once a bucket holds
    * `maxBucketSize` docs it stops matching AND growing (members still
    * pair via their other bands).
    *
    * Arrival-order greedy: a doc is a dup iff it matches something seen
    * BEFORE it (within a micro-batch, "before" = ascending id — the
    * deterministic tiebreak). When arrival order is id-ordered (replays,
    * backfills, the AvailableNow harness) the flagged set equals the
    * batch llm_near_dedup drop set exactly — that is st6's DuckDB-oracled
    * contract. Out-of-order production arrival keeps first-seen-wins,
    * the standard ingest-dedup relaxation (same trade
    * `dropDuplicatesWithinWatermark` makes for exact dedup).
    *
    * At 100 TB the per-bucket shingle-set state gives way to
    * signature-only verification (estimated Jaccard from the k minhash
    * rows already in hand — state shrinks to k longs per doc) plus state
    * TTL via event-time timeout; both relax recall, neither changes the
    * operator shape. */
  def streamingNearDup(stream: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8, k: Int = 32,
                       bands: Int = 8, gram: Int = 8, stride: Int = 4,
                       maxBucketSize: Int = 1000): Dataset[NearDupHit] = {
    require(bands > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands)")
    val spark = stream.sparkSession
    import spark.implicits._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val rows = k / bands
    // identical derivations to the batch nearDupPairs base (projection
    // boundaries between HOF stages, native minhash kernel).
    // In-batch fan-out (r20, the streaming analog of Tables.fanOut): a
    // micro-batch's map-stage parallelism is its FILE SPLIT count — a
    // few-file batch runs the minhash + shingle-hash kernels (the
    // stage's whole cost; measured 1.5 s of st6's 2.4 s at sf0.1)
    // single-task no matter the core count. Repartition the (id, norm)
    // projection on id BEFORE the kernels: the shuffled payload is one
    // micro-batch's normalized text — bounded by trigger sizing, never
    // the corpus — and core-count-adaptive (defaultParallelism), while
    // the stateful stage's store count stays pinned to
    // spark.sql.shuffle.partitions. Hit set identical: bucket groups
    // are shuffle-canonicalized by the groupByKey either way.
    val fanned = stream.select(col(idCol).cast("long").as("id"),
        graft.text.Clean.normWs(lower(col(textCol))).as("norm"))
      .repartition(stream.sparkSession.sparkContext.defaultParallelism,
        col("id"))
    val base = fanned
      .withColumn("sig", call_function("graft_minhash",
        col("norm"), lit(k), lit(gram), lit(stride)))
      .withColumn("hs", array_distinct(transform(
        sequence(lit(1), greatest(length(col("norm")) - (gram - 1), lit(1)),
          lit(stride)),
        i => xxhash64(col("norm").substr(i, lit(gram))))))
    val keyed = base
      .withColumn("bk", explode(graft.dedup.Dedup.lshBandKeys(
        col("sig"), bands, rows)))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("hs").as("sh"))
      .as[BandDoc]
    keyed.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[BucketState]) =>
          var seen = state.getOption.map(_.docs).getOrElse(Seq.empty).toVector
          val hits = Vector.newBuilder[NearDupHit]
          it.toSeq.sortBy(_.id).foreach { d =>
            if (seen.length < maxBucketSize) {
              val ds = d.sh.toSet
              var best: Option[NearDupHit] = None
              seen.foreach { s =>
                if (best.forall(_.matchId > s.id)) {
                  val inter = s.sh.count(ds.contains).toDouble
                  val jac = inter / (ds.size + s.sh.size - inter)
                  if (jac >= threshold &&
                      best.forall(b => s.id < b.matchId))
                    best = Some(NearDupHit(d.id, s.id, jac))
                }
              }
              best.foreach(hits += _)
              seen = seen :+ SeenDoc(d.id, d.sh)
            }
          }
          state.update(BucketState(seen))
          hits.result().iterator
      }
  }

  /** The Kafka source's wire schema, verbatim (what
    * `readStream.format("kafka")` emits): binary key/value plus the
    * (topic, partition, offset, timestamp, timestampType) envelope. The
    * file-backed shim below produces EXACTLY this shape so every
    * downstream stage — decode, event-time handling, aggregation — is
    * shared, byte-for-byte, with the real connector path. */
  val kafkaWireSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
  }

  /** File-backed Kafka-compatibility source: parquet files holding
    * [[kafkaWireSchema]] rows (a broker-less replay of a topic archive —
    * the FRONT of the reference's Kafka → HDFS pipe,
    * rucio_data_access_HDFS.ipynb:497). Downstream code cannot tell it
    * from `readStream.format("kafka")`; feed it to [[decodeKafkaJson]]. */
  def fromKafkaCompatible(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(kafkaWireSchema).parquet(dir)

  /** Shared wire→records decode: UTF-8 JSON values parsed with an
    * explicit schema (streaming readers must not infer), the envelope
    * carried as `kafka_ts` / `kafka_partition` / `kafka_offset` — the
    * reference archives exactly this (`kafka_timestamp` in the HDFS
    * records). Event time is the PAYLOAD's `ts` when the record has one
    * (unit-adaptive: epoch-nanos longs and NTZ timestamps both
    * normalize to TIMESTAMP), else the broker timestamp — late/replayed
    * data then ages by producer time, not arrival time. */
  def decodeKafkaJson(wire: DataFrame, valueSchema: StructType): DataFrame = {
    val parsed = wire.select(
      from_json(col("value").cast("string"), valueSchema).as("j"),
      col("timestamp").as("kafka_ts"),
      col("partition").as("kafka_partition"),
      col("offset").as("kafka_offset"))
      .select(col("j.*"), col("kafka_ts"), col("kafka_partition"),
        col("kafka_offset"))
    valueSchema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        parsed.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(_: org.apache.spark.sql.types.TimestampNTZType) =>
        parsed.withColumn("ts", col("ts").cast("timestamp"))
      case Some(_) => parsed
      case None => parsed.withColumn("ts", col("kafka_ts"))
    }
  }

  /** One upsert of `changes` into the parquet view at `dir`: changed
    * keys replaced (anti-join pass, applyCdc's shape minus deletes),
    * everything else carried, swapped in whole. Idempotent — replaying
    * the same change set reproduces the same view, which is what makes
    * the foreachBatch sink below exactly-once under micro-batch
    * retries. Exposed for the spec to drive directly. */
  def upsertView(spark: SparkSession, changes: DataFrame,
                 keyCols: Seq[String], dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    val old = java.nio.file.Paths.get(dir + ".old")
    // crash recovery: a previous upsert that died between the
    // move-aside and the move-in leaves only `.old` — that IS the
    // current view (the exactly-once contract needs the base to
    // survive every crash window; delete-then-move would lose it)
    val base =
      if (java.nio.file.Files.exists(p)) Some(spark.read.parquet(dir))
      else if (java.nio.file.Files.exists(old))
        Some(spark.read.parquet(old.toString))
      else None
    val merged = base.fold(changes)(b =>
      changes.unionByName(
        b.join(changes.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")))
    val tmp = java.nio.file.Paths.get(dir + ".tmp")
    graft.core.Util.deleteRecursively(tmp)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // move-aside swap: at every instant either `dir` or `dir.old`
    // holds a complete view (the micro-batch sink is the sole writer,
    // serialized by the stream)
    if (java.nio.file.Files.exists(p)) {
      graft.core.Util.deleteRecursively(old)
      java.nio.file.Files.move(p, old)
    }
    java.nio.file.Files.move(tmp, p)
    graft.core.Util.deleteRecursively(old)
  }

  /** The foreachBatch pattern (the production sink: reuse BATCH writers
    * from a stream, one call per micro-batch with the batch id):
    * update-mode aggregate rows — each micro-batch emits the keys whose
    * aggregate CHANGED, with cumulative values — upserted into a
    * parquet materialized view. Update mode means every batch's output
    * is exactly an upsert feed; batchId-keyed retries land on the
    * idempotent upsertView, so replays cannot double-apply. */
  def foreachBatchUpsert(aggregated: DataFrame, keyCols: Seq[String],
                         dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        upsertView(batch.sparkSession, batch.localCheckpoint(true),
          keyCols, dir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
