package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful streaming via Spark 4's `transformWithState` — the
  * successor API to `flatMapGroupsWithState` (SPARK-46815): typed state
  * handles (Value/List/Map), per-state TTL, and a RocksDB-backed store so
  * per-key state spills to disk instead of executor heap. At 100 TB/day
  * the state for a per-user aggregate is bounded by |users|, not input
  * volume, and RocksDB keeps it off-heap with changelog checkpointing —
  * the operator's scale story is the store's, not the processor's.
  *
  * Reference behavior mirrored: the per-user running profile the
  * reference maintains imperatively over its event feed (count of events
  * seen, id frontier) — re-expressed as a keyed stateful operator whose
  * single-batch drain equals the batch GROUP BY, which is what the
  * DuckDB twin gates.
  */
object Tws {

  /** Input row shape for [[UserProfileProcessor]]. */
  case class UserEvent(user_id: Long, event_id: Long)

  /** Running per-user profile: order-invariant longs only (count and the
    * min/max id frontier), so any arrival order and batch split yields
    * the same final row — the determinism contract the oracle needs. */
  case class UserProfile(user_id: Long, cnt: Long, min_event_id: Long,
                         max_event_id: Long)

  /** Per-user running profile as a StatefulProcessor: one ValueState row
    * per user, updated per batch, emitted per batch (Update mode). The
    * commutative-monoid merge (count-sum, min, max) is the same argument
    * that makes r3's incremental aggregate exact across deltas. */
  class UserProfileProcessor
      extends StatefulProcessor[Long, UserEvent, UserProfile] {
    @transient private var profile: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getValueState[(Long, Long, Long)](
        "profile", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues)
        : Iterator[UserProfile] = {
      var (cnt, mn, mx) =
        if (profile.exists()) profile.get()
        else (0L, Long.MaxValue, Long.MinValue)
      rows.foreach { e =>
        cnt += 1
        if (e.event_id < mn) mn = e.event_id
        if (e.event_id > mx) mx = e.event_id
      }
      profile.update((cnt, mn, mx))
      Iterator.single(UserProfile(key, cnt, mn, mx))
    }
  }

  /** Wire the processor over a typed event stream. Update mode: each
    * batch emits the keys it touched with their post-batch running
    * profile (a one-batch drain therefore emits exactly the final
    * answer; multi-batch consumers keep the last row per key). */
  def userProfiles(events: Dataset[UserEvent]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor,
        TimeMode.None(), OutputMode.Update(), Encoders.product[UserProfile])
  }

  /** Backfill→streaming handoff: the same running profile, but the state
    * is SEEDED from a batch table (StatefulProcessorWithInitialState) —
    * the production pattern for turning on a streaming pipeline over a
    * corpus with history: compute the profile-to-date once in batch,
    * hand it to the operator, stream only the tail. handleInitialState
    * never emits — a key with history but no streamed events stays
    * silent until traffic touches it (the contract the oracle mirrors). */
  class UserProfileBootstrapProcessor
      extends StatefulProcessorWithInitialState[Long, UserEvent,
        UserProfile, UserProfile] {
    @transient private var profile: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getValueState[(Long, Long, Long)](
        "profile", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: UserProfile,
                                    timerValues: TimerValues): Unit =
      profile.update((initial.cnt, initial.min_event_id,
        initial.max_event_id))

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues)
        : Iterator[UserProfile] = {
      var (cnt, mn, mx) =
        if (profile.exists()) profile.get()
        else (0L, Long.MaxValue, Long.MinValue)
      rows.foreach { e =>
        cnt += 1
        if (e.event_id < mn) mn = e.event_id
        if (e.event_id > mx) mx = e.event_id
      }
      profile.update((cnt, mn, mx))
      Iterator.single(UserProfile(key, cnt, mn, mx))
    }
  }

  /** [[userProfiles]] with state seeded from `history` (already-profiled
    * batch rows). Emission is Update-mode per touched key, so only keys
    * the STREAM touches appear — merged with their seeded history. */
  def userProfilesFrom(events: Dataset[UserEvent],
                       history: Dataset[UserProfile])
      : Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserProfileBootstrapProcessor,
        TimeMode.None(), OutputMode.Update(),
        history.groupByKey(_.user_id),
        Encoders.product[UserProfile], Encoders.product[UserProfile])
  }

  /** Most-recent-3 event ids per user, nulls-padded (the emission shape
    * a SQL pivot twin can gate). */
  case class LastN(user_id: Long, e1: Option[Long], e2: Option[Long],
                   e3: Option[Long])

  /** Per-user most-recent-N buffer in a ListState — the "session replay
    * window" shape (recommenders, abuse heuristics): keep the N largest
    * event ids ever seen, merged per batch. Unlike the ValueState
    * profile this state is a bounded COLLECTION per key — the store
    * holds N entries, not an aggregate, and the merge is top-N (a
    * monoid, so batch splits commute; arrival order within a batch is
    * irrelevant by construction). */
  class LastNProcessor(n: Int)
      extends StatefulProcessor[Long, UserEvent, LastN] {
    require(n <= 3, "emission shape carries three slots")
    @transient private var top: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Long]("top", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues)
        : Iterator[LastN] = {
      val merged = (top.get().toSeq ++ rows.map(_.event_id))
        .sorted(Ordering[Long].reverse).take(n)
      top.put(merged.toArray)
      Iterator.single(LastN(key, merged.headOption, merged.lift(1),
        merged.lift(2)))
    }
  }

  /** Wire [[LastNProcessor]] over a typed event stream (Update mode —
    * one row per touched key per batch, final batch = final answer). */
  def lastNEvents(events: Dataset[UserEvent], n: Int = 3)
      : Dataset[LastN] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LastNProcessor(n),
        TimeMode.None(), OutputMode.Update(), Encoders.product[LastN])
  }

  /** Typed input for [[TypeCountsProcessor]]. */
  case class TypedEvent(user_id: Long, event_type: String)

  /** Emission row of [[TypeCountsProcessor]]: one (user, type) count. */
  case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** Per-user per-event-type counts in a MapState — the last of the
    * three typed-state kinds (Value st13 / List st15 / Map here). The
    * state per key is a DICTIONARY keyed by a sub-key the input stream
    * discovers (event types are not known up front), which is exactly
    * what MapState models: RocksDB stores each (user, type) entry as
    * its own store row, so updating one type touches one entry, not a
    * serialized blob of the whole map — at |users|×|types| scale that
    * is the difference between point writes and read-modify-write of
    * the full per-user state. Count-sum per sub-key is a commutative
    * monoid, so batch splits and arrival order commute and the final
    * emission equals the batch GROUP BY the twin computes. */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
                                 timerValues: TimerValues)
        : Iterator[TypeCount] = {
      rows.foreach { e =>
        val prev =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
          else 0L
        counts.updateValue(e.event_type, prev + 1L)
      }
      counts.iterator().map { case (t, c) => TypeCount(key, t, c) }
    }
  }

  /** Wire [[TypeCountsProcessor]] over a typed event stream (Update
    * mode — every map entry of each touched key re-emits per batch, so
    * the final batch carries the complete current dictionary). */
  def typeCounts(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update(),
        Encoders.product[TypeCount])
  }

  /** Checkpoint MIGRATION: dedup keys recovered from an old operator's
    * checkpoint (the statestore reader over a streaming dropDuplicates)
    * seed this processor — the operator upgrades (e.g. to custom policy
    * or TTL'd state) without replaying the stream. Seeded and
    * already-seen keys are suppressed identically. */
  class SeededDedupProcessor
      extends StatefulProcessorWithInitialState[String, String, String,
        String] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInitialState(key: String, initial: String,
                                    timerValues: TimerValues): Unit =
      seen.update(true)

    override def handleInputRows(key: String, rows: Iterator[String],
                                 timerValues: TimerValues)
        : Iterator[String] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); Iterator.single(key) }
  }

  /** Exactly-once key emission with the seen-set seeded from
    * `seedKeys` — pair with the statestore reader to migrate a
    * dropDuplicates checkpoint into this operator. */
  def seededDedup(in: Dataset[String], seedKeys: Dataset[String])
      : Dataset[String] = {
    import in.sparkSession.implicits._
    in.groupByKey(identity)
      .transformWithState(new SeededDedupProcessor,
        TimeMode.None(), OutputMode.Update(),
        seedKeys.groupByKey(identity),
        Encoders.STRING, Encoders.STRING)
  }

  /** Typed input for [[SessionTimeoutProcessor]]: the watermarked event
    * time rides along as a real timestamp (catalyst keeps µs precision
    * through the encoder roundtrip). */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

  /** One closed session. Times are epoch MICROSECONDS (the engine's own
    * timestamp unit) so the cross-engine contract is integer-exact;
    * `closed_by` records WHICH code path closed it — "gap" (a later
    * event of the same key arrived past the gap) or "timer" (the
    * event-time timer fired when the watermark passed end+gap). */
  case class Session(user_id: Long, start_us: Long, end_us: Long,
                     cnt: Long, closed_by: String)

  /** Event-time SESSIONIZATION with inactivity timeout — the timer face
    * of `transformWithState` (TimeMode.EventTime + registerTimer +
    * handleExpiredTimer), the one capability the Value/List/Map trio
    * above doesn't touch. Sessions that close *inside* a batch (a later
    * event of the same key starts past the gap) emit inline; the still-
    * open tail session registers an event-time timer at end+gap, fires
    * when the watermark passes it, and is emitted from
    * [[handleExpiredTimer]] with its state cleared. Each batch retracts
    * the key's previous pending timer before registering the moved one,
    * so an extended session never double-closes.
    *
    * Timer-µs contract (what the oracle replays): Spark's event-time
    * watermark is `floor(max_event_us / 1000) - delay_ms` and a timer
    * fires when `expiry_ms <= watermark_ms` (NON-strict — measured by
    * TwsTimerSpec's expiry==watermark boundary case); we register at
    * `floor(end_us / 1000) + gap_ms`.
    *
    * Scale: state per key is one open-session triple plus one pending
    * timer — bounded by |keys|, not traffic; the per-batch sort buffers
    * only one key's rows from one trigger interval. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessionEvent, Session] {
    @transient private var open: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    private def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                 timerValues: TimerValues)
        : Iterator[Session] = {
      val batch = rows.map(e => us(e.ts)).toArray.sorted
      if (batch.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var (st, en, cnt) =
        if (open.exists()) { val o = open.get()
          getHandle.deleteTimer(o._2 / 1000L + gapMs); o }
        else (0L, 0L, 0L)
      batch.foreach { t =>
        if (cnt == 0L) { st = t; en = t; cnt = 1L }
        else if (t - en > gapMs * 1000L) {
          out += Session(key, st, en, cnt, "gap")
          st = t; en = t; cnt = 1L
        } else {
          if (t > en) en = t
          if (t < st) st = t
          cnt += 1L
        }
      }
      open.update((st, en, cnt))
      getHandle.registerTimer(en / 1000L + gapMs)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Session] =
      if (!open.exists()) Iterator.empty
      else {
        val (st, en, cnt) = open.get()
        open.clear()
        Iterator.single(Session(key, st, en, cnt, "timer"))
      }
  }

  /** Wire [[SessionTimeoutProcessor]] over a watermarked event stream.
    * Append mode — every emission is a FINAL closed session (inline
    * gap-closes plus watermark-fired timeouts), never revised. */
  def sessionTimeout(events: Dataset[SessionEvent], gapMs: Long)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[Session])
  }

  /** transformWithState requires the RocksDB state store provider; set it
    * (plus changelog checkpointing, the production-shape config) for the
    * duration of `body` and restore the previous provider after. */
  def withRocksDb[T](s: SparkSession)(body: => T): T =
    graft.core.Util.withConfs(s, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true"))(body)
}
