package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import CdpPipeline._

/** Storage form of `ProfileState`, with every map stored as an entry
  * array and rebuilt on read. This packing is required, not an opt-in
  * encoding choice: transformWithState writes each state variable's schema
  * as Avro metadata, and Avro map keys must be strings. `ProfileState`
  * stored directly fails at query start with `IncompatibleSchemaException:
  * Unexpected type MapType(LongType,LongType,false)` (`buckets` is
  * `Map[Long, Long]`; seen on Spark 4.1.2).
  */
case class TraitKV(k: String, v: String, ts: Long, eid: String)
case class BucketKV(b: Long, n: Long)
case class SeenKV(id: String, ts: Long)
case class ProfilePacked(
    userIds: Seq[String], emails: Seq[String], anonymousIds: Seq[String],
    traits: Seq[TraitKV], lastSeenUs: Long, buckets: Seq[BucketKV],
    segments: Seq[String], seen: Seq[SeenKV])

/** The CDP fold (`CdpPipeline.fold`) on transformWithState (Spark 4's
  * arbitrary-state API — typed state variables, explicit timers, RocksDB
  * changelog checkpointing): at most one `CdpFold` row per profile per
  * micro-batch, none for a batch of pure duplicates (W7 changed-only).
  * seenEventIds is a cache, not profile content — ignored when deciding
  * whether the profile changed.
  *
  * State is ONE ValueState[ProfilePacked] per profile, dedup cache
  * included, read (one `get()`: `exists()` is itself a full get and
  * decode) and written at most once per key per micro-batch — the same IO
  * pattern the fMGWS predecessor had. Two designs were tried and
  * rejected, both keeping the dedup cache in its own MapState:
  *  - native `TTLConfig` on the MapState: requires
  *    `TimeMode.ProcessingTime`, whose `shouldRunAnotherBatch` is
  *    unconditionally true — the query schedules continuous empty
  *    micro-batches just to advance the TTL clock (wasteful at the
  *    reference's 1 s cadence) and never quiesces for
  *    `processAllAvailable`. Wall-clock TTL also breaks replay
  *    determinism, which the batch path's event-time sweep has.
  *  - manual-TTL MapState (`containsKey`/`updateValue` per event): two
  *    encoder+RocksDB point-ops per event cost ~40% of CDP throughput
  *    versus one row read/write per KEY per batch (a past measurement of
  *    the segment pipeline on synthetic events: 21k → 12k events/s).
  * Keeping the cache inline also means the stream and the batch replay
  * share `applyEvent`/`orderedFold` verbatim — dedup semantics (10 m
  * event-time TTL, 10k size cap, amortized sweep) are bit-identical by
  * construction.
  */
class CdpFoldProcessor extends StatefulProcessor[String, CdpEvent, CdpFold] {

  @transient private var profile: ValueState[ProfilePacked] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    profile = getHandle.getValueState[ProfilePacked]("profile",
      CdpFoldProcessor.ProfileEncoder, TTLConfig.NONE)
  }

  private def pack(st: ProfileState): ProfilePacked =
    ProfilePacked(
      st.userIds.toSeq.sorted, st.emails.toSeq.sorted,
      st.anonymousIds.toSeq.sorted,
      st.traits.toSeq.map { case (k, (v, t, eid)) => TraitKV(k, v, t, eid) }.sortBy(_.k),
      st.lastSeenUs,
      st.buckets.toSeq.map { case (b, n) => BucketKV(b, n) }.sortBy(_.b),
      st.segments.toSeq.sorted,
      st.seenEventIds.toSeq.map { case (id, t) => SeenKV(id, t) })

  private def unpack(p: ProfilePacked): ProfileState =
    ProfileState(
      p.userIds.toSet, p.emails.toSet, p.anonymousIds.toSet,
      p.traits.map(t => t.k -> ((t.v, t.ts, t.eid))).toMap,
      p.lastSeenUs,
      p.buckets.map(b => b.b -> b.n).toMap,
      p.segments.toSet,
      p.seen.map(s => s.id -> s.ts).toMap)

  override def handleInputRows(pid: String, rows: Iterator[CdpEvent],
                               timerValues: TimerValues): Iterator[CdpFold] = {
    val st0 = Option(profile.get()).map(unpack).getOrElse(ProfileState.empty)
    val (st, emits) = orderedFold(pid, st0, rows)
    if (st != st0) profile.update(pack(st))
    val changed = st.copy(seenEventIds = Map.empty) != st0.copy(seenEventIds = Map.empty)
    if (!changed && emits.isEmpty) Iterator.empty
    else Iterator.single(CdpFold(pid, emits, Option.when(changed)(toSnapshot(pid, st))))
  }
}

object CdpFoldProcessor {
  // derived once per JVM: init() runs per partition per micro-batch
  private val ProfileEncoder = Encoders.product[ProfilePacked]
}

/** Timer-driven reengage segment (`CdpPipeline.reengageEvents`): ENTER
  * when the watermark passes lastSeen + idle — a segment change with NO
  * new events, which is why it needs event-time timers. A second timer at
  * `idleMs * ReengageCleanupFactor` past lastSeen drops the state of a
  * profile that never returns (bounded state).
  *
  * transformWithState timers are explicit (register/delete), so the state
  * carries the armed timer's expiry and each batch deletes it before
  * re-arming — the fMGWS predecessor got that implicitly from its single
  * auto-reset timeout.
  */
class ReengageProcessor(idleMs: Long)
  extends StatefulProcessor[String, CdpEvent, SegmentEvent] {

  @transient private var st: ValueState[ReengageState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[ReengageState]("reengage",
      ReengageProcessor.StateEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(pid: String, rows: Iterator[CdpEvent],
                               timerValues: TimerValues): Iterator[SegmentEvent] = {
    val s0 = Option(st.get())
      .getOrElse(ReengageState(0L, inReengage = false, timerMs = -1L))
    val batch = rows.toSeq
    if (batch.isEmpty) return Iterator.empty
    val newest = batch.maxBy(e => (micros(e.ts), e.eventId))
    val lastSeen = math.max(s0.lastSeenUs, micros(newest.ts))
    val exits =
      if (s0.inReengage) Seq(SegmentEvent(pid, "reengage", "EXIT", newest.ts))
      else Nil
    if (s0.timerMs >= 0L) getHandle.deleteTimer(s0.timerMs)
    // fire when the watermark passes lastSeen + idle; the expiry must sit
    // beyond the current watermark or it would fire immediately
    val fireAt = math.max(timerValues.getCurrentWatermarkInMs() + 1L,
      lastSeen / 1000L + idleMs)
    getHandle.registerTimer(fireAt)
    st.update(ReengageState(lastSeen, inReengage = false, timerMs = fireAt))
    exits.iterator
  }

  override def handleExpiredTimer(pid: String, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[SegmentEvent] = {
    val s = st.get()
    if (!s.inReengage) {
      // idle horizon crossed: ENTER, then arm the cleanup timer
      val cleanupAt = math.max(timerValues.getCurrentWatermarkInMs() + 1L,
        s.lastSeenUs / 1000L + idleMs * ReengageCleanupFactor)
      getHandle.registerTimer(cleanupAt)
      st.update(s.copy(inReengage = true, timerMs = cleanupAt))
      Iterator.single(SegmentEvent(pid, "reengage", "ENTER",
        new Timestamp(s.lastSeenUs / 1000L + idleMs)))
    } else {
      // cleanup timer: the profile stayed idle the whole horizon — drop it
      st.clear()
      Iterator.empty
    }
  }
}

object ReengageProcessor {
  // derived once per JVM: init() runs per partition per micro-batch
  private val StateEncoder = Encoders.product[ReengageState]
}
