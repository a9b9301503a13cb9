package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import CdpPipeline._

/** The CDP fold (`CdpPipeline.fold`, `segmentEvents`, `profileUpdates`)
  * on transformWithState (Spark 4's arbitrary-state API — typed state
  * variables, explicit timers, RocksDB changelog checkpointing). Per
  * profile per micro-batch it hands `emit` the batch's segment events and
  * the new state if the batch changed the profile (W7 changed-only: a
  * batch of pure duplicates changes nothing); each view's `emit` builds
  * only the rows that view outputs. seenEventIds is a cache, not profile
  * content — ignored when deciding whether the profile changed.
  *
  * State is ONE ValueState[ProfileState] per profile, dedup cache
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
class CdpFoldProcessor[T](emit: (String, Seq[SegmentEvent], Option[ProfileState]) => Iterator[T])
  extends StatefulProcessor[String, CdpEvent, T] {

  @transient private var profile: ValueState[ProfileState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    profile = getHandle.getValueState[ProfileState]("profile",
      CdpFoldProcessor.ProfileEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(pid: String, rows: Iterator[CdpEvent],
                               timerValues: TimerValues): Iterator[T] = {
    val st0 = Option(profile.get()).getOrElse(ProfileState.empty)
    val (st, emits) = orderedFold(pid, st0, rows)
    if (st != st0) profile.update(st)
    val changed = st.copy(seenEventIds = Map.empty) != st0.copy(seenEventIds = Map.empty)
    emit(pid, emits, Option.when(changed)(st))
  }
}

object CdpFoldProcessor {
  // derived once per JVM: init() runs per partition per micro-batch
  private val ProfileEncoder = Encoders.product[ProfileState]
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
