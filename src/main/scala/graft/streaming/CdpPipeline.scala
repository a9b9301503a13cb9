package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming CDP pipeline (SURVEY §3.2): dedup → profile merge (grow-only
  * identifiers, LWW traits, lastSeen, rolling 24 h track counter) →
  * segment evaluation → ENTER/EXIT emission.
  *
  * The per-event transition is a pure function (`applyCore`), used by both
  * the streaming fold (`CdpFoldProcessor` on `transformWithState`) and
  * the batch replay (`profileSnapshots`, mapGroups) — so batch results are
  * the replayed fixpoint of the stream, which is how correctness is tested.
  *
  * Reference semantics preserved:
  *  - dedup per (profile, eventId), independent across profiles
  *    (`CdpEventProcessor.kt:182-186`, pinned by its test)
  *  - LWW accepts equal-timestamp updates (later arrival wins,
  *    `ProfileStore.kt:85-122`)
  *  - per-profile events applied in (ts, eventId) order (W3)
  *  - power_user: 24 h TRACK count >= 5; pro_plan: traits("plan") == "pro"
  *    (`SegmentEngine.kt:125-151`); segment events carry the triggering
  *    event time (deterministic replay; the reference stamps wall-clock)
  *  - rolling counter: 1-minute buckets, trailing 24 h
  *    (`RollingCounter.kt:39-168`)
  */
object CdpPipeline {

  val PowerUserThreshold = 5
  private val DayMs = 86400000L
  private val BucketMs = 60000L
  private val DedupTtlMs = 600000L // reference dedup-ttl: 10 m
  private val DedupPruneAt = 10000 // amortize the TTL sweep

  /** Event-time microseconds (getTime() is ms-truncated; sub-ms lives in
    * getNanos) — LWW and ordering must see the full µs precision the
    * batch/oracle side uses.
    */
  def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  case class ProfileState(
      userIds: Set[String],
      emails: Set[String],
      anonymousIds: Set[String],
      traits: Map[String, (String, Long, String)], // value, ts-micros, eventId of last write
      lastSeenUs: Long, // event-time microseconds
      // (minute bucket, TRACK count), ascending by bucket. Not a
      // Map[Long, Long]: the fold stores this class as its
      // transformWithState value, whose schema is written as Avro
      // metadata, and Avro map keys must be strings — a Long-keyed map
      // fails at query start (seen on Spark 4.1.2)
      buckets: Seq[(Long, Long)],
      segments: Set[String],
      seenEventIds: Map[String, Long]) // eventId -> ts-micros (recency cache)

  object ProfileState {
    val empty: ProfileState =
      ProfileState(Set.empty, Set.empty, Set.empty, Map.empty, 0L,
        Nil, Set.empty, Map.empty)
  }

  /** The reference's routing key (`CdpEvent.kt:28-30`). */
  def profileId(e: CdpEvent): String =
    e.userId.map("user:" + _)
      .orElse(e.anonymousId.map("anon:" + _))
      .getOrElse("event:" + e.eventId)

  /** Pure per-event transition WITHOUT dedup bookkeeping: `seenEventIds`
    * passes through untouched. Both the streaming fold and the batch
    * replay reach it through `applyEvent` (dedup check + seen-id sweep) —
    * the fold keeps the dedup cache INLINE in its single ValueState row,
    * see the `CdpFoldProcessor` doc for the two rejected MapState designs.
    * Caller must feed events in (ts, eventId) order per profile and must
    * have dedup-checked already.
    */
  def applyCore(pid: String, st: ProfileState, e: CdpEvent): (ProfileState, Seq[SegmentEvent]) = {
    val t = micros(e.ts)
    val userIds = st.userIds ++ e.userId
    val emails = st.emails ++ e.email.map(_.trim.toLowerCase)
    val anons = st.anonymousIds ++ e.anonymousId
    // LWW per trait key under the TOTAL order (ts, eventId) — the same
    // order batch replay sorts the whole log by. Breaking equal-ts ties
    // by arrival instead would let two equal-ts writes split across
    // micro-batches resolve differently in stream vs replay (the replay
    // fixpoint contract in the header), so the tie is data, not arrival:
    // larger eventId wins.
    val traits = e.traits.foldLeft(st.traits) { case (acc, (k, v)) =>
      acc.get(k) match {
        case Some((_, prevTs, prevEid))
          if t < prevTs || (t == prevTs && e.eventId < prevEid) => acc
        case _ => acc.updated(k, (v, t, e.eventId))
      }
    }
    val lastSeen = math.max(st.lastSeenUs, t)
    val tMs = t / 1000L
    val buckets0 =
      if (e.eventType == "TRACK") {
        val b = (tMs / BucketMs) * BucketMs
        val (lo, hi) = st.buckets.span(_._1 < b)
        hi.headOption match {
          case Some((`b`, n)) => lo ++ ((b, n + 1L) +: hi.tail)
          case _ => lo ++ ((b, 1L) +: hi)
        }
      } else st.buckets
    // prune buckets outside the trailing 24 h of the newest event seen
    val horizon = ((lastSeen / 1000L - DayMs) / BucketMs) * BucketMs
    val buckets = buckets0.dropWhile(_._1 < horizon)
    val track24h = buckets.iterator.map(_._2).sum
    val segs = Set.newBuilder[String]
    if (track24h >= PowerUserThreshold) segs += "power_user"
    if (traits.get("plan").exists(_._1 == "pro")) segs += "pro_plan"

    val newSegs = segs.result()
    val emits =
      (newSegs -- st.segments).toSeq.sorted.map(SegmentEvent(pid, _, "ENTER", e.ts)) ++
        (st.segments -- newSegs).toSeq.sorted.map(SegmentEvent(pid, _, "EXIT", e.ts))
    (ProfileState(userIds, emails, anons, traits, lastSeen, buckets, newSegs,
      st.seenEventIds), emits)
  }

  /** Batch transition: dedup check + core + the hand-rolled seen-id sweep.
    * The sweep mirrors the reference's Caffeine config (10 m TTL,
    * maximumSize 10k — `CdpEventProcessor.kt:344-351`): recent ids are
    * ALWAYS tracked; old ones age out; a hot profile exceeding the size
    * cap within the TTL gets size-evicted (keep most-recent half-cap),
    * exactly as Caffeine's maximumSize would — bounded state, amortized
    * O(1)/event sweep, dedup exact within TTL up to the size cap. The
    * streaming fold keeps the same cache inline in its profile
    * `ValueState` and sweeps it through this same function, so batch
    * replay and stream dedup stay bit-identical.
    */
  def applyEvent(pid: String, st: ProfileState, e: CdpEvent): (ProfileState, Seq[SegmentEvent]) = {
    if (st.seenEventIds.contains(e.eventId)) return (st, Nil)
    val (next, emits) = applyCore(pid, st, e)
    val t = micros(e.ts)
    val seen0 = st.seenEventIds.updated(e.eventId, t)
    val seen =
      if (seen0.size <= DedupPruneAt) seen0
      else {
        val ttlPruned = seen0.filter(_._2 >= t - DedupTtlMs * 1000L)
        if (ttlPruned.size <= DedupPruneAt) ttlPruned
        else ttlPruned.toSeq.sortBy(-_._2).take(DedupPruneAt / 2).toMap
      }
    (next.copy(seenEventIds = seen), emits)
  }

  private[streaming] def orderedFold(pid: String, st0: ProfileState, rows: Iterator[CdpEvent])
  : (ProfileState, Seq[SegmentEvent]) = {
    val ordered = rows.toSeq.sortBy(e => (micros(e.ts), e.eventId))
    ordered.foldLeft((st0, Seq.empty[SegmentEvent])) { case ((st, acc), e) =>
      val (next, emits) = applyEvent(pid, st, e)
      (next, acc ++ emits)
    }
  }

  /** The CDP fold over `events` on transformWithState, each profile's
    * micro-batch emitted through `emit` (see `CdpFoldProcessor`).
    */
  private def foldWith[T: Encoder](events: Dataset[CdpEvent])(
      emit: (String, Seq[SegmentEvent], Option[ProfileState]) => Iterator[T]): Dataset[T] =
    events.groupByKey(profileId)(Encoders.STRING)
      .transformWithState(new CdpFoldProcessor(emit), TimeMode.None(), OutputMode.Append())

  /** Streaming: the CDP fold — per profile per micro-batch one `CdpFold`
    * row of segment events and changed-only snapshot, so one query serves
    * both views from one state copy.
    */
  def fold(spark: SparkSession, events: Dataset[CdpEvent]): Dataset[CdpFold] = {
    import spark.implicits._
    foldWith(events) { (pid, emits, changed) =>
      if (emits.isEmpty && changed.isEmpty) Iterator.empty
      else Iterator.single(CdpFold(pid, emits, changed.map(toSnapshot(pid, _))))
    }
  }

  /** Streaming: segment ENTER/EXIT events, the fold's events alone. */
  def segmentEvents(spark: SparkSession, events: Dataset[CdpEvent]): Dataset[SegmentEvent] = {
    import spark.implicits._
    foldWith(events)((_, emits, _) => emits.iterator)
  }

  private[streaming] def toSnapshot(pid: String, st: ProfileState): ProfileSnapshot =
    ProfileSnapshot(pid,
      st.userIds.toSeq.sorted, st.emails.toSeq.sorted,
      st.anonymousIds.toSeq.sorted,
      st.traits.map { case (k, (v, _, _)) => k -> v },
      st.buckets.iterator.map(_._2).sum,
      new Timestamp(st.lastSeenUs / 1000L),
      st.segments.toSeq.sorted)

  /** Streaming: one updated ProfileSnapshot per profile per micro-batch
    * that CHANGED it — the fold's snapshots alone (W7 changed-only at
    * the operator, not the sink: a batch of pure duplicates emits
    * nothing). This is the stream the profiles SSE endpoint consumes —
    * the reference polls its profile store every second instead
    * (`CdpController.kt:105-146`); emitting on change needs no store
    * polling and no second state copy downstream.
    */
  def profileUpdates(spark: SparkSession, events: Dataset[CdpEvent]): Dataset[ProfileSnapshot] = {
    import spark.implicits._
    foldWith(events)((pid, _, changed) => changed.iterator.map(toSnapshot(pid, _)))
  }

  /** lastSeenUs: newest event-time seen; inReengage: ENTER fired, awaiting
    * return or cleanup; timerMs: the registered timer's expiry (so the next
    * batch can delete it before re-arming — transformWithState timers are
    * explicit, not the single auto-reset timeout fMGWS had).
    */
  case class ReengageState(lastSeenUs: Long, inReengage: Boolean, timerMs: Long)

  val ReengageCleanupFactor = 10L

  /** Streaming reengage segment (`SegmentEngine.kt:147-151`): a profile
    * ENTERs `reengage` when idle longer than `idleMs` — a segment change
    * with NO new events, which is why it needs timers, not per-event
    * evaluation (SURVEY §7.4 item 5). Event-time timers make it
    * deterministic in replay: the timer fires when the WATERMARK passes
    * lastSeen + idle (the reference uses wall-clock `now`); the ENTER is
    * stamped with the logical instant lastSeen + idle. A new event while
    * in reengage emits EXIT stamped with that event's time.
    *
    * `events` must carry a watermark on `ts` (the caller picks the
    * lateness bound); state per profile is three registers.
    *
    * Bounded state: a profile that ENTERs reengage and never returns must
    * not pin its registers forever. After the ENTER fires, a second
    * timer at `idleMs * ReengageCleanupFactor` past lastSeen removes the
    * state entirely — an EXIT for a return beyond that horizon is lost
    * (the profile re-folds from empty), the same bounded-state trade
    * every watermark-bounded dedup makes.
    */
  def reengageEvents(spark: SparkSession, events: Dataset[CdpEvent],
                     idleMs: Long): Dataset[SegmentEvent] = {
    import spark.implicits._
    events
      .groupByKey(profileId)
      .transformWithState(new ReengageProcessor(idleMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch replay: final profile snapshots after folding the whole log. */
  def profileSnapshots(spark: SparkSession, events: Dataset[CdpEvent]): Dataset[ProfileSnapshot] = {
    import spark.implicits._
    events
      .groupByKey(profileId)
      .mapGroups { (pid, rows) =>
        val (st, _) = orderedFold(pid, ProfileState.empty, rows)
        toSnapshot(pid, st)
      }
  }

  /** `orderedFold` + `toSnapshot` over a profile's events ALREADY in
    * (micros(ts), eventId) order — the fold a caller uses when the engine
    * sorted the shuffle partitions (q_cdp_profile_replay's narrow replay:
    * the rows arrive sorted by (ts, eventId), so re-sorting boxed objects
    * per group would only repeat work). Same applyEvent transition, same
    * snapshot projection; CdpReplayNarrowSpec holds it equal to
    * `profileSnapshots`.
    */
  def foldPreSorted(pid: String, rows: Iterator[CdpEvent]): ProfileSnapshot = {
    var st = ProfileState.empty
    rows.foreach { e => st = applyEvent(pid, st, e)._1 }
    toSnapshot(pid, st)
  }
}
