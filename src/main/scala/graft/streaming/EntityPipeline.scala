package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming entity-analytics pipeline (SURVEY §3.1): per-(entityId, type)
  * stateful sliding windows + EWMA + rule predicates, emitting alerts.
  *
  * Re-expresses the reference's WindowStore + Rules loop
  * (`core/WindowStore.kt:37-147`, `core/Rules.kt:37-93`,
  * `ingest/Processor.kt:79-129`) as one `transformWithState` operator
  * (`EntityAlertProcessor`): state = bounded deque of (ts, value) within
  * the horizon (a typed ListState) plus the EWMA register (a ValueState);
  * every event appends, prunes, computes the window aggregates anchored at
  * its own event time (inclusive bounds), updates EWMA with the current
  * value BEFORE comparing (the reference's R2 ordering,
  * `core/Rules.kt:70-74`), and emits alerts.
  *
  * Scale: state is per-key and bounded by the horizon; keys partition
  * across executors (one shuffle); events within a micro-batch are applied
  * in (ts, eventId) order per key, so replay is deterministic.
  */
object EntityPipeline {

  /** points carry (ts, value, geo, device) so R3 can scan the trailing
    * conflict window without separate state.
    */
  case class WindowState(
      points: List[(Long, Double, Option[String], Option[String])],
      ewma: Option[Double])

  case class RuleConfig(
      horizonMs: Long = 3600000L, // 1 h: R4's avg window dominates
      r1Factor: Double = 3.0,
      r1MinRate: Double = 20.0,
      r2Alpha: Double = 0.1,
      r2Factor: Double = 4.0,
      r2MinCount: Long = 5,
      r3WindowMs: Long = 120000L,
      r4FactorP95: Double = 10.0,
      r4MinThreshold: Double = 1000.0)

  def severity(value: Double, threshold: Double): String =
    if (threshold <= 0) "HIGH"
    else if (value / threshold >= 10.0) "HIGH"
    else if (value / threshold >= 5.0) "MEDIUM"
    else "LOW"

  def alerts(spark: SparkSession, events: Dataset[EntityEvent],
             cfg: RuleConfig = RuleConfig()): Dataset[Alert] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.entityId, e.eventType))
      .transformWithState(new EntityAlertProcessor(cfg),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Pure fold of one ordered micro-batch: (state, events) → (state,
    * alerts). Shared core between the streaming processor and any replay;
    * caller must feed events in (ts, eventId) order.
    *
    * One pass over a merged timeline: the state points sorted by ts, with
    * the batch's events merged in their given order and state points
    * placed first on equal ts. An event at timeline position `p` then sees
    * exactly the window the per-event deque would hold — every state point
    * with ts ≤ its own ts plus the events before it — so each inclusive
    * [t − min(w, horizon), t] aggregate is a prefix-sum difference over a
    * binary-searched lower bound, and R3's distinct tags come from two
    * count maps slid forward with the window. Values are whole numbers
    * (`Long` or the default 1.0), so prefix-sum differences equal the
    * filtered sums exactly and the alerts are bit-identical to a re-scan.
    * The returned points keep the deque's order (batch events newest
    * first, then the state points), pruned to the last event's horizon.
    */
  private[streaming] def foldEvents(
      entityId: String, st0: WindowState, ordered: Seq[EntityEvent],
      cfg: RuleConfig): (WindowState, Seq[Alert]) = {
    if (ordered.isEmpty) return (st0, Nil)
    val evs = ordered.toArray
    val held = st0.points.toArray.sortBy(_._1)
    val n = held.length + evs.length
    val ts = new Array[Long](n)
    val prefix = new Array[Double](n + 1)
    val geo = new Array[String](n)
    val dev = new Array[String](n)
    val evPos = new Array[Int](evs.length)
    val evVal = evs.map(_.value.map(_.toDouble).getOrElse(1.0)) // Processor.kt:134-139
    var i = 0
    var j = 0
    while (i + j < n) {
      val k = i + j
      if (j == evs.length || (i < held.length && held(i)._1 <= evs(j).ts.getTime)) {
        val p = held(i)
        ts(k) = p._1; prefix(k + 1) = prefix(k) + p._2
        geo(k) = p._3.orNull; dev(k) = p._4.orNull
        i += 1
      } else {
        val e = evs(j)
        ts(k) = e.ts.getTime; prefix(k + 1) = prefix(k) + evVal(j)
        geo(k) = e.geo.orNull; dev(k) = e.device.orNull
        evPos(j) = k
        j += 1
      }
    }
    // first position in [0, end) whose ts ≥ from, else `end`
    def lowerBound(end: Int, from: Long): Int = {
      var lo = 0
      var h = end
      while (lo < h) {
        val mid = (lo + h) >>> 1
        if (ts(mid) < from) lo = mid + 1 else h = mid
      }
      lo
    }
    // R3's trailing window [r3Lo, r3Hi) as non-null tag → count
    val geos = mutable.HashMap.empty[String, Int]
    val devs = mutable.HashMap.empty[String, Int]
    def add(m: mutable.HashMap[String, Int], s: String): Unit =
      if (s != null) m.update(s, m.getOrElse(s, 0) + 1)
    def drop(m: mutable.HashMap[String, Int], s: String): Unit =
      if (s != null) {
        val c = m(s) - 1
        if (c == 0) m.remove(s) else m.update(s, c)
      }
    var r3Lo = 0
    var r3Hi = 0
    var ewmaReg = st0.ewma
    val out = Seq.newBuilder[Alert]
    j = 0
    while (j < evs.length) {
      val e = evs(j)
      val p = evPos(j)
      val t = ts(p)
      val v = evVal(j)
      // inclusive-bound window aggregates anchored at the event ts; the
      // upper bound matters for late events whose state already holds
      // points with LATER timestamps (batch RANGE frames exclude them too)
      def lo(ms: Long) = lowerBound(p + 1, t - math.min(ms, cfg.horizonMs))
      def cnt(ms: Long) = (p + 1 - lo(ms)).toDouble
      def sum(ms: Long) = prefix(p + 1) - prefix(lo(ms))
      val rateNow = cnt(60000L)
      val cnt5m = cnt(300000L)
      val avg5m = if (cnt5m == 0) 0.0 else sum(300000L) / cnt5m
      val cnt1h = cnt(cfg.horizonMs)
      val avg1h = if (cnt1h == 0) 0.0 else sum(cfg.horizonMs) / cnt1h
      val sum30s = sum(30000L)
      // R2 updates EWMA with the current value before comparing
      val ewma = ewmaReg match {
        case None => v
        case Some(prev) => cfg.r2Alpha * v + (1 - cfg.r2Alpha) * prev
      }
      ewmaReg = Some(ewma)
      val thr1 = avg5m * cfg.r1Factor
      if (rateNow > thr1 && rateNow >= cfg.r1MinRate)
        out += Alert(e.ts, "R1_VELOCITY_SPIKE", entityId,
          severity(rateNow, thr1), rateNow, thr1)
      val thr2 = ewma * cfg.r2Factor
      if (v > thr2 && rateNow >= cfg.r2MinCount)
        out += Alert(e.ts, "R2_VALUE_SPIKE", entityId,
          severity(v, thr2), v, thr2)
      // R3: conflicting geo/device tags in the trailing window — the real
      // implementation of the reference's stubbed spec (Rules.kt:98-154)
      while (r3Hi <= p) { add(geos, geo(r3Hi)); add(devs, dev(r3Hi)); r3Hi += 1 }
      val r3From = lo(cfg.r3WindowMs)
      while (r3Lo < r3From) { drop(geos, geo(r3Lo)); drop(devs, dev(r3Lo)); r3Lo += 1 }
      if (geos.size > 1 || devs.size > 1)
        out += Alert(e.ts, "R3_TAG_MISMATCH", entityId, "MEDIUM",
          math.max(geos.size, devs.size).toDouble, 1.0)
      // R4: exfil — sum(30 s) above the P95 fallback
      // max(floor(factor * avg1h), min) (Rules.kt:159-200)
      val thr4 = math.max(math.floor(avg1h * cfg.r4FactorP95), cfg.r4MinThreshold)
      if (sum30s > thr4)
        out += Alert(e.ts, "R4_EXFIL", entityId, "HIGH", sum30s, thr4)
      j += 1
    }
    val cut = evs.last.ts.getTime - cfg.horizonMs
    val newest = evs.indices.reverseIterator
      .map(k => (evs(k).ts.getTime, evVal(k), evs(k).geo, evs(k).device))
    val pts = (newest ++ st0.points.iterator).filter(_._1 >= cut).toList
    (WindowState(pts, ewmaReg), out.result())
  }
}

/** transformWithState processor for `EntityPipeline.alerts`. The window
  * deque lives in a typed `ListState` and the EWMA register in a
  * `ValueState` — read once per micro-batch, folded in memory, written
  * back once. When no point aged out of the horizon, only the NEW points
  * are appended (an append-only RocksDB changelog write); a prune rewrites
  * the list. Point order in state is irrelevant: `foldEvents` sorts the
  * state points by ts and merges the batch's (ts, eventId)-sorted events
  * into that timeline (state first on equal ts), so each window aggregate
  * covers the timeline up to the event's own position — order sensitivity
  * lives in the per-batch event sort, not the deque.
  *
  * DEAD-KEY TRADEOFF (deliberate): an entity that stops sending pins its
  * last window (≤ horizon of points) + EWMA register forever — total
  * state is O(distinct keys ever seen), not O(live keys). Both eviction
  * mechanisms were considered and rejected: processing-time `TTLConfig`
  * forces `TimeMode.ProcessingTime`, whose never-quiescing empty batches
  * and wall-clock nondeterminism the CdpProcessors doc details; and
  * event-time cleanup timers (ReengageProcessor's pattern) require a
  * watermark on THIS stream, which would make Spark drop exactly the
  * late events the two-tier lateness machinery exists to classify. Under
  * ephemeral-key workloads (session ids, NATed IPs) bound the key space
  * upstream — pre-filter to entities worth tracking — rather than here.
  */
class EntityAlertProcessor(cfg: EntityPipeline.RuleConfig)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    (String, String), EntityEvent, Alert] {

  import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, TimerValues, ValueState}
  import EntityAlertProcessor.{Point, PointEncoder}

  @transient private var points: ListState[Point] = _
  @transient private var ewma: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    points = getHandle.getListState[Point]("points",
      PointEncoder, TTLConfig.NONE)
    ewma = getHandle.getValueState[Double]("ewma",
      Encoders.scalaDouble, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: (String, String), rows: Iterator[EntityEvent],
      timerValues: TimerValues): Iterator[Alert] = {
    val pts0 = points.get().toList
    val st0 = EntityPipeline.WindowState(pts0,
      if (ewma.exists()) Some(ewma.get()) else None)
    // deterministic replay: apply in (ts, eventId) order within the batch
    val ordered = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
    val (st, alerts) = EntityPipeline.foldEvents(key._1, st0, ordered, cfg)
    // each event prepends exactly one point; pruning only removes — so a
    // size match means nothing aged out and the new points are the first
    // `ordered.size` entries: append-only changelog write. Otherwise the
    // horizon moved and the list is rewritten.
    if (st.points.size == pts0.size + ordered.size)
      points.appendList(st.points.take(ordered.size).toArray)
    else
      points.put(st.points.toArray)
    st.ewma.foreach(ewma.update)
    alerts.iterator
  }
}

object EntityAlertProcessor {
  type Point = (Long, Double, Option[String], Option[String])

  // derived once per JVM: init() runs per partition per micro-batch
  private val PointEncoder = Encoders.product[Point]
}
