package graft.serve

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, current_timestamp, lit, when}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{CdpEvent, Watermarks}

/** The reference's CDP metric surface (`docs/cdp/README.md:595-604`,
  * registered in `cdp/runtime/CdpEventProcessor.kt:78-160`) mapped onto
  * Spark's OWN telemetry — no hand-rolled counters inside operators.
  * `snapshot` serves:
  *
  *  - cdp.events.processed   ← `processed` of the `cdp_events` observed
  *                             row (see [[CdpMetrics.observe]]), summed
  *                             over batches. Not numInputRows: a query
  *                             whose branches each scan the bus counts
  *                             every event once per branch there
  *  - cdp.events.late        ← `late` of the same row: events W2's
  *                             `Watermarks.lateClass` does not call normal
  *  - cdp.events.dropped     ← stateOperators.numRowsDroppedByWatermark,
  *                             summed: rows behind the watermark that an
  *                             event-time operator ignored (the serve
  *                             query's reengage timer; the fold has no
  *                             watermark and drops nothing)
  *  - cdp.profiles.total     ← the serving profile-store size when a
  *                             `profileCount` supplier is given (exactly
  *                             the reference's metric: its in-memory
  *                             store size); otherwise
  *                             stateOperators.numRowsTotal. The fallback
  *                             over-counts under transformWithState,
  *                             where numRowsTotal sums rows across ALL
  *                             state variables, not keyed profiles
  *  - cdp.events.buffered    ← stateOperators.numRowsUpdated last batch,
  *                             summed over the query's state operators
  *                             (the serve query's fold and reengage timer)
  *  - cdp.watermark.lag_ms   ← wall clock minus the progress watermark
  *  - cdp.batch.p50_ms/p99_ms ← the retained micro-batch durations
  *
  * Attach one listener per monitored query name; snapshot served by
  * `/stats/cdp`.
  */
final class CdpMetrics(queryName: Option[String] = None,
                       profileCount: Option[() => Long] = None)
  extends StreamingQueryListener {

  private val processed = new AtomicLong(0L)
  private val late = new AtomicLong(0L)
  private val dropped = new AtomicLong(0L)
  private val profilesTotal = new AtomicLong(0L)
  private val buffered = new AtomicLong(0L)
  private val watermarkLagMs = new AtomicLong(-1L)
  // bounded ring of recent micro-batch durations (ms) — the serving
  // latency envelope a soak reads as p50/p99; 1024 batches ≈ the last
  // ~17 min at a 1 s cadence, constant memory at any uptime. Atomic
  // because the listener thread writes while HTTP threads read the
  // percentiles — a plain Array[Long] can serve stale/torn longs
  private val batchRing = new java.util.concurrent.atomic.AtomicLongArray(1024)
  private val batchCount = new AtomicLong(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Wall clock minus `p`'s event-time watermark, if it reports one. */
  private def recordWatermark(p: StreamingQueryProgress): Unit = {
    val wm = p.eventTime.get("watermark")
    if (wm != null && wm.nonEmpty)
      try {
        val wmMs = java.time.Instant.parse(wm).toEpochMilli
        if (wmMs > 0) watermarkLagMs.set(System.currentTimeMillis() - wmMs)
      } catch { case _: Exception => }
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (queryName.forall(n => n == p.name)) {
      val observed = p.observedMetrics.get(CdpMetrics.Observed)
      if (observed != null) {
        processed.addAndGet(observed.getAs[Long]("processed"))
        late.addAndGet(observed.getAs[Long]("late"))
      }
      val ops = p.stateOperators
      if (ops.nonEmpty) {
        profilesTotal.set(ops.map(_.numRowsTotal).max)
        buffered.set(ops.map(_.numRowsUpdated).sum)
        dropped.addAndGet(ops.map(_.numRowsDroppedByWatermark).sum)
      }
      recordWatermark(p)
      val i = batchCount.getAndIncrement()
      batchRing.set((i % batchRing.length).toInt, p.batchDuration)
    }
  }

  /** Percentile over the retained batch-duration ring (nearest-rank). */
  private def batchPct(p: Double): Long = {
    val n = math.min(batchCount.get(), batchRing.length.toLong).toInt
    if (n == 0) -1L
    else {
      val s = Array.tabulate(n)(batchRing.get).sorted
      s(math.min(n - 1, math.max(0, math.ceil(p * n).toInt - 1)))
    }
  }

  /** Snapshot in the reference's metric names. */
  def snapshot: Map[String, Long] = scala.collection.immutable.ListMap(
    "cdp.events.processed" -> processed.get,
    "cdp.events.late" -> late.get,
    "cdp.events.dropped" -> dropped.get,
    // supplier read live at snapshot time: the listened query's sink
    // fills the store before its progress event is posted, and the
    // listener bus delivers that event asynchronously, so a value cached
    // here would trail the store by that delay
    "cdp.profiles.total" -> profileCount.map(_()).getOrElse(profilesTotal.get),
    "cdp.events.buffered" -> buffered.get,
    "cdp.watermark.lag_ms" -> watermarkLagMs.get,
    "cdp.batch.p50_ms" -> batchPct(0.50),
    "cdp.batch.p99_ms" -> batchPct(0.99))

  def attach(spark: SparkSession): CdpMetrics = {
    spark.streams.addListener(this)
    this
  }

  def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
}

object CdpMetrics {

  /** Name of the observed row `observe` attaches. */
  private val Observed = "cdp_events"

  /** `events` observed as one `cdp_events` row per micro-batch: `processed`
    * (rows) and `late` (rows W2's lateClass — 5 s soft lag, 120 s grace
    * against the batch clock — does not call normal). Apply it once per
    * query, on one branch's input, so each event counts once.
    */
  def observe(events: Dataset[CdpEvent]): Dataset[CdpEvent] =
    events.observe(Observed, count(lit(1)).as("processed"),
      count(when(Watermarks.lateClass(col("ts"), current_timestamp(), 5, 120) =!= "normal",
        true)).as("late"))
}
