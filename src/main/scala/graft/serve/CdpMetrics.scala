package graft.serve

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The reference's CDP metric surface (`docs/cdp/README.md:595-604`,
  * registered in `cdp/runtime/CdpEventProcessor.kt:78-160`) mapped onto
  * Spark's OWN telemetry — no hand-rolled counters inside operators:
  *
  *  - cdp.events.processed   ← progress.numInputRows (cumulative)
  *  - cdp.profiles.total     ← the serving profile-store size when a
  *                             `profileCount` supplier is given (exactly
  *                             the reference's metric: its in-memory
  *                             store size); otherwise
  *                             stateOperators.numRowsTotal. The fallback
  *                             over-counts under transformWithState,
  *                             where numRowsTotal sums rows across ALL
  *                             state variables (profile + dedup-cache
  *                             entries + counters), not keyed profiles
  *  - cdp.events.buffered    ← stateOperators.numRowsUpdated last batch
  *                             (rows re-materialized this micro-batch)
  *  - cdp.watermark.lag_ms   ← wall clock minus the progress watermark
  *  - cdp.events.late        ← the `lateness/late_count` observe() metric
  *                             of the monitored query, if it observes one
  *  - cdp.events.dropped     ← beyond-watermark rows never reach the
  *                             operator; Spark 4 reports them per sink via
  *                             numRowsDroppedByWatermark, summed here
  *  - cdp.events.dedup_hits  ← numRowsDroppedByWatermark of the dedup
  *                             operator is the TTL-evicted analogue; exact
  *                             dedup hits = processed - distinct outputs,
  *                             observable per-query (not aggregated here)
  *
  * Attach one listener per monitored query name; snapshot served by
  * `/stats/cdp`.
  */
final class CdpMetrics(queryName: Option[String] = None,
                       profileCount: Option[() => Long] = None,
                       watermarkQuery: Option[String] = None)
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
    // watermark lag can come from a DIFFERENT query than the counters:
    // the CDP fold is TimeMode.None (per-key ordered fold, no watermark
    // op), while the timer-driven reengage query carries the serving
    // path's event-time watermark
    if (watermarkQuery.contains(p.name)) recordWatermark(p)
    if (queryName.forall(n => n == p.name)) {
      processed.addAndGet(p.numInputRows)
      val om = p.observedMetrics
      if (om.containsKey("lateness"))
        late.addAndGet(om.get("lateness").getLong(0))
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
