package graft.serve

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Simulator
import graft.streaming.{Alert, EntityEvent, EntityPipeline, ProfileSnapshot, SegmentEvent}

/** Bridges between the streaming pipelines and the HTTP/SSE hubs: the
  * JSON envelopes the reference emits, and the Spark-backed simulator
  * behind the `/sim` endpoints.
  */
object ServePipelines {

  // ---- envelopes (`AlertController.kt:83-95`, `CdpController.kt:183-220`)

  /** Reference alert shape (`core/Alert.kt:6-14`, `core/Rules.kt:43-57`):
    * {id, ts, rule, entityId, severity, evidence:{rate_now, threshold}}.
    * The id is a type-3 UUID of the alert's content — deterministic under
    * replay, where the reference's random UUID would differ per run.
    */
  def alertEnvelope(a: Alert): String = {
    val id = java.util.UUID.nameUUIDFromBytes(
      s"${a.rule}|${a.entityId}|${a.ts.getTime}|${a.rateNow}|${a.threshold}"
        .getBytes("UTF-8")).toString
    Json.obj("type" -> "alert", "data" -> scala.collection.immutable.ListMap(
      "id" -> id, "ts" -> a.ts, "rule" -> a.rule, "entityId" -> a.entityId,
      "severity" -> a.severity,
      "evidence" -> scala.collection.immutable.ListMap(
        "rate_now" -> a.rateNow, "threshold" -> a.threshold)))
  }

  def segmentEnvelope(e: SegmentEvent): String =
    Json.obj("type" -> "segment_event", "data" -> scala.collection.immutable.ListMap(
      "profileId" -> e.profileId, "segment" -> e.segment,
      "action" -> e.action, "ts" -> e.ts))

  /** The reference's ProfileSummary projection (`CdpController.kt:148-181`):
    * top-20 by lastSeen, identifier prefixes stripped, plan/country pulled
    * from traits, the 24 h TRACK counter as featureUsedCount.
    */
  def profileSummariesEnvelope(snapshots: Seq[ProfileSnapshot]): String = {
    val top = snapshots.sortBy(p => (-p.lastSeen.getTime, p.profileId)).take(20)
    Json.obj("type" -> "profile_summaries", "data" -> top.map { p =>
      scala.collection.immutable.ListMap(
        "profileId" -> p.profileId,
        "plan" -> p.traits.get("plan"),
        "country" -> p.traits.get("country"),
        "lastSeen" -> p.lastSeen,
        "identifiers" -> scala.collection.immutable.ListMap(
          "userIds" -> p.userIds.map(_.stripPrefix("user:")),
          "emails" -> p.emails.map(_.stripPrefix("email:")),
          "anonymousIds" -> p.anonymousIds.map(_.stripPrefix("anon:"))),
        "featureUsedCount" -> p.trackCount24h)
    })
  }

  /** Publish a micro-batch of alerts into the hub + stats. Collect is
    * bounded: alerts are the RESULT of the pipeline (rule hits), orders of
    * magnitude sparser than events; the SSE layer is inherently a
    * single-node fan-out point.
    */
  def publishAlerts(hub: EventHub, stats: StatsService)(
      batch: Dataset[Alert], batchId: Long): Unit = {
    val alerts = batch.collect()
    if (alerts.nonEmpty) {
      stats.recordAlerts(alerts.length.toLong)
      alerts.sortBy(a => (a.ts.getTime, a.entityId, a.rule))
        .foreach(a => hub.publish(alertEnvelope(a)))
    }
  }

  def publishSegments(hub: EventHub, evs: Seq[SegmentEvent]): Unit =
    evs.sortBy(e => (e.ts.getTime, e.profileId, e.segment))
      .foreach(e => hub.publish(segmentEnvelope(e)))

  /** Changed-only profile publication (W7): the hub-side dedup reuses
    * SnapshotSink.ChangedOnlyHub so an unchanged top-20 emits nothing.
    */
  def profilePublisher(hub: EventHub): SnapshotSink.ChangedOnlyHub[ProfileSnapshot] = {
    val changed = new SnapshotSink.ChangedOnlyHub[ProfileSnapshot]
    changed.subscribe(snap => hub.publish(profileSummariesEnvelope(snap)))
    changed
  }

  /** the `/sim` endpoints backed by real Structured Streaming queries, split
    * in two so reconfiguration is live (reference
    * `api/SimulatorController.kt:84-119` mutates a RUNNING simulator):
    *
    *   generator query: rate source → Simulator's deterministic columns →
    *     in-memory bus. STATELESS — `/sim/config` and `/profile` swap it
    *     without losing anything (a rate source's rate is fixed for its
    *     query's lifetime, so a restart is the only way to change it).
    *   pipeline query: bus → EntityPipeline rules → alerts hub. STATEFUL
    *     (sliding windows, EWMA) — it keeps running across reconfigs, so
    *     rule state survives exactly like the reference's pipeline does.
    *
    * Each generator generation offsets the deterministic event index so a
    * swapped-in generator never re-issues earlier eventIds. Event counts
    * reach stats from the generator's own collected batch (A10 — no extra
    * action).
    */
  final class SparkSim(spark: SparkSession, alertsHub: EventHub,
                       stats: StatsService, seed: Long = 42L) extends SimControl {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    private final case class Running(genQ: StreamingQuery, pipeQ: StreamingQuery,
                                     bus: MemoryStream[EntityEvent])
    private val state = new AtomicReference[Option[Running]](None)
    @volatile private var profileName = "SASE"
    @volatile private var rps0 = 10.0
    @volatile private var lateness0 = 90L
    private var generation = 0L // guarded by synchronized

    /** Start (or, on reconfig, swap in) the stateless generator. The
      * per-batch collect is bounded by rps x trigger interval — the same
      * bounded serving-layer collect as the hubs.
      */
    private def startGenerator(bus: MemoryStream[EntityEvent]): StreamingQuery = {
      import spark.implicits._
      generation += 1
      val events = Simulator
        .entityEventStream(spark, rps0, lateness0.toInt, profileName, seed,
          idxOffset = generation << 40)
        .as[EntityEvent]
      events.writeStream
        .queryName(s"sim_gen_$generation")
        .outputMode("append")
        .foreachBatch { (batch: Dataset[EntityEvent], _: Long) =>
          val evs = batch.collect()
          if (evs.nonEmpty) {
            bus.addData(evs.toSeq)
            stats.recordEvents(evs.length.toLong)
          }
          ()
        }
        .start()
    }

    override def start(profile: Option[String], rps: Double, latenessSec: Long): Boolean =
      synchronized {
        // a rejected start must not clobber the running stream's config:
        // the live query keeps its launch-time rate, so reporting the
        // rejected request's values would lie about what is running
        if (state.get.exists(_.pipeQ.isActive)) false
        else {
          // a dead-pipeline leftover (e.g. publishAlerts threw) still owns
          // a live generator — reap it, or the orphaned generator pumps a
          // consumerless bus forever
          cleanup()
          profile.foreach(profileName = _)
          rps0 = rps
          lateness0 = latenessSec
          import spark.implicits._
          implicit val sq = spark.sqlContext
          val bus = MemoryStream[EntityEvent]
          val pipeQ = EntityPipeline.alerts(spark, bus.toDS())
            .writeStream
            .queryName("sim_pipeline")
            .outputMode("append")
            .foreachBatch(publishAlerts(alertsHub, stats) _)
            .start()
          val genQ = startGenerator(bus)
          state.set(Some(Running(genQ, pipeQ, bus)))
          true
        }
      }

    /** Live reconfiguration: swap the generator under the running pipeline.
      * No-op when stopped (the new settings just apply to the next start).
      */
    private def applyLive(): Unit = state.get.foreach { r =>
      if (r.pipeQ.isActive) {
        r.genQ.stop()
        state.set(Some(r.copy(genQ = startGenerator(r.bus))))
      }
    }

    /** Stop both queries for whatever `state` holds — including a
      * half-dead pair (pipeline crashed, generator alive). Always safe to
      * call; no-op when state is empty.
      */
    private def cleanup(): Unit = state.getAndSet(None).foreach { r =>
      r.genQ.stop()
      r.pipeQ.stop()
    }

    override def stop(): Boolean = synchronized {
      val wasRunning = state.get.exists(_.pipeQ.isActive)
      cleanup()
      wasRunning
    }

    override def isRunning: Boolean = state.get.exists(_.pipeQ.isActive)
    override def currentProfile: String = profileName
    override def rps: Double = rps0
    override def latenessSec: Long = lateness0
    /** The stateful pipeline query's runId — stable across reconfigs (the
      * spec's proof that only the generator restarted).
      */
    def pipelineRunId: Option[java.util.UUID] = state.get.map(_.pipeQ.runId)
    override def setProfile(p: String): Unit = synchronized {
      profileName = p
      applyLive()
    }
    override def setConfig(rps: Option[Double], latenessSec: Option[Long]): Unit =
      synchronized {
        rps.foreach(rps0 = _)
        latenessSec.foreach(lateness0 = _)
        applyLive()
      }
  }
}
