package pbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Alert, CdpEvent, CdpPipeline, EntityEvent, EntityPipeline,
  ProfileSnapshot, SegmentEvent}

/** `stream_replay`: closed-loop throughput of the streaming layer. A
  * seeded log is pushed through `EntityPipeline.alerts`, then through
  * `CdpPipeline.segmentEvents` and `profileUpdates`, each from its own
  * MemoryStream, in fixed-size micro-batches with `processAllAvailable`
  * between them.
  */
object StreamReplay {

  val BatchEvents = 20000
  val WarmEvents = 2000
  val Entities = 20000
  val Profiles = 200000

  final class Replay(val spark: SparkSession, val collector: Option[Collector],
                     seed: Long) {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val entityLog = new Logs.EntityLog(seed, Entities, Logs.BaseMs)
    val cdpLog = new Logs.CdpLog(seed, Profiles, Logs.BaseMs)
    val entityIn = MemoryStream[EntityEvent]
    val segmentsIn = MemoryStream[CdpEvent]
    val profilesIn = MemoryStream[CdpEvent]
    val entityPushed = mutable.ArrayBuffer.empty[EntityEvent]
    val cdpPushed = mutable.ArrayBuffer.empty[CdpEvent]
    val alerts = mutable.ArrayBuffer.empty[Alert]
    var segmentEvents = 0L
    val profiles = mutable.HashMap.empty[String, ProfileSnapshot]

    val alertQ: StreamingQuery = EntityPipeline.alerts(spark, entityIn.toDS())
      .writeStream.queryName("alerts").outputMode("append")
      .foreachBatch { (b: Dataset[Alert], _: Long) => alerts ++= b.collect(); () }
      .start()
    val segmentQ: StreamingQuery = CdpPipeline.segmentEvents(spark, segmentsIn.toDS())
      .writeStream.queryName("segments").outputMode("append")
      .foreachBatch { (b: Dataset[SegmentEvent], _: Long) =>
        segmentEvents += b.collect().length; ()
      }
      .start()
    val profileQ: StreamingQuery = CdpPipeline.profileUpdates(spark, profilesIn.toDS())
      .writeStream.queryName("profiles").outputMode("append")
      .foreachBatch { (b: Dataset[ProfileSnapshot], _: Long) =>
        b.collect().foreach(p => profiles.put(p.profileId, p)); ()
      }
      .start()

    def pushEntity(n: Int): Unit = {
      val evs = entityLog.next(n)
      entityPushed ++= evs
      entityIn.addData(evs)
      alertQ.processAllAvailable()
    }

    def pushCdp(n: Int): Unit = {
      val evs = cdpLog.next(n)
      cdpPushed ++= evs
      segmentsIn.addData(evs)
      profilesIn.addData(evs)
      segmentQ.processAllAvailable()
      profileQ.processAllAvailable()
    }

    def close(): Unit = {
      Seq(alertQ, segmentQ, profileQ).foreach(_.stop())
      spark.stop()
    }
  }

  /** StreamParity's order-insensitive projection of profile snapshots. */
  def canon(df: DataFrame): DataFrame =
    df.select(col("profileId"),
      to_json(struct(
        col("profileId"), col("userIds"), col("emails"), col("anonymousIds"),
        array_sort(map_entries(col("traits"))).as("traits"),
        col("trackCount24h"),
        unix_micros(col("lastSeen")).as("last_seen_us"),
        col("segments"))).as("canon"))

  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = canon(df).agg(count(lit(1)), expr("bit_xor(xxhash64(canon))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def run(ctx: Harness.Ctx): Map[String, Any] = {
    val (rp, setups) = Harness.repeatedSetup(Harness.SetupReps) {
      val spark = Harness.session(ctx)
      val collector = if (ctx.trace) Some(new Collector().attach(spark)) else None
      val r = new Replay(spark, collector, ctx.seed)
      ctx.tracer("streaming.warm") { r.pushEntity(WarmEvents); r.pushCdp(WarmEvents) }
      r
    }(_.close())
    val spark = rp.spark
    import spark.implicits._
    val names = Seq("alerts", "segments", "profiles")
    // an untimed full batch per pipeline: a pipeline's first full batch
    // after set-up runs ~30% slower than the ones after it
    rp.pushEntity(BatchEvents)
    rp.pushCdp(BatchEvents)
    ctx.tracer.reset()
    rp.collector.foreach(_.resetSkew())

    // a fixed number of batches per pipeline, sized so the measured
    // phase takes about `seconds` on a 4-core box
    val sinceMs = System.currentTimeMillis()
    val before = rp.collector.map(c => names.map(q =>
      q -> Harness.snapshot(c, _ == s"streaming.$q")).toMap + ("" -> Harness.snapshot(c)))
    def phase(batches: Int, push: Int => Unit): Seq[Double] = (0 until batches).map { _ =>
      val b0 = System.nanoTime()
      push(BatchEvents)
      (System.nanoTime() - b0) / 1e6
    }
    val entityMs = ctx.tracer("streaming.replay_entity")(
      phase(math.max(3, math.round(ctx.seconds * 0.4).toInt), rp.pushEntity))
    val cdpMs = ctx.tracer("streaming.replay_cdp")(
      phase(math.max(3, math.round(ctx.seconds * 0.3).toInt), rp.pushCdp))
    val untilMs = System.currentTimeMillis()
    Harness.mark("measured")
    val entityEvents = entityMs.size.toLong * BatchEvents
    val cdpEvents = cdpMs.size.toLong * BatchEvents
    val layers: Map[String, Any] = rp.collector match {
      case Some(c) =>
        c.flush(spark)
        val ops = (entityEvents + cdpEvents).toDouble
        val b = before.get
        Harness.sparkPerOp(c, b(""), Harness.snapshot(c), ops, ctx.cores) ++
          names.flatMap(q => Harness.queryLayer(c, q, sinceMs, untilMs, b(q),
            Harness.snapshot(c, _ == s"streaming.$q"))) ++
          Harness.selfPerOp(ctx, ops)
      case None => Map.empty
    }
    val retained = Harness.retainedHeapMb()

    // checks: the alert multiset equals a one-batch replay of the same
    // log; the last profile update per profile equals the batch replay
    val (alertsOk, profilesOk, nAlerts, nProfiles) = ctx.tracer("check.replay") {
      def key(a: Alert) = (a.ts.getTime, a.entityId, a.rule, a.severity, a.rateNow, a.threshold)
      val replayAlerts = EntityPipeline.alerts(spark, rp.entityPushed.toSeq.toDS()).collect()
      val alertsOk = replayAlerts.map(key).sorted.sameElements(rp.alerts.map(key).sorted)
      val streamFp = fingerprint(rp.profiles.values.toSeq.toDS().toDF())
      val batchFp = fingerprint(
        CdpPipeline.profileSnapshots(spark, rp.cdpPushed.toSeq.toDS()).toDF())
      (alertsOk, streamFp == batchFp, rp.alerts.size, streamFp._1)
    }
    Harness.mark("checked")
    rp.close()
    Harness.mark("closed")
    Map("setup_s" -> setups, "retained_heap_mb" -> retained,
      "entity_batch_ms" -> entityMs, "cdp_batch_ms" -> cdpMs,
      "batch_events" -> BatchEvents,
      "replay_entity_eps" -> BatchEvents / (Harness.median(entityMs) / 1000.0),
      "replay_cdp_eps" -> BatchEvents / (Harness.median(cdpMs) / 1000.0),
      "alerts" -> nAlerts, "profiles" -> nProfiles,
      "segment_events" -> rp.segmentEvents,
      "checks" -> Map("alerts_equal_replay" -> alertsOk,
        "profiles_equal_replay" -> profilesOk),
      "layers" -> layers)
  }
}
