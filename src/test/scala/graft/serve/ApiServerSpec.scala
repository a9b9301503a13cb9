package graft.serve

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.streaming.{CdpEvent, CdpPipeline, EntityEvent, EntityPipeline, ProfileSnapshot,
  SegmentEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end serving layer: real HTTP server, real streaming queries.
  * REST surface matches `api/SimulatorController.kt` / `StatsController` /
  * `HealthController`; SSE framing matches `api/AlertController.kt` and
  * `cdp/api/CdpController.kt` ({type,data} envelopes, connection frame
  * first, heartbeat merging).
  */
class ApiServerSpec extends SparkSpec {

  private def http(method: String, url: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(10000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  /** Read SSE data frames until `want` of them match `p` or the deadline
    * passes; returns all frames seen.
    */
  private def sseFrames(url: String, want: Int, p: String => Boolean,
                        timeoutMs: Long = 20000): Seq[String] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(timeoutMs.toInt)
    val reader = new BufferedReader(new InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
    val frames = ArrayBuffer.empty[String]
    val deadline = System.currentTimeMillis() + timeoutMs
    try {
      var line: String = null
      while (frames.count(p) < want && System.currentTimeMillis() < deadline
        && { line = reader.readLine(); line != null }) {
        if (line.startsWith("data: ")) frames += line.stripPrefix("data: ")
      }
    } finally {
      reader.close()
      conn.disconnect()
    }
    frames.toSeq
  }

  test("REST surface: health, stats, sim lifecycle over a real rate-source stream") {
    val alertsHub = new EventHub
    val stats = new StatsService
    val sim = new ServePipelines.SparkSim(spark, alertsHub, stats)
    val server = new ApiServer(alertsHub, new EventHub, new EventHub,
      stats, sim, port = 0, heartbeatMs = 0L).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      assert(http("GET", s"$base/health") == (200, """{"status":"UP"}"""))

      val (c0, s0) = http("GET", s"$base/sim/status")
      assert(c0 == 200 && s0.contains("\"running\":false") && s0.contains("\"status\":\"stopped\""))

      val (_, bad) = http("POST", s"$base/sim/start?profile=NOPE")
      assert(bad.contains("\"status\":\"error\"") && bad.contains("Invalid profile: NOPE"))

      val (c1, s1) = http("POST", s"$base/sim/start?profile=IGAMING&rps=200&latenessSec=5")
      assert(c1 == 200 && s1.contains("\"status\":\"started\"")
        && s1.contains("\"profile\":\"IGAMING\"") && s1.contains("\"rps\":200"))
      val (_, s2) = http("POST", s"$base/sim/start")
      assert(s2.contains("\"status\":\"already_running\""))
      assert(http("GET", s"$base/sim/status")._2.contains("\"running\":true"))

      // the rate stream must reach /stats/overview via the generator count
      val deadline = System.currentTimeMillis() + 30000
      var events = 0L
      while (events == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        val (_, ov) = http("GET", s"$base/stats/overview")
        events = "\"eventsPerMin\":(\\d+)".r.findFirstMatchIn(ov).map(_.group(1).toLong).getOrElse(0L)
      }
      assert(events > 0, "simulated events never reached /stats/overview")

      val (_, s3) = http("POST", s"$base/sim/stop")
      assert(s3.contains("\"status\":\"stopped\""))
      val (_, s4) = http("POST", s"$base/sim/stop")
      assert(s4.contains("\"status\":\"already_stopped\""))

      // profile get/set + config update (apply to the next start)
      assert(http("GET", s"$base/profile")._2 == """{"profile":"IGAMING"}""")
      val (cp, sp) = http("POST", s"$base/profile", Some("""{"profile":"sase"}"""))
      assert(cp == 200 && sp.contains("\"profile\":\"SASE\"")
        && sp.contains("Profile updated successfully"))
      assert(http("POST", s"$base/profile", Some("""{"profile":"NOPE"}"""))._1 == 400)
      val (cc, scfg) = http("POST", s"$base/sim/config?rps=25&latenessSec=30")
      assert(cc == 200 && scfg.contains("\"rps\":25") && scfg.contains("\"latenessSec\":30"))
    } finally {
      sim.stop()
      server.stop()
    }
  }

  test("/sim/config applies live: rate jumps without restarting the pipeline") {
    val alertsHub = new EventHub
    val stats = new StatsService
    val sim = new ServePipelines.SparkSim(spark, alertsHub, stats)
    val server = new ApiServer(alertsHub, new EventHub, new EventHub,
      stats, sim, port = 0, heartbeatMs = 0L).start()
    val base = s"http://localhost:${server.boundPort}"
    try {
      assert(http("POST", s"$base/sim/start?rps=1&latenessSec=5")._2.contains("started"))
      val runId0 = sim.pipelineRunId
      assert(runId0.nonEmpty)
      // let the 1 rps generator tick at least once
      val warm = System.currentTimeMillis() + 30000
      while (stats.eventsPerMin == 0 && System.currentTimeMillis() < warm)
        Thread.sleep(200)
      assert(stats.eventsPerMin > 0, "generator never produced at 1 rps")
      // live reconfig 1 -> 500 rps: the trailing-60s event counter must
      // blow past anything 1 rps could produce (<= ~90/min with jitter)
      val (cc, body) = http("POST", s"$base/sim/config?rps=500")
      assert(cc == 200 && body.contains("\"rps\":500"))
      val deadline = System.currentTimeMillis() + 30000
      while (stats.eventsPerMin < 300 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(stats.eventsPerMin >= 300,
        s"rate did not change live: eventsPerMin=${stats.eventsPerMin}")
      // the stateful rules pipeline was NOT restarted — same runId
      assert(sim.pipelineRunId == runId0, "pipeline must survive reconfig")
      assert(sim.isRunning)
    } finally {
      sim.stop()
      server.stop()
    }
  }

  test("/stats/overview surfaces per-feeder backlog, retry-in-progress, and drops") {
    val stats = new StatsService
    // a real feeder with a controllably-failing sink, spec-driven via
    // drainOnce (no thread/clock): the three gauges must move in the
    // degradation order an operator would see during a soak —
    // backlog climbs, then retry-in-progress, and only after the retry
    // budget exhausts do drops appear
    @volatile var sinkDown = true
    val feeder = new IngestFeeder[Int]("spec-feeder", chunkMax = 10,
      maxPending = 100,
      sink = _ => if (sinkDown) throw new RuntimeException("sink down"))
    stats.registerFeeder("spec-feeder", () => feeder.dropped.get,
      () => feeder.backlog, () => feeder.retryAttemptsNow)
    val sim = new ServePipelines.SparkSim(spark, new EventHub, stats)
    val server = new ApiServer(new EventHub, new EventHub, new EventHub,
      stats, sim, port = 0, heartbeatMs = 0L).start()
    val base = s"http://localhost:${server.boundPort}"
    def gauge(body: String, field: String): Long =
      ("\"" + field + "\":\\{\"spec-feeder\":(\\d+)").r
        .findFirstMatchIn(body).map(_.group(1).toLong)
        .getOrElse(fail(s"$field missing from overview: $body"))
    try {
      (1 to 25).foreach(i => assert(feeder.offer(i)))
      val (c0, ov0) = http("GET", s"$base/stats/overview")
      assert(c0 == 200)
      assert(gauge(ov0, "feederBacklog") == 25L) // queued, nothing lost yet
      assert(gauge(ov0, "feederRetrying") == 0L)
      assert(gauge(ov0, "feederDropped") == 0L)

      feeder.drainOnce() // first chunk of 10 fails -> retry slot
      val ov1 = http("GET", s"$base/stats/overview")._2
      assert(gauge(ov1, "feederRetrying") == 1L,
        "retry-in-progress must be visible before anything is dropped")
      assert(gauge(ov1, "feederBacklog") == 25L) // retry slot still counts
      assert(gauge(ov1, "feederDropped") == 0L)

      // exhaust the per-chunk budget (MaxChunkRetries more attempts)
      (1 to IngestFeeder.MaxChunkRetries).foreach(_ => feeder.drainOnce())
      val ov2 = http("GET", s"$base/stats/overview")._2
      assert(gauge(ov2, "feederDropped") == 10L)
      assert(gauge(ov2, "feederBacklog") == 15L)
      assert(gauge(ov2, "feederRetrying") == 0L)
      assert(ov2.contains("\"feederDroppedTotal\":10"))

      // sink recovers: backlog drains to zero and nothing else is lost
      sinkDown = false
      feeder.drainOnce(); feeder.drainOnce()
      val ov3 = http("GET", s"$base/stats/overview")._2
      assert(gauge(ov3, "feederBacklog") == 0L)
      assert(gauge(ov3, "feederDropped") == 10L)
    } finally server.stop()
  }

  test("SSE: alert, segment, and profile frames from real pipelines; GET is non-destructive") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val alertsHub = new EventHub
    val segmentsHub = new EventHub
    val profilesHub = new EventHub
    val stats = new StatsService
    val sim = new ServePipelines.SparkSim(spark, alertsHub, stats)
    val entityIn = MemoryStream[EntityEvent]
    val cdpIn = MemoryStream[CdpEvent]
    val cdpMetrics = new CdpMetrics(Some("api_segments")).attach(spark)
    val server = new ApiServer(alertsHub, segmentsHub, profilesHub,
      stats, sim, port = 0, heartbeatMs = 200L,
      ingest = Some(new CdpIngest(e => { cdpIn.addData(e); true })),
      cdpMetrics = Some(cdpMetrics)).start()
    val base = s"http://localhost:${server.boundPort}"
    val alertQuery = EntityPipeline.alerts(spark, entityIn.toDS(),
        EntityPipeline.RuleConfig(r1MinRate = 1000.0, r2Factor = 2.0, r2MinCount = 1))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch(ServePipelines.publishAlerts(alertsHub, stats) _)
      .start()
    val segmentQuery = CdpPipeline.segmentEvents(spark, CdpMetrics.observe(cdpIn.toDS()))
      .writeStream.queryName("api_segments").outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SegmentEvent], _: Long) =>
        ServePipelines.publishSegments(segmentsHub, b.collect().toSeq)
      }
      .start()
    val profileChanged = ServePipelines.profilePublisher(profilesHub)
    try {
      // subscribe FIRST (hub frames are not replayed), then drive the data
      val alertF = scala.concurrent.Future {
        sseFrames(s"$base/sse/alerts", 1, _.contains("\"type\":\"alert\""))
      }(scala.concurrent.ExecutionContext.global)
      val segF = scala.concurrent.Future {
        sseFrames(s"$base/sse/cdp/segments", 1, _.contains("\"type\":\"segment_event\""))
      }(scala.concurrent.ExecutionContext.global)
      val profF = scala.concurrent.Future {
        sseFrames(s"$base/sse/cdp/profiles", 1, _.contains("\"type\":\"profile_summaries\""))
      }(scala.concurrent.ExecutionContext.global)
      // wait until all three SSE connections are actually subscribed —
      // a fixed sleep races on a loaded box (frames are not replayed)
      val attachDeadline = System.currentTimeMillis() + 15000
      while ((alertsHub.subscriberCount < 1 || segmentsHub.subscriberCount < 1
        || profilesHub.subscriberCount < 1) && System.currentTimeMillis() < attachDeadline)
        Thread.sleep(50)
      assert(alertsHub.subscriberCount >= 1 && segmentsHub.subscriberCount >= 1
        && profilesHub.subscriberCount >= 1, "SSE clients failed to attach")

      // R2 alert: ewma seeds at 10, second value 100 > 2x post-update ewma
      entityIn.addData(
        EntityEvent("e1", ts("2024-01-01T00:00:00Z"), "a", "t", Some(10), None, None),
        EntityEvent("e2", ts("2024-01-01T00:00:10Z"), "a", "t", Some(100), None, None))
      alertQuery.processAllAvailable()
      // pro_plan ENTER: IDENTIFY with plan=pro
      cdpIn.addData(CdpEvent("c1", ts("2024-01-01T00:00:00Z"), "IDENTIFY",
        Some("u1"), None, None, None, Map("plan" -> "pro")))
      segmentQuery.processAllAvailable()
      // changed-only profile snapshot push (W7 hub in front of the SSE hub)
      profileChanged.push(Seq(ProfileSnapshot("user:u1", Seq("user:u1"), Nil, Nil,
        Map("plan" -> "pro"), 3L, ts("2024-01-01T00:00:00Z"), Seq("pro_plan"))))

      import scala.concurrent.Await
      import scala.concurrent.duration._
      val alertFrames = Await.result(alertF, 25.seconds)
      val segFrames = Await.result(segF, 25.seconds)
      val profFrames = Await.result(profF, 25.seconds)

      // every stream opens with a connection frame (reference onStart)
      assert(alertFrames.head.contains("\"type\":\"connection\""))
      assert(alertFrames.head.contains("Connected to alerts stream"))
      assert(segFrames.head.contains("Connected to segments stream"))
      assert(profFrames.head.contains("Connected to profiles stream"))

      val alert = alertFrames.find(_.contains("\"type\":\"alert\"")).get
      assert(alert.contains("\"rule\":\"R2_VALUE_SPIKE\"") && alert.contains("\"entityId\":\"a\""))
      // reference alert shape: content-derived id + nested evidence map
      assert(alert.contains("\"id\":\"") && alert.contains("\"evidence\":{\"rate_now\":100"))

      val seg = segFrames.find(_.contains("\"type\":\"segment_event\"")).get
      assert(seg.contains("\"profileId\":\"user:u1\"") && seg.contains("\"segment\":\"pro_plan\"")
        && seg.contains("\"action\":\"ENTER\""))

      val prof = profFrames.find(_.contains("\"type\":\"profile_summaries\"")).get
      // identifier prefixes stripped; trackCount24h surfaces as featureUsedCount
      assert(prof.contains("\"userIds\":[\"u1\"]") && prof.contains("\"featureUsedCount\":3")
        && prof.contains("\"plan\":\"pro\""))

      // heartbeats flow on idle streams (heartbeatMs = 200 here)
      val hb = sseFrames(s"$base/sse/alerts", 1, _.contains("\"type\":\"heartbeat\""), 5000)
      assert(hb.exists(_.contains("\"type\":\"heartbeat\"")))

      // an unchanged push emits nothing (W7 changed-only contract)
      val before = profilesHub.subscriberCount
      profileChanged.push(Seq(ProfileSnapshot("user:u1", Seq("user:u1"), Nil, Nil,
        Map("plan" -> "pro"), 3L, ts("2024-01-01T00:00:00Z"), Seq("pro_plan"))))
      assert(profileChanged.emitCount == 1L && before >= 0)

      // POST /cdp/ingest: accepted event flows through the pipeline to a
      // fresh segment frame; invalid bodies get the reference's 400s.
      // Wait for the FIRST (closed) reader's server-side subscription to
      // be reaped before subscribing again, so the count-wait below can
      // only be satisfied by the NEW reader
      val drain = System.currentTimeMillis() + 15000
      while (segmentsHub.subscriberCount > 0 && System.currentTimeMillis() < drain)
        Thread.sleep(50) // heartbeat writes to the dead socket reap it
      val segF2 = scala.concurrent.Future {
        sseFrames(s"$base/sse/cdp/segments", 1, _.contains("\"profileId\":\"user:u2\""))
      }(scala.concurrent.ExecutionContext.global)
      val attach2 = System.currentTimeMillis() + 15000
      while (segmentsHub.subscriberCount < 1 && System.currentTimeMillis() < attach2)
        Thread.sleep(50)
      val (ci, bi) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"ing-1","ts":"2024-01-01T01:00:00Z",
          |"payload":{"type":"IDENTIFY","userId":"u2","traits":{"plan":"pro"}}}""".stripMargin))
      assert(ci == 202 && bi.contains("\"status\":\"accepted\"") && bi.contains("\"eventId\":\"ing-1\""))
      segmentQuery.processAllAvailable()
      val seg2 = Await.result(segF2, 25.seconds)
      assert(seg2.exists(f => f.contains("\"profileId\":\"user:u2\"")
        && f.contains("\"segment\":\"pro_plan\"") && f.contains("\"action\":\"ENTER\"")))

      val (cNoId, bNoId) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"ing-2","ts":"2024-01-01T01:00:00Z","payload":{"type":"IDENTIFY"}}"""))
      assert(cNoId == 400 && bNoId.contains("at least one identifier"))
      val (cTrack, bTrack) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"ing-3","ts":"2024-01-01T01:00:00Z","payload":{"type":"TRACK","userId":"u2"}}"""))
      assert(cTrack == 400 && bTrack.contains("TRACK event requires a name"))
      val (cBlank, bBlank) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"  ","ts":"2024-01-01T01:00:00Z","payload":{"type":"IDENTIFY","userId":"u2"}}"""))
      assert(cBlank == 400 && bBlank.contains("eventId must not be blank"))
      val (cBadTs, _) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"ing-4","ts":"not-a-time","payload":{"type":"IDENTIFY","userId":"u2"}}"""))
      assert(cBadTs == 400)
      // flat body (the reference docs' example shape) is accepted too
      val (cFlat, bFlat) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"ing-5","ts":"2024-01-01T01:02:00Z","type":"TRACK",
          |"userId":"u2","name":"Feature Used"}""".stripMargin))
      assert(cFlat == 202 && bFlat.contains("\"eventId\":\"ing-5\""))
      segmentQuery.processAllAvailable()

      // /stats/cdp: Spark progress telemetry in the reference metric
      // names; listener delivery is async — poll until populated
      def cdpStat(body: String, name: String): Long =
        ("\"" + java.util.regex.Pattern.quote(name) + "\":(\\d+)").r
          .findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(0L)
      val statDeadline = System.currentTimeMillis() + 15000
      var bm = http("GET", s"$base/stats/cdp")._2
      while ((cdpStat(bm, "cdp.events.processed") < 3L
        || cdpStat(bm, "cdp.profiles.total") < 2L)
        && System.currentTimeMillis() < statDeadline) {
        Thread.sleep(100)
        bm = http("GET", s"$base/stats/cdp")._2
      }
      assert(cdpStat(bm, "cdp.events.processed") >= 3L, s"processed: $bm")
      assert(cdpStat(bm, "cdp.profiles.total") >= 2L, s"profiles: $bm")
    } finally {
      alertQuery.stop()
      segmentQuery.stop()
      cdpMetrics.detach(spark)
      server.stop()
    }
  }

  test("profile summaries: top 20 by lastSeen desc, ties by profileId, prefixes stripped") {
    def snap(pid: String, t: String) = ProfileSnapshot(pid, Seq(s"user:$pid"),
      Seq("email:a@b.c"), Seq("anon:x"), Map.empty, 0L, ts(t), Nil)
    val snaps = Seq(snap("p2", "2024-01-01T00:00:01Z"), snap("p3", "2024-01-01T00:00:03Z"),
      snap("p1", "2024-01-01T00:00:03Z")) ++
      (40 until 10 by -1).map(i => snap(s"q$i", "2024-01-01T00:00:00Z"))
    val env = ServePipelines.profileSummariesEnvelope(snaps)
    val ids = "\"profileId\":\"([^\"]+)\"".r.findAllMatchIn(env).map(_.group(1)).toSeq
    assert(ids == Seq("p1", "p3", "p2") ++ (11 to 27).map(i => s"q$i"), env)
    assert(env.contains("\"userIds\":[\"p1\"]") && env.contains("\"emails\":[\"a@b.c\"]")
      && env.contains("\"anonymousIds\":[\"x\"]"), env)
  }
}
