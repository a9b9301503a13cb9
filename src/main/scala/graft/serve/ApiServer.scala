package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP/SSE binding for the serving contracts — the layer the reference
  * exposes via Spring controllers, here on the JDK's built-in server (no
  * extra dependency; swap for any servlet container in production).
  *
  * Endpoints (reference counterparts):
  *  - GET  /health                → `api/HealthController.kt:8-12`
  *  - GET  /stats/overview        → `api/StatsController.kt:12-20`
  *  - POST /sim/start|stop, GET /sim/status → `api/SimulatorController.kt:39-119`
  *  - GET  /sse/alerts            → `api/AlertController.kt:29-95`
  *  - GET  /sse/cdp/segments      → `cdp/api/CdpController.kt:39-103`
  *  - GET  /sse/cdp/profiles      → `cdp/api/CdpController.kt:52-146`
  *
  * SSE framing mirrors the reference: every payload is a JSON envelope
  * `{"type":...,"data"/...}` sent as one `data:` frame; a `connection`
  * frame opens each stream; `heartbeat` frames every `heartbeatMs` keep
  * proxies from closing idle streams (disable with heartbeatMs = 0 in
  * tests, like the reference's `enableHeartbeat` switch).
  */
final class ApiServer(
    alertsHub: EventHub,
    segmentsHub: EventHub,
    profilesHub: EventHub,
    stats: StatsService,
    sim: SimControl,
    port: Int = 0,
    heartbeatMs: Long = 10000L,
    ingest: Option[CdpIngest] = None,
    cdpMetrics: Option[CdpMetrics] = None,
    corpusIngest: Option[CorpusIngest] = None,
    corpusStats: Option[CurationPipeline.Stats] = None) {

  // The JDK HttpServer leaves Nagle ON by default: under concurrent
  // keep-alive POSTs every response flush can stall a delayed-ACK round
  // (soak-measured p50 ~50 ms vs ~1.3 ms raw). ServerConfig reads the
  // property once, on the first HttpServer.create in the JVM — this
  // statement precedes the create below in construction order.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newCachedThreadPool()
  @volatile private var running = true

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) => Some(k -> "")
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  /** One SSE connection: connection frame, then hub frames interleaved
    * with heartbeats, until the client disconnects or the server stops.
    */
  private def sse(ex: HttpExchange, hub: EventHub, streamName: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0) // chunked
    val out = ex.getResponseBody
    def frame(json: String): Unit = {
      out.write(s"data: $json\n\n".getBytes(StandardCharsets.UTF_8))
      out.flush()
    }
    val sub = hub.subscribe()
    try {
      frame(Json.obj(
        "type" -> "connection",
        "message" -> s"Connected to $streamName stream",
        "timestamp" -> Instant.now()))
      var lastWrite = System.currentTimeMillis()
      while (running) {
        val pollMs = if (heartbeatMs > 0) heartbeatMs else 250L
        val msg = sub.poll(pollMs)
        if (msg != null) { frame(msg); lastWrite = System.currentTimeMillis() }
        else if (heartbeatMs > 0) {
          frame(Json.obj("type" -> "heartbeat", "timestamp" -> Instant.now()))
          lastWrite = System.currentTimeMillis()
        } else if (System.currentTimeMillis() - lastWrite > 15000L) {
          // heartbeats disabled: an idle connection would otherwise never
          // write, so a vanished client is never detected and its thread +
          // subscription leak. An SSE comment line is invisible to
          // consumers but still raises the IOException on a dead socket.
          out.write(": ping\n\n".getBytes(StandardCharsets.UTF_8))
          out.flush()
          lastWrite = System.currentTimeMillis()
        }
      }
    } catch {
      case _: java.io.IOException => // client closed
    } finally {
      sub.cancel()
      ex.close()
    }
  }

  server.createContext("/health", (ex: HttpExchange) =>
    respond(ex, 200, Json.obj("status" -> "UP")))

  server.createContext("/stats/overview", (ex: HttpExchange) =>
    respond(ex, 200, Json.obj(
      "eventsPerMin" -> stats.eventsPerMin,
      "alertsPerMin" -> stats.alertsPerMin,
      "uptimeSec" -> stats.uptimeSec,
      // per-feeder retry-budget drops, visible to operators instead of
      // stderr-only (should read 0 in a healthy service) — plus the two
      // EARLY per-feeder gauges (live backlog depth, retry-in-progress
      // attempts) that show a sink degrading before anything is lost
      "feederDroppedTotal" -> stats.droppedTotal,
      "feederDropped" -> scala.collection.immutable.ListMap(
        stats.droppedByFeeder: _*),
      "feederBacklog" -> scala.collection.immutable.ListMap(
        stats.backlogByFeeder: _*),
      "feederRetrying" -> scala.collection.immutable.ListMap(
        stats.retryingByFeeder: _*))))

  server.createContext("/stats/cdp", (ex: HttpExchange) =>
    cdpMetrics match {
      case Some(m) => respond(ex, 200, Json.write(m.snapshot))
      case None => respond(ex, 404,
        Json.obj("status" -> "error", "message" -> "cdp metrics not attached"))
    })

  server.createContext("/sim/start", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, Json.obj("status" -> "error", "message" -> "POST required"))
    else {
      val p = queryParams(ex)
      val profile = p.get("profile").map(_.toUpperCase(java.util.Locale.ROOT))
      if (profile.exists(pr => !SimControl.ValidProfiles.contains(pr)))
        respond(ex, 200, Json.obj(
          "status" -> "error",
          "message" -> s"Invalid profile: ${p("profile")}. Valid values: ${SimControl.ValidProfiles.mkString(", ")}"))
      else {
        val rps = p.get("rps").flatMap(_.toDoubleOption).getOrElse(10.0)
        val latenessSec = p.get("latenessSec").flatMap(_.toLongOption).getOrElse(90L)
        val started = sim.start(profile, rps, latenessSec)
        respond(ex, 200, Json.obj(
          "status" -> (if (started) "started" else "already_running"),
          "message" -> (if (started) "Simulator started successfully"
                        else "Simulator is already running"),
          "profile" -> sim.currentProfile,
          "rps" -> sim.rps,
          "latenessSec" -> sim.latenessSec))
      }
    }
  })

  server.createContext("/sim/stop", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, Json.obj("status" -> "error", "message" -> "POST required"))
    else {
      val stopped = sim.stop()
      respond(ex, 200, Json.obj(
        "status" -> (if (stopped) "stopped" else "already_stopped"),
        "message" -> (if (stopped) "Simulator stopped successfully"
                      else "Simulator is not running"),
        "profile" -> sim.currentProfile))
    }
  })

  server.createContext("/sim/status", (ex: HttpExchange) =>
    respond(ex, 200, Json.obj(
      "running" -> sim.isRunning,
      "profile" -> sim.currentProfile,
      "status" -> (if (sim.isRunning) "running" else "stopped"))))

  server.createContext("/sim/config", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, Json.obj("status" -> "error", "message" -> "POST required"))
    else {
      val p = queryParams(ex)
      sim.setConfig(p.get("rps").flatMap(_.toDoubleOption),
        p.get("latenessSec").flatMap(_.toLongOption))
      respond(ex, 200, Json.obj(
        "status" -> "updated",
        "message" -> "Simulator configuration updated successfully",
        "rps" -> sim.rps,
        "latenessSec" -> sim.latenessSec))
    }
  })

  server.createContext("/profile", (ex: HttpExchange) => {
    if (ex.getRequestMethod == "GET")
      respond(ex, 200, Json.obj("profile" -> sim.currentProfile))
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      "\"profile\"\\s*:\\s*\"([A-Za-z]+)\"".r.findFirstMatchIn(body)
        .map(_.group(1).toUpperCase(java.util.Locale.ROOT)) match {
        case Some(pr) if SimControl.ValidProfiles.contains(pr) =>
          sim.setProfile(pr)
          respond(ex, 200, Json.obj(
            "profile" -> sim.currentProfile,
            "message" -> "Profile updated successfully"))
        case other =>
          respond(ex, 400, Json.obj(
            "status" -> "error",
            "message" -> s"Invalid profile: ${other.getOrElse(body)}. Valid values: ${SimControl.ValidProfiles.mkString(", ")}"))
      }
    }
  })

  server.createContext("/cdp/ingest", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, Json.obj("status" -> "error", "message" -> "POST required"))
    else ingest match {
      case None =>
        respond(ex, 503, Json.obj("status" -> "error", "message" -> "ingest not configured"))
      case Some(ing) =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        ing.handle(body) match {
          case Right(eventId) => // 202 Accepted, like the reference
            respond(ex, 202, Json.obj("status" -> "accepted", "eventId" -> eventId))
          case Left(CdpIngest.Overloaded) => // backlog full/feeder dead: retryable
            respond(ex, 503, Json.obj("status" -> "error", "message" -> CdpIngest.Overloaded))
          case Left(message) =>
            respond(ex, 400, Json.obj("status" -> "error", "message" -> message))
        }
    }
  })

  server.createContext("/corpus/ingest", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, Json.obj("status" -> "error", "message" -> "POST required"))
    else corpusIngest match {
      case None =>
        respond(ex, 503, Json.obj("status" -> "error", "message" -> "corpus ingest not configured"))
      case Some(ing) =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        ing.handle(body) match {
          case Right(docId) => // async funnel: decision lands in /corpus/stats
            respond(ex, 202, Json.obj("status" -> "accepted", "docId" -> docId))
          case Left(CdpIngest.Overloaded) => // backlog full/feeder dead: retryable
            respond(ex, 503, Json.obj("status" -> "error", "message" -> CdpIngest.Overloaded))
          case Left(message) =>
            respond(ex, 400, Json.obj("status" -> "error", "message" -> message))
        }
    }
  })

  server.createContext("/corpus/stats", (ex: HttpExchange) =>
    corpusStats match {
      case Some(s) => respond(ex, 200, s.json)
      case None => respond(ex, 404,
        Json.obj("status" -> "error", "message" -> "corpus pipeline not attached"))
    })

  server.createContext("/corpus/sample", (ex: HttpExchange) =>
    corpusStats match {
      case Some(s) => respond(ex, 200, s.sampleJson)
      case None => respond(ex, 404,
        Json.obj("status" -> "error", "message" -> "corpus pipeline not attached"))
    })

  server.createContext("/sse/alerts", (ex: HttpExchange) => sse(ex, alertsHub, "alerts"))
  server.createContext("/sse/cdp/segments", (ex: HttpExchange) => sse(ex, segmentsHub, "segments"))
  server.createContext("/sse/cdp/profiles", (ex: HttpExchange) => sse(ex, profilesHub, "profiles"))

  def start(): ApiServer = {
    server.setExecutor(pool)
    server.start()
    this
  }

  def stop(): Unit = {
    running = false
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}

/** Simulator control surface behind the `/sim` endpoints (reference
  * `api/SimulatorController.kt:39-119` semantics: start is idempotent-ish
  * — a second start reports already_running; stop on a stopped simulator
  * reports already_stopped).
  */
trait SimControl {
  /** true if started now, false if it was already running. */
  def start(profile: Option[String], rps: Double, latenessSec: Long): Boolean
  /** true if stopped now, false if it was not running. */
  def stop(): Boolean
  def isRunning: Boolean
  def currentProfile: String
  def rps: Double
  def latenessSec: Long
  /** `/profile` POST + `/sim/config`: applied LIVE when the simulator is
    * running (the stateless generator query is swapped; the stateful rules
    * pipeline keeps running — reference `SimulatorController.kt:84-119`
    * semantics), or recorded for the next start when stopped.
    */
  def setProfile(p: String): Unit
  def setConfig(rps: Option[Double], latenessSec: Option[Long]): Unit
}

object SimControl {
  val ValidProfiles: Seq[String] = Seq("SASE", "IGAMING", "CDP")
}
