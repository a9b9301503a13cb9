package graft

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.SparkSpec

/** The packaged application shell: one wire() call serves the full API;
  * a POSTed CDP event reaches BOTH the segments and the profiles SSE
  * streams, and an idle profile reaches the reengage segment, through the
  * one CDP query (`serve_cdp`: the fold unioned with the reengage timer)
  * fed by one CDP feeder.
  */
class ServeMainSpec extends SparkSpec {

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

  private def sseFirstMatch(url: String, p: String => Boolean, timeoutMs: Long): Option[String] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(timeoutMs.toInt)
    val reader = new BufferedReader(new InputStreamReader(conn.getInputStream, StandardCharsets.UTF_8))
    val deadline = System.currentTimeMillis() + timeoutMs
    try {
      var line: String = null
      while (System.currentTimeMillis() < deadline
        && { line = reader.readLine(); line != null }) {
        if (line.startsWith("data: ")) {
          val f = line.stripPrefix("data: ")
          if (p(f)) return Some(f)
        }
      }
      None
    } finally { reader.close(); conn.disconnect() }
  }

  private def post(base: String, eventId: String, ts: String, userId: String): Unit = {
    val (code, body) = http("POST", s"$base/cdp/ingest", Some(
      s"""{"eventId":"$eventId","ts":"$ts","payload":{"type":"IDENTIFY","userId":"$userId"}}"""))
    assert(code == 202, body)
  }

  private def cdpStat(body: String, name: String): Long =
    ("\"" + java.util.regex.Pattern.quote(name) + "\":(-?\\d+)").r
      .findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)

  test("served reengage: an idle profile ENTERs, a late event still folds, each POST counts once") {
    val app = ServeMain.wire(spark, port = 0, heartbeatMs = 250L)
    val base = s"http://localhost:${app.server.boundPort}"
    try {
      val reengageF = scala.concurrent.Future {
        sseFirstMatch(s"$base/sse/cdp/segments",
          f => f.contains("\"segment\":\"reengage\"") && f.contains("\"action\":\"ENTER\"")
            && f.contains("user:idle1"), 45000)
      }(scala.concurrent.ExecutionContext.global)
      val attach = System.currentTimeMillis() + 15000
      while (app.segmentsHub.subscriberCount < 1 && System.currentTimeMillis() < attach)
        Thread.sleep(50)
      assert(app.segmentsHub.subscriberCount >= 1)

      // idle1 goes quiet at 00:00; busy1's events move the watermark
      // (max ts - 1 min) to 00:05, past idle1's 1-minute idle horizon
      post(base, "idle-1", "2024-01-01T00:00:00Z", "idle1")
      post(base, "busy-1", "2024-01-01T00:00:10Z", "busy1")
      post(base, "busy-2", "2024-01-01T00:05:00Z", "busy1")
      post(base, "busy-3", "2024-01-01T00:06:00Z", "busy1")

      import scala.concurrent.Await
      import scala.concurrent.duration._
      val enter = Await.result(reengageF, 50.seconds)
      assert(enter.isDefined, "reengage ENTER frame missing")
      assert(enter.get.contains("\"profileId\":\"user:idle1\""), enter.get)

      // 5 minutes behind the watermark: the reengage timer ignores it,
      // the fold (no watermark) still builds the new profile
      post(base, "late-1", "2024-01-01T00:00:00Z", "late1")

      // listener delivery is async: poll until the late event is counted
      val deadline = System.currentTimeMillis() + 30000
      var m = http("GET", s"$base/stats/cdp")._2
      while ((cdpStat(m, "cdp.profiles.total") < 3L || cdpStat(m, "cdp.events.processed") < 5L
          || cdpStat(m, "cdp.events.dropped") < 1L)
        && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        m = http("GET", s"$base/stats/cdp")._2
      }
      assert(cdpStat(m, "cdp.profiles.total") == 3L, m)
      // one observed row per batch: each accepted POST counts once even
      // though both branches of the query scan the bus
      assert(cdpStat(m, "cdp.events.processed") == 5L, m)
      // 2024 events are far behind the wall clock: all late under W2
      assert(cdpStat(m, "cdp.events.late") > 0L, m)
      assert(cdpStat(m, "cdp.events.dropped") >= 1L, m)
    } finally app.close()
  }

  test("wire() serves the full API; an ingested event reaches both SSE streams") {
    val app = ServeMain.wire(spark, port = 0, heartbeatMs = 250L)
    val base = s"http://localhost:${app.server.boundPort}"
    try {
      assert(http("GET", s"$base/health")._2 == """{"status":"UP"}""")
      assert(app.queries.map(_.name).toSet == Set("serve_cdp", "serve_corpus"))
      val feeders = "\"cdp-feeder[a-z-]*\"".r
        .findAllIn(http("GET", s"$base/stats/overview")._2).toSet
      assert(feeders == Set("\"cdp-feeder\""), feeders)

      val segF = scala.concurrent.Future {
        sseFirstMatch(s"$base/sse/cdp/segments",
          f => f.contains("\"segment\":\"pro_plan\"") && f.contains("user:app1"), 30000)
      }(scala.concurrent.ExecutionContext.global)
      val profF = scala.concurrent.Future {
        sseFirstMatch(s"$base/sse/cdp/profiles",
          f => f.contains("\"type\":\"profile_summaries\"") && f.contains("\"plan\":\"pro\""), 30000)
      }(scala.concurrent.ExecutionContext.global)
      // frames are not replayed: wait for BOTH SSE readers to subscribe
      val attach = System.currentTimeMillis() + 15000
      while ((app.segmentsHub.subscriberCount < 1 || app.profilesHub.subscriberCount < 1)
        && System.currentTimeMillis() < attach) Thread.sleep(50)
      assert(app.segmentsHub.subscriberCount >= 1 && app.profilesHub.subscriberCount >= 1)

      val (ci, _) = http("POST", s"$base/cdp/ingest", Some(
        """{"eventId":"app-1","ts":"2024-01-01T00:00:00Z",
          |"payload":{"type":"IDENTIFY","userId":"app1","traits":{"plan":"pro"}}}""".stripMargin))
      assert(ci == 202)
      app.queries.foreach(_.processAllAvailable())

      import scala.concurrent.Await
      import scala.concurrent.duration._
      assert(Await.result(segF, 35.seconds).isDefined, "segment frame missing")
      assert(Await.result(profF, 35.seconds).isDefined, "profile frame missing")

      // the metrics endpoint reflects the segment query's state; listener
      // delivery is async, so poll instead of asserting one read
      val mDeadline = System.currentTimeMillis() + 15000
      var m = ""
      while (!m.contains("\"cdp.profiles.total\":1")
        && System.currentTimeMillis() < mDeadline) {
        Thread.sleep(100)
        m = http("GET", s"$base/stats/cdp")._2
      }
      assert(m.contains("\"cdp.profiles.total\":1"), s"metrics never populated: $m")
    } finally app.close()
  }
}
