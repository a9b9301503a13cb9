package graft

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.SparkSpec

/** The packaged application shell: one wire() call serves the full API;
  * a POSTed CDP event reaches BOTH the segments and the profiles SSE
  * streams through the one CDP fold query, fed beside the reengage query
  * by two CDP feeders.
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

  test("wire() serves the full API; an ingested event reaches both SSE streams") {
    val app = ServeMain.wire(spark, port = 0, heartbeatMs = 250L)
    val base = s"http://localhost:${app.server.boundPort}"
    try {
      assert(http("GET", s"$base/health")._2 == """{"status":"UP"}""")
      assert(app.queries.map(_.name).toSet == Set("serve_cdp", "serve_reengage", "serve_corpus"))
      val feeders = "\"cdp-feeder-[a-z]+\"".r
        .findAllIn(http("GET", s"$base/stats/overview")._2).toSet
      assert(feeders == Set("\"cdp-feeder-fold\"", "\"cdp-feeder-reengage\""), feeders)

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
