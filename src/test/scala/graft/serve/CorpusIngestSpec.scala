package graft.serve

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.queries.CurationQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end streaming curation ingest: real HTTP server, real streaming
  * query, the full admit funnel (PII scrub → exact dedup within batch and
  * vs the persisted index → near-dup LSH guard), with the persisted
  * indexes EXTENDED by each admission so later batches are guarded
  * against earlier ones.
  */
class CorpusIngestSpec extends SparkSpec {

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

  private def stat(body: String, name: String): Long =
    ("\"" + java.util.regex.Pattern.quote(name) + "\":(\\d+)").r
      .findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)

  test("/corpus/ingest: scrub, exact + near-dup guards, index extension, stats") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus_e2e").toString
    val stats = new CurationPipeline.Stats
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val query = input.toDF().toDF("doc_id", "ts", "text")
      .writeStream.queryName("corpus_e2e").outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CurationPipeline.admitBatch(spark, batch, s"$dir/index", stats)
      }
      .start()
    // Posts buffer here and reach the MemoryStream in ONE addData per
    // flush: the assertions below encode which docs share a micro-batch
    // (intra-batch guards vs corpus guards), and feeding the stream
    // directly from the HTTP thread races the query's trigger — the first
    // post of a group can land in its own batch and flip a same-batch
    // rejection into a corpus one.
    val pending = new scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp, String)]
    val ingest = new CorpusIngest((id, t, text) => {
      pending.synchronized { pending += ((id, t, text)) }; true
    }, stats)
    def flush(): Unit = {
      val batch = pending.synchronized { val b = pending.toSeq; pending.clear(); b }
      if (batch.nonEmpty) input.addData(batch)
      query.processAllAvailable()
    }
    val server = new ApiServer(new EventHub, new EventHub, new EventHub,
      new StatsService, new NoSim, port = 0, heartbeatMs = 0L,
      corpusIngest = Some(ingest), corpusStats = Some(stats)).start()
    val base = s"http://localhost:${server.boundPort}"

    val baseText = "the quick brown fox jumps over the lazy dog while seventeen " +
      "other animals watch from the hill and discuss the weather in great detail"
    def post(id: Long, text: String): (Int, String) =
      http("POST", s"$base/corpus/ingest", Some(
        s"""{"docId":$id,"text":"$text"}"""))

    try {
      // -- validation surface (no pipeline involvement)
      assert(http("POST", s"$base/corpus/ingest", Some("{not json"))._1 == 400)
      assert(post(7L, " ")._1 == 400)
      val (cNoId, bNoId) = http("POST", s"$base/corpus/ingest",
        Some("""{"text":"missing id"}"""))
      assert(cNoId == 400 && bNoId.contains("docId"))
      assert(http("GET", s"$base/corpus/ingest")._1 == 405)

      // -- batch 1: a clean doc + its exact duplicate in the SAME batch
      val (c1, b1) = post(1L, baseText)
      assert(c1 == 202 && b1.contains("\"status\":\"accepted\"") && b1.contains("\"docId\":1"))
      assert(post(2L, baseText)._1 == 202)
      flush()
      var s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "admitted") == 1, s)
      assert(stat(s, "rejected_exact_batch") == 1, s)

      // -- batch 2: exact dup vs the now-extended corpus index, a near-dup
      // (same text + one extra word -> ~26/27 shingle Jaccard), a PII doc,
      // and a short doc (< 5 words, passes the band guard trivially)
      assert(post(3L, baseText)._1 == 202)
      assert(post(4L, baseText + " afterword")._1 == 202)
      assert(post(5L, "please contact alice at alice@example.com about the " +
        "training data license terms")._1 == 202)
      assert(post(6L, "tiny doc here")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "received") == 6, s)
      assert(stat(s, "admitted") == 3, s)
      assert(stat(s, "rejected_exact_batch") == 1, s)
      assert(stat(s, "rejected_exact_corpus") == 1, s)
      assert(stat(s, "rejected_near_dup") == 1, s)
      // the email was redacted before admission
      assert(stat(s, "chars_redacted") > 0, s)
      assert(s.contains("\"docId\":3,\"decision\":\"rejected\",\"reason\":\"exact_dup_corpus\""), s)
      assert(s.contains("\"docId\":4,\"decision\":\"rejected\",\"reason\":\"near_dup_corpus\""), s)
      assert(s.contains("\"docId\":6,\"decision\":\"admitted\""), s)

      // -- the persisted index holds the REDACTED text's hash: re-posting
      // the PII doc with the PII already stripped is an exact corpus dup
      assert(post(8L, "please contact alice at <EMAIL> about the " +
        "training data license terms")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "rejected_exact_corpus") == 2, s)

      // -- a near-dup of the batch-2 admission (doc 5's scrubbed text):
      // the index extension guards later batches against earlier ones
      assert(post(9L, "please contact alice at bob@example.org about the " +
        "training data license terms")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      // identical after redaction (<EMAIL> token) -> exact, not near
      assert(stat(s, "rejected_exact_corpus") == 3, s)

      // genuinely new content still flows through
      assert(post(10L, "a completely different report about glacier movement " +
        "measured across four decades of satellite observation")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "admitted") == 4, s)

      // -- INTRA-batch near-dup guard: two near-duplicate (non-exact) docs
      // arriving in the SAME micro-batch — the back-to-back scrape pattern.
      // Neither is in the corpus; without the batch self-probe both would
      // be admitted. Min doc_id wins, the larger is rejected near_dup_batch.
      val freshText = "mountain weather stations recorded unusual pressure " +
        "gradients throughout the spring season prompting researchers to " +
        "revisit their forecasting models entirely"
      assert(post(11L, freshText)._1 == 202)
      assert(post(12L, freshText + " postscript")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "admitted") == 5, s)
      assert(stat(s, "rejected_near_dup_batch") == 1, s)
      assert(s.contains("\"docId\":11,\"decision\":\"admitted\""), s)
      assert(s.contains("\"docId\":12,\"decision\":\"rejected\",\"reason\":\"near_dup_batch\""), s)

      // the intra-batch rejection did NOT extend the index: the admitted
      // smaller doc did, so re-posting its near-dup alone is now a CORPUS
      // near-dup (and the guard state survives purely on disk)
      assert(post(13L, freshText + " afterthought")._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "rejected_near_dup") == 2, s)


      // -- live admitted-corpus priority sample: 5 admitted docs ≤ K, so
      // the sketch is a census — every admitted doc present, tau = 0, the
      // subset-sum estimator exact (wHat == nChars) — and doc 1's priority
      // matches the salted-hash draw the batch operator uses
      val sample = http("GET", s"$base/corpus/sample")._2
      val ids = "\"docId\":(\\d+)".r.findAllMatchIn(sample).map(_.group(1).toLong).toSet
      assert(ids == Set(1L, 5L, 6L, 10L, 11L), sample)
      assert(sample.contains("\"tau\":0.0000"), sample)
      val entry = ("\\{\"docId\":(\\d+),\"nChars\":(\\d+)," +
        "\"priority\":([0-9.]+),\"wHat\":([0-9.]+)\\}").r
      val parsed = entry.findAllMatchIn(sample).toSeq
      assert(parsed.size == 5, sample)
      for (m <- parsed)
        assert(math.abs(m.group(2).toDouble - m.group(4).toDouble) < 1e-9, sample)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("corpus" + 1L).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u1 = java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L + 1L
      val p1 = parsed.find(_.group(1) == "1").get.group(3).toDouble
      assert(math.abs(p1 - baseText.length.toDouble / u1) < 1e-3, sample)

      // -- the sample is DURABLE like the guard state: a restarted
      // pipeline's Stats restores the sketch from the persisted index
      // root and serves the identical sample
      val reborn = new CurationPipeline.Stats
      CurationPipeline.loadSample(spark, s"$dir/index", reborn)
      assert(reborn.sampleJson == stats.sampleJson,
        s"restored=${reborn.sampleJson}\nlive=${stats.sampleJson}")

      // -- INTRA-batch containment guard: an article and its opening
      // excerpt posted together (the scrape burst the funnel's
      // d_containment stage exists for). The excerpt's Jaccard vs the
      // original is ~1/5 — far below the band guard's reach — but every
      // excerpt shingle is contained in the original: the original is
      // admitted, the excerpt rejected contained_batch, and the decision
      // proves the guard runs AFTER the band collapse (doc 11/12 above
      // lost only ONE member to the band guard, not both to containment).
      val article = (1 to 50).map(i => s"survey$i").mkString(" ")
      val excerpt = (1 to 10).map(i => s"survey$i").mkString(" ")
      assert(post(14L, article)._1 == 202)
      assert(post(15L, excerpt)._1 == 202)
      flush()
      s = http("GET", s"$base/corpus/stats")._2
      assert(stat(s, "admitted") == 6, s)
      assert(stat(s, "rejected_contained_batch") == 1, s)
      assert(s.contains("\"docId\":14,\"decision\":\"admitted\""), s)
      assert(s.contains("\"docId\":15,\"decision\":\"rejected\",\"reason\":\"contained_batch\""), s)
    } finally {
      query.stop()
      server.stop()
    }
  }

  // 40 docs, more than the SampleK slots, so the sample is not a census
  private def sampleDocs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 40).map(i => (1000L + i, 1L + rnd.nextInt(900000))))
  }

  // uneven cuts (3 docs, then most of the corpus, then the tail), each
  // folded into a Stats restored from the previous cut's candidates, as
  // loadSample restores the sketch when the pipeline restarts
  private def foldSampleCuts(docs: Seq[(Long, Long)]): CurationPipeline.Stats =
    Seq(docs.take(3), docs.slice(3, 31), docs.drop(31))
      .foldLeft(new CurationPipeline.Stats) { (prev, cut) =>
        val next = new CurationPipeline.Stats
        next.restoreSample(prev.sampleCandidates)
        cut.foreach { case (id, w) => next.offerSample(id, w) }
        next
      }

  private val sampleEntry = ("\\{\"docId\":(\\d+),\"nChars\":(\\d+)," +
    "\"priority\":([0-9.]+),\"wHat\":([0-9.]+)\\}").r
  private def parseSample(json: String): Map[Long, (Double, Double)] =
    sampleEntry.findAllMatchIn(json)
      .map(m => m.group(1).toLong -> ((m.group(3).toDouble, m.group(4).toDouble))).toMap

  test("served sample beyond a census: uneven cuts equal prioritySample") {
    import spark.implicits._
    import CurationPipeline.{SampleK, SampleSalt}
    val docs = sampleDocs
    val stats = foldSampleCuts(docs)
    val json = stats.sampleJson
    val tau = "\"tau\":([0-9.]+)".r.findFirstMatchIn(json).get.group(1).toDouble
    assert(tau > 0.0, json)
    val got = parseSample(json)
    val want = CurationQueries.prioritySample(
        docs.map { case (id, w) => ("corpus", id, w) }.toDF("source", "doc_id", "n_chars"),
        SampleK, SampleSalt)
      .collect()
      .map(r => r.getLong(1) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == SampleK, json)
    assert(got.keySet == want.keySet, json)
    // both sides round to 4 decimals; a half-way value may land one
    // unit apart
    for ((id, (p, wh)) <- want) {
      assert(math.abs(got(id)._1 - p) <= 1e-4 + 1e-9, s"$id priority: $json")
      assert(math.abs(got(id)._2 - wh) <= 1e-4 + 1e-9, s"$id wHat: $json")
    }

    val reborn = new CurationPipeline.Stats
    reborn.restoreSample(stats.sampleCandidates)
    assert(reborn.sampleJson == json)
  }

  test("served sample: a replayed doc id occupies one slot") {
    // re-offering the first cut beyond a census changes nothing, and a
    // twice-offered id in a census is one entry
    val docs = sampleDocs
    val stats = foldSampleCuts(docs)
    val json = stats.sampleJson
    docs.take(3).foreach { case (id, w) => stats.offerSample(id, w) }
    assert(stats.sampleJson == json)
    val census = new CurationPipeline.Stats
    Seq((1L, 100L), (1L, 100L), (2L, 50L)).foreach { case (id, w) => census.offerSample(id, w) }
    assert(parseSample(census.sampleJson).keySet == Set(1L, 2L), census.sampleJson)
    assert(census.sampleCandidates.size == 2)
  }
}

/** Inert SimControl for servers that only exercise non-sim endpoints. */
final class NoSim extends SimControl {
  def start(profile: Option[String], rps: Double, latenessSec: Long): Boolean = false
  def stop(): Boolean = false
  def isRunning: Boolean = false
  def currentProfile: String = "NONE"
  def rps: Double = 0.0
  def latenessSec: Long = 0L
  def setProfile(p: String): Unit = ()
  def setConfig(rps: Option[Double], latenessSec: Option[Long]): Unit = ()
}
