package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.serve._
import graft.streaming.{CdpEvent, CdpFold, CdpPipeline, ProfileSnapshot}

/** The packaged application — the counterpart of the reference's Spring
  * boot shell (`PulseboardApplication.kt`): one process wiring the
  * simulator, the entity rule pipeline, the CDP pipelines, and the
  * HTTP/SSE API. `runMain graft.ServeMain [port]` serves:
  *
  *   POST /sim/start|stop, /sim/config, /profile  — simulator control
  *   POST /cdp/ingest                              — CDP event ingestion
  *   POST /corpus/ingest, GET /corpus/stats        — curation ingest funnel
  *   GET  /sse/alerts | /sse/cdp/segments | /sse/cdp/profiles
  *   GET  /health | /stats/overview | /stats/cdp
  *
  * Ingested CDP events flow through ONE query (`serve_cdp`) over one bus:
  * the fold (segment events and changed-only profile updates) unioned
  * with the reengage timer. Profile summaries keep a driver-side top-20
  * view exactly like the reference's in-memory ProfileStore (bounded:
  * summaries evict beyond MaxProfiles by lastSeen).
  */
object ServeMain {

  val MaxProfiles = 10000

  /** Serving reengage idle horizon (1 min): a profile quiet for a minute
    * ENTERs `reengage`; any return EXITs. Short enough that a live demo
    * (and the soak's cycling user population) actually crosses it.
    */
  val ReengageIdleMs = 60000L

  final case class App(server: ApiServer, spark: SparkSession,
                       queries: Seq[StreamingQuery], sim: SimControl,
                       alertsHub: EventHub, segmentsHub: EventHub,
                       profilesHub: EventHub, cdpMetrics: CdpMetrics,
                       feeders: Seq[IngestFeeder[_]] = Nil,
                       corpusRoot: Option[String] = None) {
    /** Stop queries, feeders, server, and detach the metrics listener;
      * release the corpus index's resident generation.
      */
    def close(): Unit = {
      queries.foreach(_.stop())
      corpusRoot.foreach(CurationPipeline.release)
      feeders.foreach(_.interrupt())
      sim.stop()
      cdpMetrics.detach(spark)
      server.stop()
    }
  }

  /** Wire everything onto `spark`; port 0 picks an ephemeral port. */
  def wire(spark: SparkSession, port: Int, heartbeatMs: Long = 10000L): App = {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val alertsHub = new EventHub
    val segmentsHub = new EventHub
    val profilesHub = new EventHub
    val stats = new StatsService
    val sim = new ServePipelines.SparkSim(spark, alertsHub, stats)
    // the profile-summary store (filled by the CDP query below) is the
    // metrics' profile count — the reference reports its store size
    val summaries = new ConcurrentHashMap[String, ProfileSnapshot]()
    val cdpMetrics = new CdpMetrics(Some("serve_cdp"),
      profileCount = Some(() => summaries.size.toLong)).attach(spark)

    // in-memory CDP bus (S5). A Kafka source would need the
    // spark-sql-kafka connector, which this build does not ship.
    val cdpIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[CdpEvent]
    val events = cdpIn.toDS()

    // one query, two branches over the bus: the fold (TimeMode.None, so
    // an event behind the watermark still updates its profile) and the
    // timer-driven reengage segment (O4's idle path: ENTER with no new
    // events when the watermark passes lastSeen + idle), whose events
    // ride as event-only CdpFold rows. The reengage branch carries the
    // query's one event-time watermark (cdp.watermark.lag_ms reads it);
    // the fold branch's input is observed once for the event counters.
    // Segment events go to the segments hub, changed-only snapshots
    // maintain the top-20 summary view.
    val reengage = CdpPipeline.reengageEvents(spark,
        events.withWatermark("ts", "1 minute").as[CdpEvent], idleMs = ReengageIdleMs)
      .map(e => CdpFold(e.profileId, Seq(e), None))
    val profileChanged = ServePipelines.profilePublisher(profilesHub)
    val cdpQuery = CdpPipeline.fold(spark, CdpMetrics.observe(events)).union(reengage)
      .writeStream.queryName("serve_cdp").outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[CdpFold], _: Long) =>
        val rows = batch.collect()
        ServePipelines.publishSegments(segmentsHub, rows.toSeq.flatMap(_.events))
        val updated = rows.flatMap(_.snapshot)
        if (updated.nonEmpty) {
          updated.foreach(p => summaries.put(p.profileId, p))
          // bound the driver-side store like the reference's cache caps
          if (summaries.size > MaxProfiles) {
            summaries.values.asScala.toSeq.sortBy(_.lastSeen.getTime)
              .take(summaries.size - MaxProfiles)
              .foreach(p => summaries.remove(p.profileId))
          }
          profileChanged.push(top20(summaries))
        }
        ()
      }
      .start()

    // ingested events are counted HERE (one per accepted POST) — counting
    // changed snapshots downstream would under-report batched updates.
    //
    // POSTs land in a bounded concurrent queue; ONE feeder thread drains
    // it and calls addData per ~100 ms chunk (IngestFeeder — see its
    // scaladoc for the soak-learned failure properties), so each chunk
    // reaches both branches of the query at once. Two load-bearing
    // properties the 1k-rps soak found the hard way when handlers called
    // addData from HTTP threads directly:
    //  - MemoryStream's row serializer is a single ExpressionEncoder
    //    instance — concurrent addData corrupts UnsafeRows (garbage
    //    UTF8String lengths → multi-GB allocations → OOM; null map keys),
    //    which killed the server inside 10 s at 200 rps. One feeder
    //    thread = one serializer user.
    //  - one addData PER EVENT makes each event its own source block →
    //    micro-batches spanning thousands of single-row partitions; the
    //    chunked drain bounds blocks at ~10/s regardless of POST rate.
    val cdpFeeder = new IngestFeeder[CdpEvent]("cdp-feeder",
      chunkMax = 50000, maxPending = 500000,
      sink = chunk => { cdpIn.addData(chunk); () }).start()
    // backlog/retry gauges show degradation BEFORE a chunk is dropped
    stats.registerFeeder("cdp-feeder", () => cdpFeeder.dropped.get,
      () => cdpFeeder.backlog, () => cdpFeeder.retryAttemptsNow)
    val ingest = new CdpIngest(e => {
      val accepted = cdpFeeder.offer(e)
      if (accepted) stats.recordEvents(1L)
      accepted
    })

    // live corpus-curation ingest: PII scrub -> exact dedup -> near-dup
    // admit, per micro-batch, extending the persisted index logs with
    // every admission (see CurationPipeline)
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val corpusStats = new CurationPipeline.Stats
    // restore the serving sample if this index root has prior admissions
    // (a fresh temp dir here, but the attach contract is root-agnostic)
    CurationPipeline.loadSample(spark, s"$corpusDir/index", corpusStats)
    // serve-path default: start from a compacted generation — any
    // bulk-seeded tail folds into a few flat files before batch 1 (see
    // compactOnStart)
    CurationPipeline.compactOnStart(spark, s"$corpusDir/index")
    val corpusIn =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val corpusQuery = corpusIn.toDF().toDF("doc_id", "ts", "text")
      .writeStream.queryName("serve_corpus").outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CurationPipeline.admitBatch(spark, batch, s"$corpusDir/index", corpusStats)
      }
      .start()
    // same single-feeder discipline as the CDP bus (the corpus rate is
    // lower, but concurrent POSTs race the same non-thread-safe encoder)
    val corpusFeeder =
      new IngestFeeder[(Long, java.sql.Timestamp, String)]("corpus-ingest-feeder",
        chunkMax = 10000, maxPending = 100000,
        sink = chunk => { corpusIn.addData(chunk); () }).start()
    stats.registerFeeder("corpus-ingest-feeder", () => corpusFeeder.dropped.get,
      () => corpusFeeder.backlog, () => corpusFeeder.retryAttemptsNow)
    val corpusIngest = new CorpusIngest(
      (id, ts, text) => corpusFeeder.offer((id, ts, text)), corpusStats)

    val server = new ApiServer(alertsHub, segmentsHub, profilesHub, stats, sim,
      port = port, heartbeatMs = heartbeatMs,
      ingest = Some(ingest), cdpMetrics = Some(cdpMetrics),
      corpusIngest = Some(corpusIngest), corpusStats = Some(corpusStats)).start()
    App(server, spark, Seq(cdpQuery, corpusQuery), sim,
      alertsHub, segmentsHub, profilesHub, cdpMetrics,
      feeders = Seq(cdpFeeder, corpusFeeder), corpusRoot = Some(s"$corpusDir/index"))
  }

  /** Bounded top-20 by (lastSeen desc, profileId) without sorting the
    * whole summary map each batch: one pass keeping the 20 best.
    */
  private def top20(summaries: ConcurrentHashMap[String, ProfileSnapshot]): Seq[ProfileSnapshot] = {
    // the queue's max (dequeued on overflow) must be the WORST kept row:
    // smallest lastSeen, ties broken toward the LARGER profileId (ranking
    // prefers the smaller id, so the larger one is worse)
    implicit val worstFirst: Ordering[ProfileSnapshot] =
      (a: ProfileSnapshot, b: ProfileSnapshot) => {
        val byTime = java.lang.Long.compare(b.lastSeen.getTime, a.lastSeen.getTime)
        if (byTime != 0) byTime else a.profileId.compareTo(b.profileId)
      }
    val pq = scala.collection.mutable.PriorityQueue.empty[ProfileSnapshot]
    summaries.values.asScala.foreach { p =>
      pq.enqueue(p)
      if (pq.size > 20) pq.dequeue()
    }
    // deterministic order: the changed-only hub compares whole snapshots
    pq.dequeueAll.toSeq
      .sortBy((p: ProfileSnapshot) => (-p.lastSeen.getTime, p.profileId))
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = Sessions.streaming("graft-serve", cores = 8)
    spark.sparkContext.setLogLevel("WARN")
    val app = wire(spark, port)
    println(s"graft serving on http://localhost:${app.server.boundPort}")
    app.spark.streams.awaitAnyTermination()
  }
}
