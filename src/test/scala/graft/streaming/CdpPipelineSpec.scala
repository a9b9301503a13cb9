package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, TransformWithState}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** CDP pipeline: reference-pinned semantics — power_user ENTER after 5
  * TRACKs, LWW equal-ts tie keeps later arrival, dedup per profile but
  * independent across profiles, EXIT when the 24h window rolls off.
  */
class CdpPipelineSpec extends SparkSpec {
  import CdpPipeline._

  private def track(id: String, t: String, user: String,
                    traits: Map[String, String] = Map.empty) =
    CdpEvent(id, ts(t), "TRACK", Some(user), None, None, Some("feature_used"), traits)

  private def identify(id: String, t: String, user: String,
                       traits: Map[String, String]) =
    CdpEvent(id, ts(t), "IDENTIFY", Some(user), None, None, None, traits)

  test("power_user ENTER emitted on the 5th TRACK within 24h") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CdpEvent]
    val query = segmentEvents(spark, input.toDS())
      .writeStream.format("memory").queryName("segs_pu")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1 to 5).map(i =>
        track(s"e$i", f"2024-01-01T00:0$i:00Z", "u1")): _*)
      query.processAllAvailable()
      val out = spark.table("segs_pu").as[SegmentEvent].collect()
      assert(out.count(e => e.segment == "power_user" && e.action == "ENTER") == 1)
      assert(out.head.profileId == "user:u1")
      assert(out.head.ts == ts("2024-01-01T00:05:00Z")) // the 5th track
    } finally query.stop()
  }

  test("LWW: equal-timestamp trait updates keep the later arrival") {
    import spark.implicits._
    val events = Seq(
      identify("e1", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "free")),
      // same ts, later event id -> must win (ProfileStoreTest.kt:120-134)
      identify("e2", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "pro")))
    val snap = profileSnapshots(spark, spark.createDataset(events)).collect()
    assert(snap.length == 1)
    assert(snap.head.traits("plan") == "pro")
    assert(snap.head.segments.contains("pro_plan"))
  }

  test("LWW equal-ts tie across MICRO-BATCHES matches batch replay (eventId order, not arrival)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // e2 (pro) arrives in batch 1, e1 (free) — same ts, SMALLER eventId —
    // in batch 2: the replay fixpoint orders by (ts, eventId), so pro must
    // survive e1's later arrival. Before the (ts, eventId)-total-order tie
    // rule, arrival order decided and the stream diverged from replay.
    val input = MemoryStream[CdpEvent]
    val query = profileUpdates(spark, input.toDS())
      .writeStream.format("memory").queryName("lww_xbatch")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(identify("e2", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "pro")))
      query.processAllAvailable()
      input.addData(identify("e1", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "free")))
      query.processAllAvailable()
      val rows = spark.table("lww_xbatch").as[ProfileSnapshot].collect()
      assert(rows.nonEmpty && rows.forall(_.traits("plan") == "pro"),
        s"equal-ts tie must resolve by eventId in the stream too: ${rows.toSeq}")
      // and the batch replay of the same log agrees
      val snap = profileSnapshots(spark, spark.createDataset(Seq(
        identify("e2", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "pro")),
        identify("e1", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "free"))))).collect()
      assert(snap.head.traits("plan") == "pro")
    } finally query.stop()
  }

  test("older trait update does not overwrite newer one") {
    import spark.implicits._
    val events = Seq(
      identify("e2", "2024-01-01T01:00:00Z", "u1", Map("plan" -> "pro")),
      identify("e1", "2024-01-01T00:00:00Z", "u1", Map("plan" -> "free")))
    val snap = profileSnapshots(spark, spark.createDataset(events)).collect()
    assert(snap.head.traits("plan") == "pro")
  }

  test("dedup drops repeated eventId within a profile, not across profiles") {
    import spark.implicits._
    val events = Seq(
      track("dup", "2024-01-01T00:00:00Z", "u1"),
      track("dup", "2024-01-01T00:01:00Z", "u1"), // dropped
      track("dup", "2024-01-01T00:00:00Z", "u2")) // different profile: kept
    val snaps = profileSnapshots(spark, spark.createDataset(events)).collect()
      .map(s => s.profileId -> s.trackCount24h).toMap
    assert(snaps("user:u1") == 1)
    assert(snaps("user:u2") == 1)
  }

  test("24h roll-off: EXIT power_user when old tracks age out") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CdpEvent]
    val query = segmentEvents(spark, input.toDS())
      .writeStream.format("memory").queryName("segs_exit")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1 to 5).map(i =>
        track(s"e$i", f"2024-01-01T00:0$i:00Z", "u1")): _*)
      query.processAllAvailable()
      input.addData(track("late", "2024-01-03T00:00:00Z", "u1"))
      query.processAllAvailable()
      val out = spark.table("segs_exit").as[SegmentEvent].collect()
      assert(out.exists(e => e.segment == "power_user" && e.action == "ENTER"))
      assert(out.exists(e => e.segment == "power_user" && e.action == "EXIT" &&
        e.ts == ts("2024-01-03T00:00:00Z")))
    } finally query.stop()
  }

  test("identifier merge is grow-only; emails normalized lowercase") {
    import spark.implicits._
    val events = Seq(
      CdpEvent("e1", ts("2024-01-01T00:00:00Z"), "IDENTIFY", Some("u1"), Some("a1"),
        Some("Bob@Example.COM"), None, Map.empty),
      CdpEvent("e2", ts("2024-01-01T00:01:00Z"), "IDENTIFY", Some("u1"), Some("a2"),
        Some("bob@example.com"), None, Map.empty))
    val snap = profileSnapshots(spark, spark.createDataset(events)).collect().head
    assert(snap.anonymousIds == Seq("a1", "a2"))
    assert(snap.emails == Seq("bob@example.com"))
  }

  test("profileUpdates emits only on change; duplicate batch emits nothing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[CdpEvent]
    val query = profileUpdates(spark, input.toDS())
      .writeStream.format("memory").queryName("prof_updates")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(CdpEvent("e1", ts("2024-01-01T00:00:00Z"), "IDENTIFY",
        Some("u1"), None, None, None, Map("plan" -> "pro")))
      query.processAllAvailable()
      val snaps1 = spark.table("prof_updates").as[ProfileSnapshot].collect()
      assert(snaps1.length == 1 && snaps1.head.traits("plan") == "pro")
      // the SAME event again: dedup makes the fold a no-op — the
      // changed-only contract (W7) must emit no second snapshot
      input.addData(CdpEvent("e1", ts("2024-01-01T00:00:00Z"), "IDENTIFY",
        Some("u1"), None, None, None, Map("plan" -> "pro")))
      query.processAllAvailable()
      assert(spark.table("prof_updates").count() == 1)
      // a genuinely new event emits exactly one more
      input.addData(CdpEvent("e2", ts("2024-01-01T00:05:00Z"), "TRACK",
        Some("u1"), None, None, Some("feature_used"), Map.empty))
      query.processAllAvailable()
      val snaps2 = spark.table("prof_updates").as[ProfileSnapshot].collect()
      assert(snaps2.length == 2 && snaps2.map(_.trackCount24h).max == 1L)
    } finally query.stop()
  }

  test("fold, segmentEvents and profileUpdates emit the same rows, batch by batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ins = Seq.fill(3)(MemoryStream[CdpEvent])
    val folds = new java.util.concurrent.ConcurrentLinkedQueue[CdpFold]
    val segs = new java.util.concurrent.ConcurrentLinkedQueue[SegmentEvent]
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[ProfileSnapshot]
    def sink[T](ds: org.apache.spark.sql.Dataset[T],
                out: java.util.concurrent.ConcurrentLinkedQueue[T]) =
      ds.writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[T], _: Long) =>
          b.collect().foreach(out.add); ()
        }
        .start()
    val queries = Seq(sink(fold(spark, ins(0).toDS()), folds),
      sink(segmentEvents(spark, ins(1).toDS()), segs),
      sink(profileUpdates(spark, ins(2).toDS()), snaps))
    def step(evs: Seq[CdpEvent]): Seq[CdpFold] = {
      Seq(folds, segs, snaps).foreach(_.clear())
      ins.foreach(_.addData(evs))
      queries.foreach(_.processAllAvailable())
      import scala.jdk.CollectionConverters._
      val rows = folds.asScala.toSeq.sortBy(_.profileId)
      assert(rows.map(_.profileId).distinct.size == rows.size, s"one row per profile: $rows")
      assert(rows.flatMap(_.events) == segs.asScala.toSeq.sortBy(_.profileId),
        "segmentEvents differs from the fold's events")
      assert(rows.flatMap(_.snapshot) == snaps.asScala.toSeq.sortBy(_.profileId),
        "profileUpdates differs from the fold's snapshots")
      rows
    }
    val first = (1 to 5).map(i => track(s"t$i", f"2024-01-01T00:0$i:00Z", "u1")) ++ Seq(
      identify("p1", "2024-01-01T00:00:00Z", "u2", Map("plan" -> "pro")),
      identify("f1", "2024-01-01T00:00:00Z", "u3", Map("plan" -> "free")))
    try {
      val b1 = step(first)
      assert(b1.map(r => r.profileId -> r.events.map(e => (e.segment, e.action))) == Seq(
        "user:u1" -> Seq(("power_user", "ENTER")), "user:u2" -> Seq(("pro_plan", "ENTER")),
        "user:u3" -> Nil))
      assert(b1.forall(_.snapshot.nonEmpty))
      // pure duplicates: the fold is a no-op, so no row at all
      assert(step(first.take(3) :+ first.last).isEmpty)
      // a trait change without a segment change: a snapshot, no events
      val b3 = step(Seq(identify("f2", "2024-01-01T00:10:00Z", "u3", Map("plan" -> "basic"))))
      assert(b3.size == 1 && b3.head.events.isEmpty &&
        b3.head.snapshot.exists(_.traits("plan") == "basic"), b3)
      // EXITs: u2 leaves pro_plan, u1's tracks age out of the 24 h window
      val b4 = step(Seq(
        identify("p2", "2024-01-01T01:00:00Z", "u2", Map("plan" -> "free")),
        track("t6", "2024-01-03T00:00:00Z", "u1")))
      assert(b4.map(r => r.profileId -> r.events.map(e => (e.segment, e.action))) == Seq(
        "user:u1" -> Seq(("power_user", "EXIT")), "user:u2" -> Seq(("pro_plan", "EXIT"))))
      // each view's rows come straight out of its fold: no Generate over
      // fold rows, and no Filter that would keep the CdpFold serializer
      def optimized(q: StreamingQuery) =
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      val Seq(segPlan, snapPlan) = queries.tail.map(optimized)
      assert(Seq(segPlan, snapPlan).forall(_.exists(_.isInstanceOf[TransformWithState])))
      assert(!segPlan.exists(_.isInstanceOf[Generate]), segPlan)
      assert(!snapPlan.exists(_.isInstanceOf[Filter]), snapPlan)
    } finally queries.foreach(_.stop())
  }
}
