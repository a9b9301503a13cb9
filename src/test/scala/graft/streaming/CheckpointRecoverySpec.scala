package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Checkpoint recovery: a stateful query stopped and restarted from its
  * checkpoint must resume with its per-key state intact — an R1 alert
  * whose rate counts events from BEFORE the restart proves the window
  * state survived, which is the property the reference's in-memory store
  * loses on every restart (`docs/cdp/README.md:634-636`). The CDP profile
  * query must additionally end, across the restart, in the same profiles
  * as the batch replay of the whole log.
  */
object CheckpointRecoverySpec {
  // foreachBatch sink targets (the memory sink cannot recover from a
  // checkpoint); static so executors/driver share one buffer in local mode
  val alerts = new java.util.concurrent.ConcurrentLinkedQueue[Alert]()
  val snapshots = new java.util.concurrent.ConcurrentLinkedQueue[(Long, ProfileSnapshot)]()
}

class CheckpointRecoverySpec extends SparkSpec {

  private def writeEvents(dir: String, name: String, lines: Seq[String]): Unit =
    Files.writeString(Path.of(dir, name), lines.mkString("", "\n", "\n"))

  private def ev(id: String, t: String, v: Long) =
    s"""{"eventId":"$id","ts":"$t","entityId":"a","eventType":"t","value":$v}"""

  test("entity window state survives a query restart from checkpoint") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("ckpt_in").toString
    val ckpt = Files.createTempDirectory("ckpt_state").toString

    def startQuery() = {
      val events = spark.readStream
        .schema("eventId STRING, ts TIMESTAMP, entityId STRING, eventType STRING, value LONG")
        .json(inDir)
        .withColumn("geo", lit(null: String))
        .withColumn("device", lit(null: String))
        .as[EntityEvent]
      val cfg = EntityPipeline.RuleConfig(
        r1Factor = 0.001, r1MinRate = 3.0, r2Factor = 1e18, r4MinThreshold = 1e18)
      EntityPipeline.alerts(spark, events, cfg)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Alert], _: Long) =>
          batch.collect().foreach(CheckpointRecoverySpec.alerts.add)
        }
        .start()
    }

    // phase 1: two events — below the rate threshold, no alert
    writeEvents(inDir, "b1.json", Seq(
      ev("e1", "2024-01-01T00:00:00Z", 1),
      ev("e2", "2024-01-01T00:00:20Z", 1)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(CheckpointRecoverySpec.alerts.isEmpty)

    // phase 2: NEW query, same checkpoint; the third event's 60s rate must
    // count the two pre-restart events (3 >= minRate) — only possible if
    // the flatMapGroupsWithState state was restored
    writeEvents(inDir, "b2.json", Seq(ev("e3", "2024-01-01T00:00:40Z", 1)))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = CheckpointRecoverySpec.alerts.asScala.toSeq
        .filter(_.rule == "R1_VELOCITY_SPIKE")
      assert(got.length == 1)
      assert(got.head.rateNow == 3.0)
    } finally q2.stop()
  }

  /** Order-insensitive projection of profile snapshots: one JSON string
    * per profile with the trait map as sorted entries (the projection the
    * benchmark's stream↔batch profile check fingerprints).
    */
  private def canon(df: DataFrame): Set[String] =
    df.select(to_json(struct(
        col("profileId"), col("userIds"), col("emails"), col("anonymousIds"),
        array_sort(map_entries(col("traits"))).as("traits"),
        col("trackCount24h"),
        unix_micros(col("lastSeen")).as("last_seen_us"),
        col("segments"))))
      .collect().map(_.getString(0)).toSet

  private def cdp(id: String, t: String, user: String, kind: String = "TRACK",
                  traits: String = "{}") =
    s"""{"eventId":"$id","ts":"$t","eventType":"$kind","userId":"$user",""" +
      s""""name":"feature_used","traits":$traits}"""

  test("CDP profile state survives a query restart from checkpoint") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val inDir = Files.createTempDirectory("ckpt_cdp_in").toString
    val ckpt = Files.createTempDirectory("ckpt_cdp_state").toString
    val schema = "eventId STRING, ts TIMESTAMP, eventType STRING, userId STRING, " +
      "anonymousId STRING, email STRING, name STRING, traits MAP<STRING, STRING>"

    def startQuery() =
      CdpPipeline.profileUpdates(spark,
        spark.readStream.schema(schema).json(inDir).as[CdpEvent])
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[ProfileSnapshot], id: Long) =>
          batch.collect().foreach(p => CheckpointRecoverySpec.snapshots.add(id -> p))
        }
        .start()

    // file 1: u1 gets two TRACKs (c2 delivered twice) and an equal-ts plan
    // pair (the larger eventId, c4, wins: pro); u2 gets two TRACKs
    writeEvents(inDir, "c1.json", Seq(
      cdp("c1", "2024-01-01T00:01:00Z", "u1"),
      cdp("c2", "2024-01-01T00:02:00Z", "u1"),
      cdp("c3", "2024-01-01T00:03:00Z", "u1", "IDENTIFY", """{"plan":"free"}"""),
      cdp("c4", "2024-01-01T00:03:00Z", "u1", "IDENTIFY", """{"plan":"pro"}"""),
      cdp("c2", "2024-01-01T00:02:00Z", "u1"),
      cdp("c5", "2024-01-01T00:04:00Z", "u2"),
      cdp("c6", "2024-01-01T00:05:00Z", "u2")))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(CheckpointRecoverySpec.snapshots.asScala.map(_._2.profileId).toSet ==
      Set("user:u1", "user:u2"))

    // file 2: a late TRACK for u1 (before all of its file-1 events), two
    // more u1 TRACKs, and c5 re-sent. u1 reaches power_user (5 TRACKs in
    // 24 h) and keeps pro_plan only through its restored file-1 state;
    // u2's re-sent id must hit the restored dedup cache and change nothing
    val file2 = Seq(
      cdp("c0", "2024-01-01T00:00:00Z", "u1"),
      cdp("c7", "2024-01-01T00:06:00Z", "u1"),
      cdp("c8", "2024-01-01T00:07:00Z", "u1"),
      cdp("c5", "2024-01-01T00:04:00Z", "u2"))
    writeEvents(inDir, "c2.json", file2)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // the restarted query reads file 2 only: file 1's rows reach the end
      // state through the checkpointed state, not through a re-read
      assert(q2.recentProgress.map(_.numInputRows).sum == file2.length)
    } finally q2.stop()

    // last emitted snapshot per profile (changed-only emission) equals the
    // batch replay of both files
    val last = CheckpointRecoverySpec.snapshots.asScala.toSeq
      .groupBy(_._2.profileId).values.map(_.maxBy(_._1)._2).toSeq
    val batch = CdpPipeline.profileSnapshots(spark,
      spark.read.schema(schema).json(inDir).as[CdpEvent]).toDF()
    assert(canon(last.toDF()) == canon(batch))
    val u1 = last.find(_.profileId == "user:u1").get
    assert(u1.trackCount24h == 5)
    assert(u1.segments == Seq("power_user", "pro_plan"))
  }
}
