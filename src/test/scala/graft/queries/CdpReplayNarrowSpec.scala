package graft.queries

import graft.SparkSpec
import graft.streaming.CdpPipeline
import org.apache.spark.sql.functions._

/** The narrow-shuffle batch replay (`CdpReplay.replaySnapshots`) must equal
  * the object-shuffling `profileSnapshots(cdpEventLog(...))` fold snapshot-
  * for-snapshot: same LWW plan trait, same 24 h counter, same segments,
  * same lastSeen — including out-of-order event times, equal-timestamp LWW
  * ties (eventId order breaks them), and users whose events span > 24 h.
  */
class CdpReplayNarrowSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("profileId"), element_at(col("traits"), "plan").as("plan"),
      col("trackCount24h"), unix_millis(col("lastSeen")).as("ls"),
      concat_ws(",", col("segments")).as("segs"))
    .collect()
    .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
      r.getLong(3), r.getString(4)))
    .sortBy(_._1)
    .toSeq

  test("replaySnapshots equals profileSnapshots over the same log") {
    val s = spark
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val uid = rnd.nextInt(12).toLong
      val tsUs = 1700000000000000L + rnd.nextInt(200000) * 1000000L
      val et = if (rnd.nextInt(4) == 0) "signup" else "view"
      (i.toLong, new java.sql.Timestamp(tsUs / 1000L), uid, et,
        s"""{"k": ${rnd.nextInt(9)}}""")
    }
    import s.implicits._
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "props")
    val narrow = canon(CdpReplay.replaySnapshots(s, events).toDF())
    val wide = canon(CdpPipeline.profileSnapshots(
      s, CdpReplay.cdpEventLog(s, events)).toDF())
    assert(narrow == wide)
  }

  test("equal-timestamp signups: the larger eventId wins the plan in both replays") {
    val s = spark
    import s.implicits._
    val t = new java.sql.Timestamp(1700000000000L)
    // k parity picks the plan (even = pro); the ids cross a digit boundary
    // so string order ("12" < "7") would pick the other event
    val events = Seq(
      (7L, t, 1L, "signup", """{"k": 2}"""),   // user 1: pro
      (12L, t, 1L, "signup", """{"k": 3}"""),  // user 1: free, larger id
      (10L, t, 2L, "signup", """{"k": 4}"""),  // user 2: pro, larger id
      (9L, t, 2L, "signup", """{"k": 1}""")    // user 2: free
    ).toDF("event_id", "ts", "user_id", "event_type", "props")
    val narrow = canon(CdpReplay.replaySnapshots(s, events).toDF())
    val wide = canon(CdpPipeline.profileSnapshots(
      s, CdpReplay.cdpEventLog(s, events)).toDF())
    val want = Map("user:1" -> Some("free"), "user:2" -> Some("pro"))
    assert(narrow.map(r => r._1 -> r._2).toMap == want)
    assert(wide.map(r => r._1 -> r._2).toMap == want)
  }
}
