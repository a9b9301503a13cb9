package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming entity pipeline: reference WindowStore/Rules semantics
  * (EWMA seeding and update-before-compare, R1/R2 thresholds, severity
  * ladder) driven through a real StreamingQuery via MemoryStream.
  */
class EntityPipelineSpec extends SparkSpec {
  import EntityPipeline._

  private def ev(id: String, t: String, entity: String, typ: String, v: Long) =
    EntityEvent(id, ts(t), entity, typ, Some(v), None, None)

  test("R2 fires when value exceeds factor x post-update EWMA; EWMA seeds with first value") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EntityEvent]
    val cfg = RuleConfig(r1MinRate = 1000.0, r2Factor = 2.0, r2MinCount = 1)
    val query = alerts(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName("alerts_r2")
      .outputMode(OutputMode.Append()).start()
    try {
      // e1 seeds ewma=10 (no alert: 10 > 2*10 false)
      // e2 v=100: ewma=0.1*100+0.9*10=19 -> thr=38; 100>38 -> alert, ratio 2.63 LOW
      input.addData(
        ev("e1", "2024-01-01T00:00:00Z", "a", "t", 10),
        ev("e2", "2024-01-01T00:00:10Z", "a", "t", 100))
      query.processAllAvailable()
      val alertsOut = spark.table("alerts_r2").as[Alert].collect()
        .filter(_.rule == "R2_VALUE_SPIKE")
      assert(alertsOut.length == 1)
      assert(alertsOut.head.rateNow == 100.0)
      assert(math.abs(alertsOut.head.threshold - 38.0) < 1e-9)
      assert(alertsOut.head.severity == "LOW")
    } finally query.stop()
  }

  test("R1 fires on rate spike with inclusive 60s window; state survives batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EntityEvent]
    val cfg = RuleConfig(r1Factor = 0.001, r1MinRate = 3.0, r2Factor = 1e9)
    val query = alerts(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName("alerts_r1")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev("e1", "2024-01-01T00:00:00Z", "a", "t", 1),
        ev("e2", "2024-01-01T00:00:30Z", "a", "t", 1))
      query.processAllAvailable()
      // third event arrives in a LATER batch: rate must count prior state
      input.addData(ev("e3", "2024-01-01T00:01:00Z", "a", "t", 1))
      query.processAllAvailable()
      // late events in a later batch, older than e2/e3 already in state:
      // those later points must not count toward their rate
      input.addData(
        ev("e4", "2024-01-01T00:00:10Z", "a", "t", 1),
        ev("e5", "2024-01-01T00:00:20Z", "a", "t", 1))
      query.processAllAvailable()
      val out = spark.table("alerts_r1").as[Alert].collect()
        .filter(_.rule == "R1_VELOCITY_SPIKE")
      // e3: window [00:00:00, 00:01:00] inclusive -> rate 3 >= minRate 3
      assert(out.exists(a => a.ts == ts("2024-01-01T00:01:00Z") && a.rateNow == 3.0))
      // e4: window [23:59:10, 00:00:10] holds e1, e4 -> rate 2 < minRate 3
      assert(!out.exists(_.ts == ts("2024-01-01T00:00:10Z")))
      // e5: window [23:59:20, 00:00:20] holds e1, e4, e5 (not e2, e3) -> 3
      assert(out.filter(_.ts == ts("2024-01-01T00:00:20Z")).map(_.rateNow).toSeq == Seq(3.0))
    } finally query.stop()
  }

  test("R3 fires on conflicting geo tags within the 2-minute window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EntityEvent]
    val cfg = RuleConfig(r1MinRate = 1e9, r2Factor = 1e18, r4MinThreshold = 1e18)
    val query = alerts(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName("alerts_r3")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        EntityEvent("e1", ts("2024-01-01T00:00:00Z"), "a", "t", Some(1), Some("US"), Some("ios")),
        EntityEvent("e2", ts("2024-01-01T00:01:00Z"), "a", "t", Some(1), Some("RU"), Some("ios")),
        EntityEvent("e3", ts("2024-01-01T00:10:00Z"), "a", "t", Some(1), Some("DE"), Some("ios")))
      query.processAllAvailable()
      val out = spark.table("alerts_r3").as[Alert].collect().filter(_.rule == "R3_TAG_MISMATCH")
      assert(out.length == 1) // e2 conflicts with e1; e3 is outside the 2m window
      assert(out.head.ts == ts("2024-01-01T00:01:00Z"))
      assert(out.head.severity == "MEDIUM")
    } finally query.stop()
  }

  test("R4 fires when the 30s sum exceeds the P95 fallback threshold") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EntityEvent]
    // factor 0 disables the adaptive part: threshold = minThreshold = 100
    val cfg = RuleConfig(r1MinRate = 1e9, r2Factor = 1e18,
      r4FactorP95 = 0.0, r4MinThreshold = 100.0)
    val query = alerts(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName("alerts_r4")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev("e1", "2024-01-01T00:00:00Z", "a", "t", 30),   // sum30s=30 <= 100
        ev("e2", "2024-01-01T00:00:10Z", "a", "t", 90))   // sum30s=120 > 100
      query.processAllAvailable()
      val out = spark.table("alerts_r4").as[Alert].collect().filter(_.rule == "R4_EXFIL")
      assert(out.length == 1)
      assert(out.head.rateNow == 120.0) // the offending 30s sum
      assert(out.head.severity == "HIGH")
      assert(out.head.ts == ts("2024-01-01T00:00:10Z"))
    } finally query.stop()
  }

  test("severity ladder: >=10x HIGH, >=5x MEDIUM, else LOW; threshold<=0 HIGH") {
    assert(severity(100, 10) == "HIGH")
    assert(severity(50, 10) == "MEDIUM")
    assert(severity(49.9, 10) == "LOW")
    assert(severity(1, 0) == "HIGH")
    assert(severity(1, -5) == "HIGH")
  }

  test("keys are independent: events on entity b do not affect entity a") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EntityEvent]
    val cfg = RuleConfig(r1Factor = 0.001, r1MinRate = 2.0, r2Factor = 1e9)
    val query = alerts(spark, input.toDS(), cfg)
      .writeStream.format("memory").queryName("alerts_keys")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev("e1", "2024-01-01T00:00:00Z", "a", "t", 1),
        ev("e2", "2024-01-01T00:00:01Z", "b", "t", 1))
      query.processAllAvailable()
      val out = spark.table("alerts_keys").as[Alert].collect()
      assert(out.isEmpty) // each key saw only 1 event < minRate 2
    } finally query.stop()
  }
}
