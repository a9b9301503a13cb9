package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  test("simulator: deterministic, correct SASE mix, ~5% duplicate ids") {
    val a = Simulator.entityEvents(spark, 20000)
    val b = Simulator.entityEvents(spark, 20000)
    // bit-for-bit reproducible (map column json-encoded: set ops reject MAP)
    def comparable(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("tags", to_json(col("tags")))
    assert(comparable(a).exceptAll(comparable(b)).isEmpty)
    val mix = a.groupBy("eventType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = 20000.0
    assert(math.abs(mix("CONN_OPEN") / n - 0.5) < 0.02)
    assert(math.abs(mix("CONN_BYTES") / n - 0.3) < 0.02)
    assert(math.abs(mix("LOGIN") / n - 0.2) < 0.02)
    val dupRate = 1.0 - a.select("eventId").distinct().count() / n
    assert(dupRate > 0.03 && dupRate < 0.07)
  }

  test("multimodal frame fan-out: one row per sampled frame") {
    import spark.implicits._
    val assets = Seq((1L, "video payload", "video")).toDF("asset_id", "text", "media_type")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("payload"), col("media_type"))
    val feats = graft.operators.Multimodal.decodeFeatures(spark, assets)
    val frames = graft.operators.Multimodal.explodeFrames(feats).collect()
    val n = feats.collect().head.getAs[Seq[Int]]("sampled_frames").length
    assert(frames.length == n && n >= 1)
    assert(frames.map(_.getAs[Int]("sample_idx")).toSeq == (0 until n))
  }

  test("watermarked dedup drops repeats within the grace window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = graft.streaming.Watermarks.dedup(
      input.toDF().toDF("eventId", "ts"), "ts", graceSec = 600, "eventId")
    val query = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      input.addData(("e1", ts("2024-01-01T00:00:00Z")))
      query.processAllAvailable()
      input.addData(("e1", ts("2024-01-01T00:01:00Z"))) // dup, within grace
      input.addData(("e2", ts("2024-01-01T00:01:00Z")))
      query.processAllAvailable()
      val out = spark.table("wm_dedup").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("e1", "e2"))
    } finally query.stop()
  }
}
