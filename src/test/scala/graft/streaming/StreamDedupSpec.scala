package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming exact content dedup: first arrival per content hash wins
  * within the watermark window; state is evicted past it (bounded state —
  * the trade every streaming dedup makes).
  */
class StreamDedupSpec extends SparkSpec {

  test("duplicates within the watermark dropped; state evicted after it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val query = Dedup.exactStream(
        input.toDF().toDF("id", "ts", "text"), col("text"), delay = "10 minutes")
      .select("id", "text")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01T00:00:00Z"), "alpha"),
        (2L, ts("2024-01-01T00:01:00Z"), "beta"))
      query.processAllAvailable()
      // same content within the window -> dropped, different content passes
      input.addData(
        (3L, ts("2024-01-01T00:02:00Z"), "alpha"),
        (4L, ts("2024-01-01T00:03:00Z"), "gamma"))
      query.processAllAvailable()
      assert(spark.table("sdedup").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 4L))
      // advance event time far past the watermark window -> "alpha" state
      // evicted -> a fresh "alpha" is treated as new (bounded-state trade)
      input.addData((5L, ts("2024-01-01T02:00:00Z"), "delta"))
      query.processAllAvailable()
      input.addData((6L, ts("2024-01-01T02:01:00Z"), "alpha"))
      query.processAllAvailable()
      val ids = spark.table("sdedup").select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L, 5L, 6L), ids.toString)
    } finally query.stop()
  }
}
