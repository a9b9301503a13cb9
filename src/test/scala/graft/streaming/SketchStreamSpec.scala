package graft.streaming

import graft.SparkSpec
import graft.operators.{Cms, Hll}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The sketch family's 100 TB story includes STREAMING maintenance: the
  * register tables are plain groupBy aggregations whose merge is max (HLL)
  * or sum (CMS), so Structured Streaming maintains them incrementally with
  * bounded state (groups x registers) and the live table equals the batch
  * sketch over the same prefix of the log — no reprocessing, ever. These
  * specs drive the SAME operator code (`Hll.registers` / `Cms.registers`)
  * over MemoryStream micro-batches and assert register-exact parity with
  * the batch computation.
  */
class SketchStreamSpec extends SparkSpec {

  private def chunks: Seq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(47)
    val types = Seq("view", "click", "purchase")
    // skewed ids so several buckets see multiple updates per micro-batch
    val all = (0 until 3000).map { _ =>
      (math.abs(rnd.nextGaussian() * 500).toLong, types(rnd.nextInt(types.length)))
    }
    all.grouped(1000).toSeq
  }

  test("streaming HLL registers equal batch registers over the same log") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val regs = Hll.registers(
      input.toDF().toDF("user_id", "event_type"),
      col("user_id"), Seq("event_type"))
    val query = regs.writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      var lastCount = 0L
      chunks.foreach { c =>
        input.addData(c)
        query.processAllAvailable()
        // register rows only ever appear or grow — max-merge is monotone
        val n = spark.table("hll_stream").count()
        assert(n >= lastCount, s"register table shrank: $n < $lastCount")
        lastCount = n
      }
      val streamed = spark.table("hll_stream")
        .as[(String, Long, Long)].collect().toSet
      val batch = Hll.registers(
        chunks.flatten.toDF("user_id", "event_type"),
        col("user_id"), Seq("event_type"))
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
      // and therefore the estimates agree too
      val se = Hll.estimate(spark.table("hll_stream"), Seq("event_type"))
        .as[(String, Double)].collect().toSet
      val be = Hll.estimate(Hll.registers(
        chunks.flatten.toDF("user_id", "event_type"),
        col("user_id"), Seq("event_type")), Seq("event_type"))
        .as[(String, Double)].collect().toSet
      assert(se == be)
    } finally query.stop()
  }

  test("streaming CMS registers equal batch registers over the same log") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val regs = Cms.registers(input.toDF().toDF("user_id", "event_type"),
      col("user_id"))
    val query = regs.writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      val streamed = spark.table("cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      val batch = Cms.registers(
        chunks.flatten.toDF("user_id", "event_type"), col("user_id"))
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally query.stop()
  }
}
