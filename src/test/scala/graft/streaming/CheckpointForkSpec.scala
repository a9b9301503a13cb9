package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Committed after the measured work; seeing it means the stream has
  * delivered every event recorded before it.
  */
@jdk.jfr.Name("graft.CheckpointForkSpec.Mark")
class CheckpointForkMark extends jdk.jfr.Event

/** Fork guard: micro-batches of `EntityPipeline.alerts` under the session's
  * checkpoint file manager start no process from a `CheckpointFileManager`
  * stack (JFR `jdk.ProcessStart` events with their stacks). The same run
  * under Spark's default manager is the control: it shows that the
  * recording sees those starts.
  */
class CheckpointForkSpec extends SparkSpec {

  private val batches = 6

  /** Commands of the processes started from a checkpoint-manager stack
    * while `batches` micro-batches of the entity pipeline run.
    */
  private def checkpointForks(): Seq[String] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val starts = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[CheckpointForkMark])
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = e.getStackTrace.getFrames.asScala
        if (frames.exists(_.getMethod.getType.getName.contains("CheckpointFileManager")))
          starts.add(e.getString("command"))
      })
      rs.onEvent("graft.CheckpointForkSpec.Mark", _ => marked.countDown())
      rs.startAsync()

      val input = MemoryStream[EntityEvent]
      val query = EntityPipeline.alerts(spark, input.toDS(), EntityPipeline.RuleConfig())
        .writeStream.format("noop")
        .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt_forks").toString)
        .start()
      try {
        for (b <- 0 until batches) {
          input.addData((0 until 50).map { i =>
            EntityEvent(s"e$b-$i", ts(f"2024-01-01T00:$b%02d:00Z"), s"u${i % 7}", "t", Some(i.toLong), None, None)
          })
          query.processAllAvailable()
        }
        assert(query.lastProgress.batchId == batches - 1)
      } finally query.stop()

      new CheckpointForkMark().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the JFR stream never delivered the mark")
    } finally rs.close()
    starts.asScala.toSeq
  }

  /** Starts per program, e.g. `chmod x99, readlink x344`. */
  private def summary(commands: Seq[String]): String =
    commands.groupBy(_.takeWhile(_ != ' ')).toSeq.sortBy(_._1)
      .map { case (program, starts) => s"$program x${starts.size}" }.mkString(", ")

  test("micro-batches start no process from a checkpoint file manager") {
    val forks = checkpointForks()
    val starts = forks.size
    assert(starts == 0, s"${summary(forks)}; first: ${forks.headOption.getOrElse("")}")
  }

  test("control: under Spark's default manager the same batches do") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val ours = spark.conf.get(key)
    spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    val forks = try checkpointForks() finally spark.conf.set(key, ours)
    val starts = forks.size
    assert(starts >= batches, summary(forks))
  }
}
