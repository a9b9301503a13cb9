package pbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.serve.Json

/** JVM side of the benchmark: runs one workload and writes its raw
  * measurements to `<work>/result.json` for `pbench/run.py`.
  *
  * `pbench.Harness <workload> <seed> <seconds> <trace 0|1> <work dir>`
  */
object Harness {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Ctx(workload: String, seed: Long, seconds: Int,
                       trace: Boolean, work: File, cores: Int) {
    val tracer = new Tracer(trace)
    def file(name: String): File = new File(work, name)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work) = args
    val ctx = Ctx(workload, seed.toLong, seconds.toInt, trace == "1",
      new File(work), Runtime.getRuntime.availableProcessors())
    val out: Map[String, Any] = workload match {
      case "stream_replay" => StreamReplay.run(ctx)
      case "corpus_ingest" => CorpusIngest.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val withCommon = out ++ Map(
      "trace_table" -> ctx.tracer.table.map { case (n, c, t, s) =>
        Map("name" -> n, "count" -> c, "total_ms" -> t, "self_ms" -> s)
      })
    write(ctx.file("result.json"), Json.write(withCommon))
    mark("result written")
    System.exit(0)
  }

  // ------------------------------------------------------------- sessions

  /** A fresh streaming session (the serving path's configuration). */
  def session(ctx: Ctx): SparkSession = {
    val spark = Sessions.streaming(s"pbench-${ctx.workload}", ctx.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.bind(spark.sparkContext)
    spark
  }

  /** Runs `reps` set-ups, tearing down all but the last; returns the
    * kept set-up and every set-up's wall seconds.
    */
  def repeatedSetup[S](reps: Int)(setup: => S)(teardown: S => Unit): (S, Seq[Double]) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var kept: Option[S] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      val s = setup
      secs += (System.nanoTime() - t0) / 1e9
      mark(s"setup ${r + 1} of $reps")
      if (r < reps - 1) teardown(s) else kept = Some(s)
    }
    (kept.get, secs.toSeq)
  }

  /** Logs a phase boundary with the JVM's uptime, for run-time budgets. */
  def mark(phase: String): Unit =
    System.err.println(f"[pbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s: $phase")

  // ------------------------------------------------------------- numbers

  /** Heap MB still reachable after full collections: what the workload
    * retains (state, caches, buffers), independent of GC timing.
    */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def per(x: Double, n: Double): Double = if (n <= 0) 0.0 else x / n

  /** Engine counters between two snapshots, per operation, and the task
    * skew over the stages completed since the collector's window opened.
    */
  def sparkPerOp(c: Collector, before: Map[String, Long], after: Map[String, Long],
                 ops: Double, skewMinTasks: Int): Map[String, Any] = {
    def d(k: String) = (after(k) - before(k)).toDouble
    Map(
      "spark.jobs_per_op" -> per(d("jobs"), ops),
      "spark.stages_per_op" -> per(d("stages"), ops),
      "spark.tasks_per_op" -> per(d("tasks"), ops),
      "spark.task_ms_per_op" -> per(d("taskMs"), ops),
      "spark.gc_ms_per_op" -> per(d("gcMs"), ops),
      "spark.shuffle_write_bytes_per_op" -> per(d("shuffleWrite"), ops),
      "spark.shuffle_read_bytes_per_op" -> per(d("shuffleRead"), ops),
      "spark.task_skew" -> c.taskSkew(skewMinTasks))
  }

  def snapshot(c: Collector, keep: String => Boolean = _ => true): Map[String, Long] = {
    val s = c.sum(keep)
    Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "taskMs" -> s.taskMs, "gcMs" -> s.gcMs, "shuffleWrite" -> s.shuffleWrite,
      "shuffleRead" -> s.shuffleRead)
  }

  /** The progress of query `q` for batches that began in [sinceMs, untilMs]. */
  def progressOf(c: Collector, q: String, sinceMs: Long, untilMs: Long): Seq[c.Progress] =
    c.progress.toArray(Array.empty[c.Progress]).toSeq
      .filter(p => p.query == q && p.startMs >= sinceMs && p.startMs <= untilMs)

  /** `streaming.<q>.*` per-layer numbers of one streaming query over its
    * batches in [sinceMs, untilMs]; `before` and `after` are snapshots of
    * the engine counters attributed to the query.
    */
  def queryLayer(c: Collector, q: String, sinceMs: Long, untilMs: Long,
                 before: Map[String, Long], after: Map[String, Long]): Map[String, Any] = {
    val ps = progressOf(c, q, sinceMs, untilMs)
    def perBatch(k: String) = per((after(k) - before(k)).toDouble, ps.size)
    Map(
      s"streaming.$q.batch_p50_ms" -> median(ps.map(_.triggerMs.toDouble)),
      s"streaming.$q.addbatch_ms_per_kev" ->
        per(ps.map(_.addBatchMs).sum.toDouble, ps.map(_.rows).sum / 1000.0),
      s"streaming.$q.state_update_ms" -> mean(ps.map(_.stateUpdateMs.toDouble)),
      s"streaming.$q.state_commit_ms" -> mean(ps.map(_.stateCommitMs.toDouble)),
      s"streaming.$q.state_rows" -> ps.lastOption.map(_.stateRows).getOrElse(0L).toDouble,
      s"streaming.$q.state_bytes" -> ps.lastOption.map(_.stateBytes).getOrElse(0L).toDouble,
      s"streaming.$q.shuffle_write_bytes" -> perBatch("shuffleWrite"),
      s"streaming.$q.tasks_per_batch" -> perBatch("tasks"))
  }

  /** Self ms per op of the span layers around the measured calls. */
  def selfPerOp(ctx: Ctx, ops: Double): Map[String, Any] = {
    val self = ctx.tracer.layerSelf
    Seq("serve", "streaming").map(l =>
      s"self.${l}_ms_per_op" -> per(self.getOrElse(l, 0.0), ops)).toMap
  }

  // ------------------------------------------------------------- files

  def write(f: File, s: String): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    Files.write(tmp.toPath, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def dirBytes(path: String): Long =
    if (!new File(path).exists()) 0L
    else Files.walk(Paths.get(path)).filter(Files.isRegularFile(_))
      .mapToLong(p => Files.size(p)).sum()
}
