package pbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** In-memory spans around the harness's calls into the program's layers.
  * A span is (name, parent name, start, end); the parent is the span open
  * on the same thread, or an explicit one for code that runs on a stream
  * execution thread (a foreachBatch sink nests under its query's batch).
  * While a span is open its name is the thread's `pbench.span` Spark
  * local property, so jobs started inside it are attributed to it.
  * Disabled tracers record nothing and set nothing.
  */
final class Tracer(val enabled: Boolean) {

  final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[String]](() => Nil)
  @volatile private var sc: Option[SparkContext] = None

  def bind(context: SparkContext): Unit = sc = Some(context)

  def apply[T](name: String, parent: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val outer = stack.get
      val p = Option(parent).orElse(outer.headOption).getOrElse("")
      stack.set(name :: outer)
      sc.foreach(_.setLocalProperty(Tracer.Property, name))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(name, p, t0, System.nanoTime()))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Tracer.Property, outer.headOption.orNull))
      }
    }

  /** Forgets every span recorded so far (set-up spans before a run). */
  def reset(): Unit = spans.clear()

  /** A span measured elsewhere (a streaming batch from its progress). */
  def record(name: String, parent: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(name, parent, startNs, endNs))

  /** Per span name: (count, total ms, self ms), where self time is the
    * total minus the total of the spans whose parent it is.
    */
  def table: Seq[(String, Long, Double, Double)] = {
    val all = spans.asScala.toSeq
    val total = all.groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e6)(_ + _)
    val count = all.groupMapReduce(_.name)(_ => 1L)(_ + _)
    val childTotal = all.filter(_.parent.nonEmpty)
      .groupMapReduce(_.parent)(s => (s.endNs - s.startNs) / 1e6)(_ + _)
    total.keys.toSeq.sorted.map { n =>
      (n, count(n), total(n), math.max(0.0, total(n) - childTotal.getOrElse(n, 0.0)))
    }
  }

  /** Self ms summed per layer (the span name's first component). */
  def layerSelf: Map[String, Double] =
    table.groupMapReduce(t => t._1.takeWhile(_ != '.'))(_._4)(_ + _)
}

object Tracer {
  val Property = "pbench.span"
}

/** Engine counters from Spark's public listener APIs, each attributed to
  * the layer call active when its job started: the `pbench.span` local
  * property set by [[Tracer]], else the streaming query that launched the
  * job (`streaming.<query name>`), else `other`.
  */
final class Collector extends SparkListener {

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
  }

  final case class Progress(query: String, startMs: Long, triggerMs: Long,
                            addBatchMs: Long, rows: Long, stateRows: Long,
                            stateBytes: Long, stateUpdateMs: Long,
                            stateCommitMs: Long, startNs: Long)

  private val queryNames = new ConcurrentHashMap[String, String]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val counters = mutable.Map.empty[String, Counters]
  val progress = new ConcurrentLinkedQueue[Progress]()

  private def key(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .orElse(Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(id => "streaming." + queryNames.getOrDefault(id, id)))
      .getOrElse("other")

  private def of(k: String): Counters = synchronized(counters.getOrElseUpdate(k, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = key(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, k))
    val c = of(k)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageKey.getOrDefault(e.stageInfo.stageId, "other"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageKey.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
    if (m != null) {
      val buf = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized { buf += m.executorRunTime }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      if (e.name != null) { queryNames.put(e.id.toString, e.name); () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators.toSeq
        val trigger = d("triggerExecution")
        progress.add(Progress(p.name, java.time.Instant.parse(p.timestamp).toEpochMilli,
          trigger, d("addBatch"), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.allUpdatesTimeMs).sum, ops.map(_.commitTimeMs).sum,
          System.nanoTime() - trigger * 1000000L))
        ()
      }
    }
  }

  /** Counters summed over the attribution keys that satisfy `keep`. */
  def sum(keep: String => Boolean): Counters = synchronized {
    val out = new Counters
    counters.filter(kv => keep(kv._1)).values.foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.taskMs += c.taskMs; out.gcMs += c.gcMs
      out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
    }
    out
  }

  /** Opens the task-skew window: forgets the task times of every stage
    * seen so far (set-up and warm-up stages).
    */
  def resetSkew(): Unit = stageTasks.clear()

  /** Worst stage's max/median task run time, over the stages seen since
    * [[resetSkew]] with at least `minTasks` tasks and a median of at
    * least 1 ms.
    */
  def taskSkew(minTasks: Int): Double =
    stageTasks.values.asScala.flatMap { buf =>
      val s = buf.synchronized(buf.sorted.toIndexedSeq)
      val med = if (s.isEmpty) 0L else s(s.size / 2)
      if (s.size >= minTasks && med >= 1) Some(s.last.toDouble / med) else None
    }.maxOption.getOrElse(1.0)

  def attach(spark: org.apache.spark.sql.SparkSession): Collector = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
    this
  }

  /** Waits for the listener bus to deliver everything posted so far. */
  def flush(spark: org.apache.spark.sql.SparkSession): Unit = {
    val deadline = System.currentTimeMillis() + 5000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }
}
