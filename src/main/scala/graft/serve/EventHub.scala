package graft.serve

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicReference

/** Bounded pub/sub hub between foreachBatch sinks and SSE connections.
  * Each subscriber owns a bounded queue; a slow consumer drops its OLDEST
  * frames (monitoring streams prefer fresh data over backpressuring the
  * pipeline — the reference's reactive bus makes the same trade with its
  * bounded replay buffer).
  */
final class EventHub(capacity: Int = 1024) {

  final class Subscription private[EventHub] (
      private[EventHub] val q: LinkedBlockingQueue[String]) {
    /** Blocks up to timeoutMs; null on timeout. */
    def poll(timeoutMs: Long): String =
      q.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    def cancel(): Unit = unsubscribe(this)
  }

  private val subs = new AtomicReference[List[Subscription]](Nil)

  def subscribe(): Subscription = {
    val s = new Subscription(new LinkedBlockingQueue[String](capacity))
    subs.updateAndGet(s :: _)
    s
  }

  private def unsubscribe(s: Subscription): Unit =
    subs.updateAndGet(_.filterNot(_ eq s))

  def subscriberCount: Int = subs.get.size

  def publish(frame: String): Unit =
    subs.get.foreach { s =>
      while (!s.q.offer(frame)) s.q.poll() // drop-oldest, never block
    }
}

/** A10 / `/stats/overview`: events+alerts per trailing minute and uptime.
  * The reference keeps one Instant PER EVENT (`core/StatsService.kt`) —
  * fine at 10 k events/s on one node, driver-OOM at cluster rates. Here:
  * per-second buckets, batch increments from foreachBatch (one call per
  * micro-batch, not per record), trailing-60 s sum on read.
  */
final class StatsService(clock: () => Long = System.currentTimeMillis) {
  private val startedMs = clock()
  private val Window = 64 // seconds of ring retained (>= 60 needed)
  private val evBuckets = new Array[Long](Window)
  private val alBuckets = new Array[Long](Window)
  private val evStamp = new Array[Long](Window)
  private val alStamp = new Array[Long](Window)

  private def bump(buckets: Array[Long], stamps: Array[Long], n: Long): Unit =
    synchronized {
      val sec = clock() / 1000L
      val i = (sec % Window).toInt
      if (stamps(i) != sec) { stamps(i) = sec; buckets(i) = 0L }
      buckets(i) += n
    }

  private def trailing(buckets: Array[Long], stamps: Array[Long]): Long =
    synchronized {
      val sec = clock() / 1000L
      (0 until Window).map { i =>
        if (sec - stamps(i) < 60L) buckets(i) else 0L
      }.sum
    }

  def recordEvents(n: Long): Unit = bump(evBuckets, evStamp, n)
  def recordAlerts(n: Long): Unit = bump(alBuckets, alStamp, n)

  // events a feeder accepted but dropped after exhausting a chunk's
  // retry budget — plus the two EARLY gauges (backlog depth,
  // retry-in-progress) that let a soak see a feeder degrading BEFORE it
  // drops. Registered as live gauges (the feeders own their counters).
  final case class FeederGauges(dropped: () => Long, backlog: () => Int,
                                retryAttempts: () => Int)
  private val feederGauges =
    new AtomicReference[List[(String, FeederGauges)]](Nil)
  def registerFeeder(name: String, dropped: () => Long,
                     backlog: () => Int, retryAttempts: () => Int): Unit = {
    feederGauges.updateAndGet(
      (name, FeederGauges(dropped, backlog, retryAttempts)) :: _); ()
  }
  def droppedByFeeder: Seq[(String, Long)] =
    feederGauges.get.reverse.map { case (n, g) => (n, g.dropped()) }
  def droppedTotal: Long = feederGauges.get.map(_._2.dropped()).sum
  def backlogByFeeder: Seq[(String, Long)] =
    feederGauges.get.reverse.map { case (n, g) => (n, g.backlog().toLong) }
  def retryingByFeeder: Seq[(String, Long)] =
    feederGauges.get.reverse.map { case (n, g) => (n, g.retryAttempts().toLong) }

  def eventsPerMin: Long = trailing(evBuckets, evStamp)
  def alertsPerMin: Long = trailing(alBuckets, alStamp)
  def uptimeSec: Long = (clock() - startedMs) / 1000L
}
