package graft.serve

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

/** The single-threaded drain between HTTP ingest handlers and a
  * MemoryStream (or any non-thread-safe sink). HTTP threads `offer`;
  * ONE feeder thread drains the queue and hands ~100 ms chunks to
  * `sink` — the one-serializer-user discipline the 1k-rps soak proved
  * necessary (MemoryStream's ExpressionEncoder is not thread-safe).
  *
  * Three failure properties the first inline implementation lacked:
  *   - A sink failure (addData after query stop, an encoder error) must
  *     NOT kill the drain thread: with a dead feeder the HTTP handler
  *     kept returning 202 into an unbounded queue — a permanent silent
  *     data stall plus unbounded memory growth. Non-fatal sink errors
  *     are caught in the loop: the chunk is held in a retry slot and
  *     re-attempted on later ticks (per-chunk budget, order-preserving);
  *     after `MaxChunkRetries` failed retries the chunk is dropped and
  *     counted, so a permanently-broken sink degrades to bounded loss,
  *     not a spin — even when poison chunks interleave healthy traffic.
  *   - The pending queue is BOUNDED (`maxPending`): `offer` returns
  *     false when full, and the handler maps that to 503 instead of
  *     lying with a 202 it can never honor.
  *   - If the thread dies anyway (fatal VM error), `running` flips in a
  *     finally and every subsequent `offer` is rejected — dead-feeder
  *     backpressure instead of a black hole.
  */
final class IngestFeeder[A](name: String, chunkMax: Int, maxPending: Int,
                            sink: Seq[A] => Unit, sleepMs: Long = 100L) {

  private val pending = new ConcurrentLinkedQueue[A]()
  // ConcurrentLinkedQueue.size() is O(n); the bound check needs O(1)
  private val queued = new AtomicInteger(0)
  val dropped = new AtomicLong(0L)
  @volatile private var running = true
  // failed chunk held for in-place retry (feeder-thread-only). A retry
  // SLOT, not a tail re-enqueue: the retry budget is per-chunk (a poison
  // chunk interleaved with healthy traffic must still hit its drop bound
  // — a shared consecutive-failure counter resets on every healthy chunk
  // and would retry the poison one forever), ordering is preserved, and
  // a failing sink gets no fresh chunk piled on in the same tick.
  // @volatile: written only by the feeder thread, but read by the stats
  // endpoint (retryAttemptsNow) so an operator can see a degrading sink
  // BEFORE the retry budget exhausts into drops
  @volatile private var retrying: Seq[A] = null
  @volatile private var retryAttempts = 0

  /** Events currently buffered (pending queue + any chunk in the retry
    * slot) — the live backlog-depth gauge. 0 in a healthy drained
    * feeder; climbing toward maxPending means the sink is slower than
    * the offer rate (or failing and retrying).
    */
  def backlog: Int = queued.get()

  /** Retry attempts consumed by the chunk currently stuck in the retry
    * slot; 0 when no retry is in progress. A nonzero value is the
    * earliest external signal of a degrading sink — drops only appear
    * after MaxChunkRetries of these.
    */
  def retryAttemptsNow: Int = if (retrying == null) 0 else retryAttempts

  /** Enqueue one element. `false` = backlog full or feeder dead; the
    * caller must reject the request (503), not acknowledge it.
    *
    * The bound is enforced by atomic RESERVATION (increment first, roll
    * back on overflow), not check-then-add: HTTP handlers offer from
    * many threads at once, and a racy check could overshoot maxPending
    * by the number of in-flight handlers.
    */
  def offer(a: A): Boolean =
    if (!running) false
    else if (queued.incrementAndGet() > maxPending) {
      queued.decrementAndGet(); false
    } else { pending.add(a); true }

  /** One drain tick; package-private so specs can drive it without the
    * thread/clock.
    */
  private[serve] def drainOnce(): Unit = {
    // a previously-failed chunk is retried FIRST; while it is failing,
    // no new chunk is offered to the sink (return below), so loss stays
    // bounded to the one chunk and ordering holds
    if (retrying != null) {
      try {
        sink(retrying)
        queued.addAndGet(-retrying.size) // delivered: leaves the bound
        retrying = null
        retryAttempts = 0
      } catch {
        case NonFatal(t) =>
          retryAttempts += 1
          if (retryAttempts > IngestFeeder.MaxChunkRetries) {
            dropped.addAndGet(retrying.size.toLong)
            queued.addAndGet(-retrying.size) // dropped: leaves the bound
            System.err.println(s"[$name] sink failed " +
              s"${retryAttempts}x, dropping ${retrying.size} " +
              s"events (total dropped ${dropped.get}): ${t.getMessage}")
            retrying = null
            retryAttempts = 0
          } else {
            System.err.println(s"[$name] sink failed " +
              s"(attempt $retryAttempts, will retry): ${t.getMessage}")
          }
          return
      }
    }
    // poll-then-check, checking capacity BEFORE each poll: the inherited
    // poll-first loop silently discarded the already-polled element when
    // the chunk filled — one lost event per full chunk
    val buf = scala.collection.mutable.ArrayBuffer[A]()
    var more = true
    while (more && buf.size < chunkMax) {
      val e = pending.poll()
      if (e == null) more = false else buf += e
    }
    if (buf.nonEmpty) {
      // events stay inside the `queued` bound until DELIVERED or dropped:
      // decrementing at poll time would let offers refill the whole
      // maxPending while a failed chunk sits in the retry slot, widening
      // the documented buffer bound by chunkMax exactly when the sink is
      // failing — the worst time to buffer extra
      try {
        sink(buf.toSeq)
        queued.addAndGet(-buf.size)
      } catch {
        case NonFatal(t) =>
          retrying = buf.toSeq
          retryAttempts = 1
          System.err.println(s"[$name] sink failed " +
            s"(attempt 1, will retry): ${t.getMessage}")
      }
    }
  }

  private val thread = new Thread(() => {
    try {
      while (!Thread.interrupted()) {
        drainOnce()
        Thread.sleep(sleepMs)
      }
    } catch { case _: InterruptedException => () }
    finally running = false
  }, name)
  thread.setDaemon(true)

  private[serve] def markDead(): Unit = running = false // spec hook

  def start(): IngestFeeder[A] = { thread.start(); this }
  def interrupt(): Unit = thread.interrupt()
}

object IngestFeeder {
  /** Consecutive sink-failure retries before a chunk is dropped. */
  val MaxChunkRetries = 3
}
