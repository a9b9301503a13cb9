package graft.serve

import org.scalatest.funsuite.AnyFunSuite

/** Failure semantics of the ingest drain (pure — `drainOnce` is driven
  * directly, no thread/clock/Spark): a flaky sink must not lose or spin,
  * a dead/full feeder must reject offers, and a permanently-broken sink
  * must degrade to bounded counted loss.
  */
class IngestFeederSpec extends AnyFunSuite {

  test("offers drain to the sink in offer order, chunked by chunkMax") {
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val f = new IngestFeeder[Int]("t", chunkMax = 3, maxPending = 100,
      sink = chunk => { seen += chunk; () })
    (1 to 7).foreach(i => assert(f.offer(i)))
    f.drainOnce(); f.drainOnce(); f.drainOnce(); f.drainOnce()
    assert(seen.toSeq == Seq(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7)))
  }

  test("a full backlog rejects offers until drained") {
    val f = new IngestFeeder[Int]("t", chunkMax = 10, maxPending = 2,
      sink = _ => ())
    assert(f.offer(1) && f.offer(2))
    assert(!f.offer(3)) // full → caller must 503, not 202
    f.drainOnce()
    assert(f.offer(4)) // capacity returns after the drain
  }

  test("a transient sink failure re-enqueues the chunk and retries") {
    var calls = 0
    val delivered = scala.collection.mutable.ArrayBuffer[Int]()
    val f = new IngestFeeder[Int]("t", chunkMax = 10, maxPending = 100,
      sink = chunk => {
        calls += 1
        if (calls <= 2) sys.error("transient")
        delivered ++= chunk
      })
    (1 to 4).foreach(f.offer(_))
    f.drainOnce(); f.drainOnce(); f.drainOnce()
    assert(delivered.toSeq == Seq(1, 2, 3, 4)) // nothing lost
    assert(f.dropped.get == 0L)
    // the re-enqueue restored the bound bookkeeping: queue is empty again
    assert(f.offer(5))
  }

  test("a permanently-broken sink drops the chunk after MaxChunkRetries") {
    val f = new IngestFeeder[Int]("t", chunkMax = 10, maxPending = 100,
      sink = _ => sys.error("permanent"))
    (1 to 4).foreach(f.offer(_))
    // initial attempt + MaxChunkRetries re-attempts, then the drop
    (0 to IngestFeeder.MaxChunkRetries).foreach(_ => f.drainOnce())
    assert(f.dropped.get == 4L)
    // loss is bounded, not a black hole: capacity is available again and
    // a later recovered drain would deliver fresh events
    assert(f.offer(99))
  }

  test("a poison chunk interleaved with healthy traffic still hits its drop bound") {
    // the retry budget must be PER-CHUNK: a shared consecutive-failure
    // counter resets on every healthy chunk, so a deterministic poison
    // chunk cycling with live traffic would retry forever
    val delivered = scala.collection.mutable.ArrayBuffer[Int]()
    val f = new IngestFeeder[Int]("t", chunkMax = 2, maxPending = 100,
      sink = chunk => {
        if (chunk.contains(1)) sys.error("poison")
        delivered ++= chunk
      })
    f.offer(1); f.offer(2) // the poison chunk
    f.drainOnce()          // initial attempt fails -> retry slot
    f.offer(3)             // healthy traffic arrives while it retries
    // the slot is retried first each tick; healthy traffic waits behind
    // it rather than resetting its budget
    (0 until IngestFeeder.MaxChunkRetries).foreach(_ => f.drainOnce())
    assert(f.dropped.get == 2L) // poison dropped after its own budget
    f.drainOnce()
    assert(delivered.toSeq == Seq(3)) // healthy traffic then flows
  }

  test("a fresh chunk after a recovered failure gets a full retry budget") {
    var fail = true
    val delivered = scala.collection.mutable.ArrayBuffer[Int]()
    val f = new IngestFeeder[Int]("t", chunkMax = 2, maxPending = 100,
      sink = chunk => { if (fail) sys.error("flaky") else delivered ++= chunk })
    f.offer(1); f.offer(2)
    f.drainOnce() // fails once
    fail = false
    f.drainOnce() // retry succeeds
    f.offer(3)
    fail = true
    // the new chunk's budget is its own: initial + MaxChunkRetries - 1
    // failures, then a success before the drop bound
    (0 until IngestFeeder.MaxChunkRetries).foreach(_ => f.drainOnce())
    fail = false
    f.drainOnce()
    assert(delivered.toSeq == Seq(1, 2, 3) && f.dropped.get == 0L)
  }

  test("events in the retry slot still count against the buffer bound") {
    // decrementing at poll time would let offers refill the whole bound
    // while a failed chunk sits in the slot — overshooting maxPending by
    // chunkMax exactly while the sink is failing
    var fail = true
    val f = new IngestFeeder[Int]("t", chunkMax = 2, maxPending = 3,
      sink = _ => if (fail) sys.error("down"))
    f.offer(1); f.offer(2); f.offer(3)
    f.drainOnce() // [1,2] parked in the retry slot; 3 still queued
    assert(!f.offer(4), "slot events must still occupy the bound")
    fail = false
    f.drainOnce() // slot delivered -> 2 freed
    assert(f.offer(4))
  }

  test("a dead feeder rejects offers (no 202 into a black hole)") {
    val f = new IngestFeeder[Int]("t", chunkMax = 10, maxPending = 100,
      sink = _ => ())
    assert(f.offer(1))
    f.markDead()
    assert(!f.offer(2))
  }

  test("CdpIngest maps a rejected sink to the retryable Overloaded error") {
    val ingest = new CdpIngest(_ => false)
    val body =
      """{"eventId":"e1","ts":"2026-01-01T00:00:00Z",
        |"payload":{"type":"IDENTIFY","userId":"u1"}}""".stripMargin
    assert(ingest.handle(body) == Left(CdpIngest.Overloaded))
    // and an accepting sink still yields the 202 path
    assert(new CdpIngest(_ => true).handle(body) == Right("e1"))
  }
}
