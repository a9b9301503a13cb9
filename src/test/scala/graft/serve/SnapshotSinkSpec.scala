package graft.serve

import graft.SparkSpec

class SnapshotSinkSpec extends SparkSpec {

  test("changed-only hub suppresses identical snapshots") {
    val hub = new SnapshotSink.ChangedOnlyHub[(String, Long)]
    var received = List.empty[Seq[(String, Long)]]
    hub.subscribe(s => received = s :: received)
    assert(hub.push(Seq(("a", 1L))))       // first: emits
    assert(!hub.push(Seq(("a", 1L))))      // unchanged: suppressed
    assert(hub.push(Seq(("a", 2L))))       // changed: emits
    assert(hub.emitCount == 2)
    assert(received.size == 2)
  }
}
