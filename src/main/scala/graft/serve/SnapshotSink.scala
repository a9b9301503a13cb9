package graft.serve

import java.util.concurrent.atomic.AtomicReference

/** Serving-layer pieces (SURVEY §2.1 S11, §2.6 W7).
  *
  * Spark ends at foreachBatch; an HTTP/SSE layer consumes these hubs. The
  * engine-side contract — changed-only emission — is what's implemented
  * and tested here.
  */
object SnapshotSink {

  /** W7/S11: changed-only snapshot hub. `push` each micro-batch's
    * projection; listeners (SSE handlers) are invoked only when the
    * snapshot differs from the previous one (reference
    * `CdpController.kt:105-139`).
    */
  final class ChangedOnlyHub[T] {
    private val last = new AtomicReference[Option[Seq[T]]](None)
    private val listenersRef = new AtomicReference[List[Seq[T] => Unit]](Nil)
    @volatile private var emitted = 0L

    def subscribe(f: Seq[T] => Unit): Unit =
      listenersRef.updateAndGet(f :: _)

    def emitCount: Long = emitted

    /** Returns true if the snapshot changed and was emitted. Synchronized:
      * concurrent pushes must not lose emit counts or deliver snapshots to
      * listeners out of order.
      */
    def push(snapshot: Seq[T]): Boolean = synchronized {
      val prev = last.getAndSet(Some(snapshot))
      val changed = !prev.contains(snapshot)
      if (changed) {
        emitted += 1
        listenersRef.get.foreach(_(snapshot))
      }
      changed
    }
  }
}
