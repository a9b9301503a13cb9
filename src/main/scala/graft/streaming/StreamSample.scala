package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming priority sampling — the sample-on-ingest twin of
  * q_weighted_sample (`CurationQueries.prioritySample`). A DLT priority
  * sample is a MERGEABLE sketch: union the candidate sets, keep the
  * top-(K+1) priorities, and the result is identical to sampling the
  * concatenated corpus — so maintaining the sketch per source under
  * arbitrary micro-batch splits reproduces the batch sample EXACTLY
  * (the draw is a deterministic salted hash of doc_id, not RNG state).
  *
  * State per source is the bounded candidate list (≤ K+1 (doc_id, w)
  * entries — priorities are re-derived from doc_id, so state stores no
  * floats) plus one seen-counter: total state is sources × (K+2) rows,
  * INDEPENDENT of corpus size, and per-batch cost is O(batch + K). At
  * 100 TB ingest this is the shape that keeps a running training-mix
  * sample warm without ever rescanning the corpus.
  *
  * Emits the refreshed top-K after each batch that touches the source:
  * (source, doc_id, n_chars, priority, tau, n_seen) — n_seen marks which
  * emission is current (it only grows), and tau is the (K+1)-th priority
  * (0 while the source is still a census), so downstream consumers get
  * the same unbiased subset-sum estimator max(w, tau) the batch query
  * reports.
  */
class StreamSampleProcessor(k: Int, salt: String)
  extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long, Double, Double, Long)] {

  @transient private var cands: ListState[(Long, Long)] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cands = getHandle.getListState[(Long, Long)]("cands",
      StreamSampleProcessor.CandEncoder, TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: String, rows: Iterator[(String, Long, Long)],
      timerValues: TimerValues): Iterator[(String, Long, Long, Double, Double, Long)] = {
    val incoming = rows.map(r => (r._2, r._3)).toSeq
    // replays/duplicate posts must not occupy two candidate slots: the
    // sketch is unique by doc_id, so only genuinely new ids count.
    // Sorting before distinctBy makes the surviving weight deterministic
    // (min) if a batch ever carries the same id with conflicting weights —
    // partition iteration order must not decide the draw.
    val held = cands.get().toSeq
    val heldIds = held.map(_._1).toSet
    val fresh = incoming.filter(d => !heldIds.contains(d._1)).sorted.distinctBy(_._1)
    val sketch = (held ++ fresh).foldLeft(
      graft.operators.PrioritySketch(k, salt)) { case (sk, (id, w)) => sk.offer(id, w) }
    cands.put(sketch.cands.map(t => (t._1, t._2)).toArray)
    // n_seen counts distinct ids ever offered, including ones evicted
    // from the candidate list (duplicates within reach of the held/fresh
    // sets are excluded; re-posts of long-evicted ids are inherently
    // indistinguishable from new docs under bounded state)
    val n = (if (seen.exists()) seen.get() else 0L) + fresh.size
    seen.update(n)
    sketch.sample.iterator
      .map { case (id, w, p) => (key, id, w, p, sketch.tau, n) }
  }
}

object StreamSampleProcessor {
  // derived once per JVM: init() runs per partition per micro-batch
  private val CandEncoder = Encoders.product[(Long, Long)]
}

object StreamSample {

  /** docs: (source, doc_id, n_chars). Requires the RocksDB state store
    * provider (Sessions.streaming sets it).
    */
  def sample(spark: SparkSession, docs: Dataset[(String, Long, Long)],
             k: Int, salt: String)
  : Dataset[(String, Long, Long, Double, Double, Long)] = {
    import spark.implicits._
    docs
      .groupByKey(_._1)
      .transformWithState(new StreamSampleProcessor(k, salt),
        TimeMode.None(), OutputMode.Append())
  }
}
