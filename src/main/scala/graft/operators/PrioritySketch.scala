package graft.operators

import org.apache.spark.sql.graft.Md5Prefix64

/** The DLT priority-sample sketch kernel — THE one implementation of the
  * draw formula and top-(K+1) retention that `serve.CurationPipeline
  * .Stats` (driver-side serving kernel) folds and `CurationQueries
  * .prioritySample` (DataFrame twin) mirrors. The documented parity between
  * those surfaces holds exactly as long as nobody re-implements this:
  * any tie-break, retention-window, or draw-range change must happen
  * here (and in the SQL strings that interpolate [[DrawRange]]).
  *
  * Retaining the best K+1 is an exact streaming fold: an element outside
  * the current top-(K+1) can never re-enter any later top-(K+1), so
  * offering in any order — or merging sketches by offering one's
  * candidates to the other — equals sampling the concatenated input
  * (Duffield–Lund–Thorup 2007).
  */
final case class PrioritySketch(k: Int, salt: String,
                                cands: Vector[(Long, Long, Double)] = Vector.empty) {

  def priority(id: Long, w: Long): Double = PrioritySketch.priority(salt, id, w)

  /** Offer one (doc_id, weight); ids already held are ignored (replays
    * must not occupy two slots).
    */
  def offer(id: Long, w: Long): PrioritySketch =
    if (cands.exists(_._1 == id)) this
    else copy(cands = ((id, w, priority(id, w)) +: cands)
      .sortBy(t => (-t._3, t._1)).take(k + 1))

  /** (K+1)-th priority — the subset-sum estimator threshold; 0 while the
    * sketch is still a census.
    */
  def tau: Double = if (cands.size > k) cands(k)._3 else 0.0

  /** The top-K sample as (id, w, priority), best first. */
  def sample: Vector[(Long, Long, Double)] = cands.take(k)
}

object PrioritySketch {

  /** Uniform-draw range: u in [1, DrawRange]. The SQL twins interpolate
    * this constant — see CurationQueries.prioritySample's oracle string.
    */
  val DrawRange = 1000000L

  def priority(salt: String, id: Long, w: Long): Double = {
    val u = Md5Prefix64.hash(Md5Prefix64.threadLocalMd(),
      (salt + id).getBytes("UTF-8")) % DrawRange + 1L
    w.toDouble / u
  }
}
