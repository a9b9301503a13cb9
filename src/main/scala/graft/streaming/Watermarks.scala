package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermark machinery (SURVEY §2.6 W1/W2).
  *
  * W1 — dedup by eventId scoped per profile with bounded state:
  * `dropDuplicatesWithinWatermark` keeps dedup state only within the
  * watermark delay, the streaming equivalent of the reference's 10-minute
  * Caffeine TTL cache (`CdpEventProcessor.kt:344-351`); duplicates of the
  * same eventId on different profiles are both kept (same scoping).
  *
  * W2 — two-tier lateness: [[lateClass]].
  */
object Watermarks {

  /** W1: watermarked dedup on (profile key, eventId). */
  def dedup(df: DataFrame, tsCol: String, graceSec: Int,
            keyCols: String*): DataFrame =
    df.withWatermark(tsCol, s"$graceSec seconds")
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** W2 full two-tier classification (reference
    * `CdpEventProcessor.kt:188-217`, strict `isBefore` on both cutoffs):
    * dropped if ts is more than graceSec behind the processing clock,
    * late if more than softLagSec behind, else normal. Shared by the
    * batch replays q_lateness_classes and q_lateness_dedup_replay, so
    * both classify with one expression.
    */
  def lateClass(ts: org.apache.spark.sql.Column, now: org.apache.spark.sql.Column,
                softLagSec: Int, graceSec: Int): org.apache.spark.sql.Column =
    when(ts < now - expr(s"INTERVAL $graceSec SECONDS"), "dropped")
      .when(ts < now - expr(s"INTERVAL $softLagSec SECONDS"), "late")
      .otherwise("normal")
}
