package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Bloom filter.
  *
  * The membership sketch completing the family ([[Hll]] distinct, [[Cms]]
  * frequency, [[Hist]] quantile): K row-salted hashes set bits in an
  * M-bit array; a probe "might be present" iff all K of its bits are
  * set. NO false negatives ever — which is what makes the filter a
  * correctness-preserving pre-join: dropping probe rows whose bits miss
  * can only drop rows the exact join would not have matched.
  *
  * Like the other sketches, everything is integer-exact and cross-engine:
  * the bit positions come from the shared salted-bucket layout
  * (`TextOps.saltedBucket`, same single source of truth as [[Cms]]) and
  * the bit array is materialized as the DISTINCT set of positions (a
  * relation, not a packed bitmap), so the DuckDB oracle replays it
  * hash-for-hash, and filters union-merge by unioning their position sets
  * (bloom(A) OR bloom(B) = bloom(A union B) exactly).
  *
  * Why it matters at 100 TB: the build side collapses to at most M small
  * integers no matter how many rows fed it — build it once from the
  * 80 TB train split, broadcast the few-hundred-KB position set, and
  * pre-filter the probe stream map-side BEFORE its shuffle (the
  * `q_train_eval_contamination` comment's "bloom-filtered build side"
  * made concrete). Only the ~FP-rate fraction of true negatives survives
  * to the exact join, so shuffle volume tracks matches, not corpus size.
  */
object Bloom {

  /** 2^16 bits; at n distinct keys the FP rate is (1 - e^(-Kn/M))^K —
    * ~0.07% at n = 2k, ~5% at n = 10k. Size M to the build side's
    * distinct count in real deployments; fixed here so the oracle is
    * stable across SFs.
    */
  val MBits = 1 << 16
  val K = 3

  /** Salt values 0..K-1, exploded per input row (Spark side). */
  private def salts = array((0 until K).map(lit): _*)

  /** The salt relation for DuckDB SQL twins — derived from K so the two
    * engines cannot drift.
    */
  val saltsSql: String =
    s"(SELECT unnest([${(0 until K).mkString(", ")}]) AS j) js"

  def posSql(valueExpr: String, jExpr: String): String =
    TextOps.saltedBucketSql(valueExpr, jExpr, MBits)

  /** The filter: the distinct set-bit positions of `value` over `df`.
    * Bounded by MBits rows regardless of input size; merge filters by
    * `union.distinct`.
    */
  def bits(df: DataFrame, value: Column): DataFrame =
    df.select(value.cast("string").as("v"), explode(salts).as("j"))
      .select(TextOps.saltedBucket(col("v"), col("j"), MBits).as("pos"))
      .distinct()

  /** The filter as DuckDB SQL over `from`; `valueExpr` must be VARCHAR. */
  def bitsSql(valueExpr: String, from: String): String =
    s"""SELECT DISTINCT ${posSql(valueExpr, "j")} AS pos
       |FROM $from CROSS JOIN $saltsSql""".stripMargin

  /** Probes (`v` string column, other columns carried — but not one
    * named `maybe`) annotated with `maybe`: true iff all K bit positions
    * are set. Internal columns are picked collision-free against the
    * probe schema. The position set is <= MBits rows -> broadcast; no
    * shuffle beyond the probes' own groupBy (the K-row explode collapses
    * back map-side by partial aggregation).
    */
  def mightContain(bits: DataFrame, probes: DataFrame): DataFrame = {
    require(!probes.columns.contains("maybe"), "probes must not carry 'maybe'")
    val carried = probes.columns.filter(_ != "v").toSeq
    val taken = probes.columns.toSet
    val jc = TextOps.freshName("__j", taken)
    val pc = TextOps.freshName("__pos", taken)
    val hc = TextOps.freshName("__hit", taken)
    val bits2 = bits.select(col("pos").as(pc), lit(1L).as(hc))
    probes.select((col("v") +: carried.map(col)) :+ explode(salts).as(jc): _*)
      .withColumn(pc, TextOps.saltedBucket(col("v"), col(jc), MBits))
      .join(broadcast(bits2), Seq(pc), "left")
      .groupBy((col("v") +: carried.map(col)): _*)
      // hits == exploded rows (not == K): a probe key duplicated in the
      // input still reads all-bits-set correctly
      .agg((count(col(hc)) === count(lit(1))).as("maybe"))
  }
}
