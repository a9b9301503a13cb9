package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric stabilization for oracle-compared float outputs.
  *
  * Spark and the DuckDB oracle accumulate the same doubles in different
  * orders (partial aggregation, window-frame maintenance, closed-form vs
  * sequential EWMA), so results differ in the last few ulps. Rounding to 4
  * decimals absorbs that — except at `.xxxx5` half-way boundaries, where
  * two hazards bite: (1) the sides' ulp noise flips to different
  * neighbors, and (2) even on IDENTICAL doubles the engines' round()
  * disagrees — Spark rounds the value's shortest DECIMAL repr
  * (BigDecimal.valueOf) HALF_UP while DuckDB rounds the BINARY value, so a
  * double printing as "38.01895" rounds up in Spark but down in DuckDB.
  * The bias must therefore (a) exceed cross-engine noise (~1e-10), and
  * (b) NOT be aligned with the data's decimal grid — a 1e-6 bias maps
  * 6-decimal data exactly ONTO boundaries. 2.5e-7 keeps grid-valued data
  * >= 5e-8 away from every boundary and off boundary-shaped shortest
  * reprs. The SAME bias must appear in the oracle SQL:
  * `round(x + 0.00000025, 4)` / `floor(x + 0.00000025)`.
  */
object Num {
  val Eps = 2.5e-7

  /** round(x + eps, 4) — use for every float output column. */
  def r4(c: Column): Column = round(c + Eps, 4)

  /** JVM twin of `r4` for the partition-local kernels (IVF assignment,
    * PQ encode, kNN offer): BigDecimal.valueOf goes through the shortest
    * decimal repr + HALF_UP, which is what Spark's round() does — THE one
    * implementation; a kernel hand-rolling this can silently fork from
    * the declarative twins on a boundary.
    */
  def r4Jvm(x: Double): Double =
    BigDecimal.valueOf(x + Eps).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** floor(x + eps) — floor's flip is a full unit, so bias is mandatory. */
  def floorB(c: Column): Column = floor(c + Eps)

  /** Oracle-SQL twin of `r4`, with the matching bias. */
  def r4Sql(expr: String): String = s"round($expr + 0.00000025, 4)"

  // ---- integer-grid money arithmetic (round-14, found by the 10x
  // oracle gate) ----
  //
  // r4-rounded FLOAT sums are only stable while the sum's magnitude
  // keeps the accumulated ordering noise under the 1e-4 grid: at the
  // 10x tier, sum(l_extendedprice) reaches ~6e10, where one double ulp
  // is ~8e-6 and tens of ulps of partial-agg reordering straddle the
  // 4th decimal — q3/q5 hash-diverged by exactly 1-3e-4. No rounding
  // bias can save a growing float sum; the 100 TB posture is to sum the
  // 2-decimal money grid as integer CENTS (deterministic in any
  // accumulation order, exact in both engines) and divide once at the
  // end — CAST(bigint AS DOUBLE) and the single division are correctly
  // rounded IEEE ops, so the final double is bit-identical across
  // engines at ANY scale. Overflow headroom: cents x cent-discount
  // units reach ~1e9/row; int64 carries ~9e18 — 1000x the 10x tier.
  // The true-100 TB accumulator swap (DECIMAL(38,0)/HUGEINT) is a
  // one-line change on each side, documented here so nobody "fixes" it
  // back to float.

  /** A 2-decimal money column as integer cents (round-half-up off the
    * stored double, which sits within ulps of the grid point).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")
  def centsSql(expr: String): String =
    s"CAST(round($expr * 100) AS BIGINT)"

  /** The documented true-100 TB accumulator swap, implemented: the cent
    * grid widened to DECIMAL(38,0) BEFORE accumulation (Spark) — the
    * oracle twin is HUGEINT (DuckDB int128). Use when the accumulated
    * magnitude can exceed int64's ~9e18 (a 100 TB lineitem's
    * cents x cent-discount units reach ~1e19): integer-exact in any
    * accumulation order up to 38 digits, and under ANSI mode the int64
    * path FAILS LOUDLY instead of wrapping, so the swap is a visible
    * contract, not a silent correctness cliff (NumDecimalSpec trips
    * both paths; q_money_decimal_sum hash-matches the engines at every
    * verify SF). Emit with `.cast("string")` / `CAST(... AS VARCHAR)` —
    * a 38-digit integer survives neither engine's double output path.
    */
  def centsDec(c: Column): Column =
    cents(c).cast(org.apache.spark.sql.types.DecimalType(38, 0))
  def centsDecSql(expr: String): String =
    s"CAST(${centsSql(expr)} AS HUGEINT)"
}
