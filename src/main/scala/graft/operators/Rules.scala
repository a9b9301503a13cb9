package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four-rule anomaly engine (`core/Rules.kt`), re-expressed
  * as declarative DataFrame transforms over an event log. Every rule is one
  * window computation + a filter — no driver-side loops, no state objects —
  * so Catalyst fuses rule evaluation with the window exec and the whole
  * thing is a single shuffle per distinct key set.
  *
  * Thresholds are parameters with the reference's defaults; evidence is
  * emitted as flat numeric columns (the reference's `Map<String,Any?>`
  * evidence becomes typed columns, `to_json`-packable at the sink).
  */
object Rules {

  /** F3 severity ladder (`core/Rules.kt:220-231`): ratio >= 10 HIGH,
    * >= 5 MEDIUM, else LOW; non-positive threshold => HIGH.
    */
  def severity(value: Column, threshold: Column): Column =
    when(threshold <= 0, lit("HIGH"))
      .when(value / threshold >= 10.0, lit("HIGH"))
      .when(value / threshold >= 5.0, lit("MEDIUM"))
      .otherwise(lit("LOW"))

  private def keys = Seq(col("user_id"), col("event_type"))

  /** R1 velocity spike (`core/Rules.kt:37-60`):
    * rate_now > factor * avg_5m && rate_now >= minRate.
    */
  def velocitySpike(events: DataFrame, factor: Double = 3.0,
                    minRate: Double = 20.0): DataFrame = {
    val us = unix_micros(col("ts"))
    events
      .withColumn("rate_now", SlidingWindows.ratePerMin(keys, us))
      .withColumn("avg_5m", SlidingWindows.avgOverLast(keys, us, col("value"), 300))
      .withColumn("threshold", col("avg_5m") * factor)
      .filter(col("rate_now") > col("threshold") && col("rate_now") >= minRate)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        lit("R1_VELOCITY_SPIKE").as("rule"),
        severity(col("rate_now"), col("threshold")).as("severity"),
        Num.r4(col("rate_now")).as("rate_now"),
        Num.r4(col("avg_5m")).as("avg_5m"),
        Num.r4(col("threshold")).as("threshold"))
  }

  /** R2 value spike (`core/Rules.kt:65-93`): value > factor * EWMA (updated
    * with the current value *before* comparing) && count_60s >= minCount.
    */
  def valueSpike(spark: SparkSession, events: DataFrame, alpha: Double = 0.1,
                 factor: Double = 4.0, minCount: Long = 5): DataFrame = {
    val us = unix_micros(col("ts"))
    val ewma = Ewma.perEvent(spark, events, alpha).toDF()
      .select(col("event_id"), col("ewma"))
    events
      .withColumn("count_60s", SlidingWindows.countIn(keys, us, 60))
      .join(ewma, "event_id")
      .withColumn("threshold", col("ewma") * factor)
      .filter(col("value") > col("threshold") && col("count_60s") >= minCount)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        lit("R2_VALUE_SPIKE").as("rule"),
        severity(col("value"), col("threshold")).as("severity"),
        Num.r4(col("value")).as("value_now"),
        Num.r4(col("ewma")).as("ewma"),
        Num.r4(col("threshold")).as("threshold"),
        col("count_60s"))
  }

  /** R3 tag mismatch — the real implementation of the reference's spec
    * (`core/Rules.kt:98-154` is a stub that can never fire; spec per
    * `docs/TICKETS.md:146`): conflicting values of a tag for the same
    * entity within the trailing window => MEDIUM alert.
    */
  def tagMismatch(events: DataFrame, tag: Column, windowSec: Long = 120): DataFrame = {
    val us = unix_micros(col("ts"))
    events
      .withColumn("tag_value", tag)
      .withColumn("n_values",
        SlidingWindows.distinctInWindow(Seq(col("user_id")), us, col("tag_value"), windowSec))
      .filter(col("n_values") > 1)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        lit("R3_TAG_MISMATCH").as("rule"),
        lit("MEDIUM").as("severity"),
        col("tag_value"), col("n_values").cast("long").as("n_values"))
  }

  /** R4 exfil (`core/Rules.kt:159-200`): sum_30s > P95-fallback where the
    * fallback is max(floor(factorP95 * avg_1h), minThreshold) — the
    * reference truncates to Long (`(avg1h * 10).toLong()`).
    */
  def exfil(events: DataFrame, factorP95: Double = 10.0,
            minThreshold: Double = 1000.0): DataFrame = {
    val us = unix_micros(col("ts"))
    events
      .withColumn("sum_30s", SlidingWindows.sumIn(keys, us, col("value"), 30))
      .withColumn("avg_1h", SlidingWindows.avgOverLast(keys, us, col("value"), 3600))
      .withColumn("p95_threshold",
        greatest(Num.floorB(col("avg_1h") * factorP95).cast("double"), lit(minThreshold)))
      .filter(col("sum_30s") > col("p95_threshold"))
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        lit("R4_EXFIL").as("rule"),
        lit("HIGH").as("severity"),
        Num.r4(col("sum_30s")).as("sum_30s"),
        Num.r4(col("p95_threshold")).as("p95_threshold"),
        Num.r4(col("value")).as("current_value"))
  }
}
