package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextOps
import graft.streaming.{CdpEvent, CdpPipeline, Watermarks}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle coverage for the CDP pipeline's stateful core: the events table
  * is mapped onto CDP events (every event a TRACK; `signup` events also
  * carry a `plan` trait from the k-tag's parity), folded through the SAME
  * per-event transition the streaming operator uses
  * (`CdpPipeline.applyEvent` via `profileSnapshots`), and the final
  * profiles are checked against a declarative SQL restatement of the fold:
  * LWW trait by (ts, event_id), lastSeen = max ts, 24 h minute-bucketed
  * TRACK counter anchored at lastSeen, segment predicates.
  */
object CdpReplay {

  private val kTagSql = """regexp_extract(props, '"k":\s*(\d+)', 1)"""

  // W2 two-tier thresholds (reference CdpEventProcessor defaults:
  // processingWindow 5 s, lateEventGracePeriod 120 s)
  private val SoftLagSec = 5
  private val GraceSec = 120

  /** The events table mapped onto a CDP event log (every event a TRACK;
    * `signup` events carry a `plan` trait from the k-tag's parity). No
    * registered query reads it: `replaySnapshots` builds its own narrow
    * columns. It is CdpReplayNarrowSpec's reference log, folded by
    * `profileSnapshots` to hold the narrow replay equal to the object fold.
    */
  def cdpEventLog(s: org.apache.spark.sql.SparkSession,
                  events: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.Dataset[CdpEvent] = {
    import s.implicits._
    val kTag = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    events
      .select(
        lpad(col("event_id").cast("string"), 12, "0").as("eventId"), col("ts"),
        col("event_type"),
        col("user_id").cast("string").as("userId"),
        when(col("event_type") === "signup",
          when(kTag.cast("long") % 2 === 0, "pro").otherwise("free")).as("plan"))
      .map { r =>
        CdpEvent(
          eventId = r.getAs[String]("eventId"),
          ts = r.getAs[java.sql.Timestamp]("ts"),
          eventType = "TRACK",
          userId = Some(r.getAs[String]("userId")),
          anonymousId = None, email = None,
          name = Some(r.getAs[String]("event_type")),
          traits =
            Option(r.getAs[String]("plan")).map(p => Map("plan" -> p)).getOrElse(Map.empty))
      }
  }

  /** The batch replay with a NARROW shuffle (guide §2.3: shuffle only the
    * replay columns): `profileSnapshots` shuffles fully-built CdpEvent
    * objects — eventId string, constant eventType, Option fields, a traits
    * Map — through groupByKey and then re-sorts every group's boxed
    * objects inside mapGroups. This path shuffles five primitive columns,
    * lets the ENGINE sort each partition by (user_id, ts, event_id) — the
    * exact (micros(ts), eventId) order `orderedFold` establishes, since
    * event ids are non-negative and zero-padded to 12 chars, lexicographic
    * = numeric — and builds the CdpEvent objects AFTER the exchange, where
    * the rows already sit. Same per-event transition (`applyEvent` via
    * `foldPreSorted`), same snapshot projection; CdpReplayNarrowSpec holds
    * it equal to `profileSnapshots` over the identical log.
    */
  private[queries] def replaySnapshots(
      s: org.apache.spark.sql.SparkSession,
      events: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.Dataset[graft.streaming.ProfileSnapshot] = {
    import s.implicits._
    val kTag = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    events
      .select(
        col("user_id").cast("string").as("uid"),
        lpad(col("event_id").cast("string"), 12, "0").as("eid"),
        col("ts"),
        col("event_type").as("name"),
        when(col("event_type") === "signup",
          when(kTag.cast("long") % 2 === 0, "pro").otherwise("free")).as("plan"))
      .repartition(col("uid"))
      .sortWithinPartitions(col("uid"), col("ts"), col("eid"))
      .as[(String, String, java.sql.Timestamp, String, Option[String])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[graft.streaming.ProfileSnapshot] {
          override def hasNext: Boolean = buf.hasNext
          override def next(): graft.streaming.ProfileSnapshot = {
            val uid = buf.head._1
            val run = new Iterator[CdpEvent] {
              override def hasNext: Boolean = buf.hasNext && buf.head._1 == uid
              override def next(): CdpEvent = {
                val (u, eid, ts, name, plan) = buf.next()
                CdpEvent(eventId = eid, ts = ts, eventType = "TRACK",
                  userId = Some(u), anonymousId = None, email = None,
                  name = Some(name),
                  traits = plan.map(p => Map("plan" -> p)).getOrElse(Map.empty))
              }
            }
            CdpPipeline.foldPreSorted("user:" + uid, run)
          }
        }
      }
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_cdp_profile_replay",
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts, event_type,
         |         CASE WHEN event_type = 'signup'
         |              THEN CASE WHEN CAST($kTagSql AS BIGINT) % 2 = 0
         |                        THEN 'pro' ELSE 'free' END END AS plan_trait
         |  FROM events),
         |last_seen AS (
         |  SELECT user_id, max(ts) AS last_ts FROM e GROUP BY user_id),
         |lww AS (
         |  SELECT user_id, plan_trait AS plan FROM (
         |    SELECT user_id, plan_trait,
         |           row_number() OVER (PARTITION BY user_id
         |                              ORDER BY epoch_us(ts) DESC,
         |                                       lpad(CAST(event_id AS VARCHAR), 12, '0') DESC) AS rn
         |    FROM e WHERE plan_trait IS NOT NULL) WHERE rn = 1),
         |cnt AS (
         |  SELECT e.user_id, count(*) AS track_24h
         |  FROM e JOIN last_seen l ON l.user_id = e.user_id
         |  WHERE (epoch_us(e.ts) // 60000000) * 60000000 >=
         |        ((epoch_us(l.last_ts) - 86400000000) // 60000000) * 60000000
         |  GROUP BY e.user_id)
         |SELECT 'user:' || l.user_id AS profile_id,
         |       w.plan,
         |       c.track_24h,
         |       CAST(epoch_us(l.last_ts) // 1000 AS BIGINT) AS last_seen_ms,
         |       c.track_24h >= ${CdpPipeline.PowerUserThreshold} AS power_user,
         |       coalesce(w.plan, '') = 'pro' AS pro_plan
         |FROM last_seen l
         |LEFT JOIN lww w ON w.user_id = l.user_id
         |JOIN cnt c ON c.user_id = l.user_id""".stripMargin) { (s, dir) =>
      replaySnapshots(s, Tables.events(s, dir))
        .select(
          col("profileId").as("profile_id"),
          element_at(col("traits"), "plan").as("plan"),
          col("trackCount24h").as("track_24h"),
          unix_millis(col("lastSeen")).as("last_seen_ms"),
          array_contains(col("segments"), "power_user").as("power_user"),
          array_contains(col("segments"), "pro_plan").as("pro_plan"))
    },

    // W2 two-tier lateness replay (reference CdpEventProcessor.kt:188-217):
    // each event's arrival is its event time plus a deterministic
    // per-event network delay (hash-derived, 0-180 s); the processor clock
    // at submit is the running max of arrivals over that profile's queue
    // in arrival (event_id) order — monotone, like the reference's
    // clock.instant(). Classified strictly: > 120 s behind the clock →
    // dropped, > 5 s → late, else normal — via the SAME
    // Watermarks.lateClass expression q_lateness_dedup_replay uses. Scale
    // shape: one window partitioned by user_id (the reference's per-profile
    // queue), no global ordering, no shuffle beyond the user_id hash.
    QueryDef(
      "q_lateness_classes",
      s"""WITH a AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |         epoch_us(ts) + (${TextOps.hash64Sql("'late#' || CAST(event_id AS VARCHAR)")} % 181) * 1000000 AS arr_us
         |  FROM events),
         |c AS (
         |  SELECT event_id, user_id, ts_us,
         |         max(arr_us) OVER (PARTITION BY user_id ORDER BY event_id
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clock_us
         |  FROM a)
         |SELECT event_id, user_id,
         |       (clock_us - ts_us) // 1000000 AS lateness_s,
         |       CASE WHEN ts_us < clock_us - ${GraceSec}000000 THEN 'dropped'
         |            WHEN ts_us < clock_us - ${SoftLagSec}000000 THEN 'late'
         |            ELSE 'normal' END AS class
         |FROM c""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("arr_us", col("ts_us") +
          TextOps.hash64(concat(lit("late#"), col("event_id").cast("string"))) % 181 * 1000000L)
        .withColumn("clock_us", max(col("arr_us")).over(w))
        .select(col("event_id"), col("user_id"),
          expr("(clock_us - ts_us) div 1000000").as("lateness_s"),
          Watermarks.lateClass(
            timestamp_micros(col("ts_us")), timestamp_micros(col("clock_us")),
            SoftLagSec, GraceSec).as("class"))
    },

    // W1 x W2 composed replay (round-13): the dedup-AFTER-drop-tier
    // contract — every 7th event re-arrives as a duplicate (same
    // event_id, same event time, 1-121 s later); the drop tier is
    // evaluated FIRST on every occurrence (a duplicate past the grace
    // horizon is a watermark drop, not a dedup hit), and a surviving
    // duplicate is suppressed ONLY if its first occurrence was itself
    // accepted (a watermark-dropped original never created dedup state)
    // — the exact composition `Watermarks.dedup`
    // (dropDuplicatesWithinWatermark) applies in the streaming pipeline.
    // Clock model: occurrences are processed in ARRIVAL order (the
    // reference submits to a monotone wall clock), so each occurrence's
    // clock IS its own arrival — unlike q_lateness_classes, whose
    // event_id-ordered queue needs the running max. The duplicate's
    // extra delay is made strictly positive ((h % 120 + 120) % 120 + 1)
    // so occ 1 always arrives first and "first occurrence" is
    // well-defined identically in both engines.
    // LatenessDedupReplaySpec holds this batch restatement equal to the
    // real streaming operator's survivor set on a controlled-arrival
    // fixture.
    QueryDef(
      "q_lateness_dedup_replay",
      s"""WITH a AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |         epoch_us(ts) + (${TextOps.hash64Sql("'late#' || CAST(event_id AS VARCHAR)")} % 181) * 1000000 AS arr_us,
         |         1 AS occ
         |  FROM events
         |  UNION ALL
         |  SELECT event_id, user_id, epoch_us(ts),
         |         epoch_us(ts) + (${TextOps.hash64Sql("'late#' || CAST(event_id AS VARCHAR)")} % 181) * 1000000
         |           + ((${TextOps.hash64Sql("'dup#' || CAST(event_id AS VARCHAR)")} % 120 + 120) % 120 + 1) * 1000000,
         |         2
         |  FROM events WHERE event_id % 7 = 0),
         |t AS (
         |  SELECT event_id, user_id, occ,
         |         CASE WHEN ts_us < arr_us - ${GraceSec}000000 THEN 'dropped'
         |              WHEN ts_us < arr_us - ${SoftLagSec}000000 THEN 'late'
         |              ELSE 'normal' END AS tier0
         |  FROM a),
         |f AS (
         |  SELECT event_id, user_id, occ, tier0,
         |         first_value(tier0) OVER (PARTITION BY user_id, event_id ORDER BY occ
         |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_tier
         |  FROM t)
         |SELECT event_id, user_id, occ,
         |       CASE WHEN occ = 1 THEN tier0
         |            WHEN tier0 = 'dropped' THEN 'dropped'
         |            WHEN first_tier <> 'dropped' THEN 'duplicate'
         |            ELSE tier0 END AS class
         |FROM f""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("arr_us", col("ts_us") +
          TextOps.hash64(concat(lit("late#"), col("event_id").cast("string"))) % 181 * 1000000L)
      val dups = base.filter(col("event_id") % 7 === 0)
        .withColumn("arr_us", col("arr_us") +
          ((TextOps.hash64(concat(lit("dup#"), col("event_id").cast("string"))) % 120
            + 120) % 120 + 1) * 1000000L)
      dedupLatenessClasses(
        base.withColumn("occ", lit(1)).unionAll(dups.withColumn("occ", lit(2))))
    })

  /** The composed W1 x W2 classification over explicit occurrences
    * (event_id, user_id, ts_us, arr_us, occ) — shared by
    * q_lateness_dedup_replay (hash-derived arrivals) and
    * LatenessDedupReplaySpec (hand-built arrivals compared against the
    * real streaming dedup operator). Processing order is arrival order,
    * so the drop/late tiers evaluate against the occurrence's own
    * arrival; a non-dropped duplicate is suppressed iff its first
    * occurrence was accepted.
    */
  def dedupLatenessClasses(occ: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wFirst = Window.partitionBy(col("user_id"), col("event_id"))
      .orderBy(col("occ"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ
      .withColumn("tier0", Watermarks.lateClass(
        timestamp_micros(col("ts_us")), timestamp_micros(col("arr_us")),
        SoftLagSec, GraceSec))
      .withColumn("first_tier", first(col("tier0")).over(wFirst))
      .select(col("event_id"), col("user_id"), col("occ"),
        when(col("occ") === 1, col("tier0"))
          .when(col("tier0") === "dropped", "dropped")
          .when(col("first_tier") =!= "dropped", "duplicate")
          .otherwise(col("tier0")).as("class"))
  }
}
