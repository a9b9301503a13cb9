package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Identity, Num, Route}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDP batch surface (SURVEY §2.4–2.6 re-expressed on the event log):
  * identity resolution (J2), LWW merge (O2), rolling counters (A9),
  * profile snapshot (O1/A13/A14/P4), and segment ENTER/EXIT diff (O4/O5).
  *
  * The events table plays the CDP role: every event is a TRACK, the
  * props-`k` tag is the trait, identity edges are (user, k) pairs seen
  * >= 5 times (confidence-weighted edges — raw pairs are too dense to be
  * identities).
  */
object CdpBatch {

  private val kTag = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
  private val kTagSql = """regexp_extract(props, '"k":\s*(\d+)', 1)"""

  /** Identity edges both sides: u:<user> — k:<tag> with support >= 5. */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(concat(lit("u:"), col("user_id")).as("src"),
        concat(lit("k:"), kTag).as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
      .select("src", "dst")

  // MATERIALIZED: both graph oracles reference the edge relation from
  // several downstream CTEs (components recursively, pagerank once per
  // unrolled iteration) and DuckDB's default per-reference inlining
  // re-expands the 10M-row events aggregation each time — at the 100x
  // tier the pagerank oracle's single fused plan held ~10 concurrent
  // copies of the events hash aggregate and spilled past the sandbox
  // disk (~75 GB for a ~1M-edge graph). Evaluation hint only.
  private val edgesSql =
    s"""edges AS MATERIALIZED (
       |  SELECT 'u:' || user_id AS src, 'k:' || $kTagSql AS dst
       |  FROM events
       |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin

  /** Integer-PageRank constants: micro-rank scale and iteration count
    * (damping 0.85 is hard-wired as the 85/100 integer split).
    */
  private val PrScale = 1000000000000L
  private val PrIters = 5

  /** q_identity_pagerank body over an arbitrary (src, dst) edge relation
    * (probe-sharing contract). Returns (node, rank_u) with rank_u the
    * integer micro-rank after `PrIters` rounds.
    *
    * Adaptive (the connectedComponentsAdaptive pattern): a bounded edge
    * set runs the driver kernel off one collect instead of 5 rounds of
    * join + groupBy + eager checkpoint (~15 jobs). Unlike the float
    * kernels, route equality here is EXACT BY CONSTRUCTION — every
    * operation is integer (floor division, long sums) and integer
    * addition commutes, so the kernel and the Pregel-by-join loop cannot
    * differ in a single micro-rank (PagerankSpec pins both against a
    * closed-form fixpoint and against each other).
    */
  private[graft] def identityPagerank(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // cheap count probe first (no row collect just to learn "too big" —
    // the verifiedClusters/spanSurvivors pattern); `Route.PagerankEdges`
    // carries the kernel's memory rationale
    if (Route.fits("CdpBatch.identityPagerank", Route.PagerankEdges, edges)) {
      val probe = edges.select(col("src"), col("dst"))
        .as[(String, String)].collect()
      return spark.createDataset(identityPagerankLocal(probe.toSeq).toSeq)
        .toDF("node", "rank_u")
    }
    identityPagerankDistributed(edges)
  }

  /** Driver kernel: the same integer recurrence over in-memory edges.
    * Index-compressed (keys resolved once), inflow accumulated per edge
    * — O(iters * edges).
    *
    * NULL semantics replicate the distributed plan's exactly (pinned by
    * PagerankSpec on dirty input): a null endpoint IS a node (it lands
    * in the symmetric src set, so `groupBy(src)` keys it and it enters
    * the node count that sets t0), it contributes to its neighbors'
    * DEGREE (an edge to null still splits its source's outflow), but no
    * rank ever FLOWS through it — SQL equijoins never match NULL, so a
    * null-src edge drops from the propagation join and a null-dst
    * delivery never lands. Net: null and everything reachable only
    * through it sit at the teleport floor.
    */
  private[graft] def identityPagerankLocal(edges: Seq[(String, String)]): Seq[(String, Long)] = {
    val sym = edges ++ edges.map { case (s, d) => (d, s) }
    val ids = new scala.collection.mutable.LinkedHashMap[Option[String], Int]()
    sym.foreach { case (s, _) => ids.getOrElseUpdate(Option(s), ids.size) }
    val n = ids.size
    if (n == 0) return Seq.empty
    val src = new Array[Int](sym.size)
    val dst = new Array[Int](sym.size)
    val flows = new Array[Boolean](sym.size)
    val deg = new Array[Long](n)
    var i = 0
    sym.foreach { case (s, d) =>
      val si = ids(Option(s))
      src(i) = si
      // a dst that never appears as a src has no degree row in the
      // distributed shape either (nodes = deg keys) — but symmetric
      // edges guarantee every endpoint appears as src, so ids covers all
      dst(i) = ids(Option(d))
      flows(i) = s != null && d != null
      deg(si) += 1L
      i += 1
    }
    val t0 = PrScale / n
    val tel = 15L * t0 / 100L
    var r = Array.fill(n)(t0)
    for (_ <- 1 to PrIters) {
      val inflow = new Array[Long](n)
      var e = 0
      while (e < sym.size) {
        if (flows(e)) inflow(dst(e)) += r(src(e)) / deg(src(e))
        e += 1
      }
      val next = new Array[Long](n)
      var j = 0
      while (j < n) {
        next(j) = tel + 85L * inflow(j) / 100L
        j += 1
      }
      r = next
    }
    ids.toSeq.map { case (node, idx) => (node.orNull, r(idx)) }
  }

  /** Pregel-by-join twin — the 100 TB route (PagerankSpec holds it equal
    * to the kernel; the arithmetic is shared integer math, so equality
    * is structural, not approximate).
    */
  private[graft] def identityPagerankDistributed(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    // deg feeds BOTH cached descendants (symd and nodes): cache it too,
    // or the edges aggregation scans the events table twice
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d")).cache()
    // edge-with-degree is joined once per iteration: cache, don't
    // checkpoint (its lineage is flat; only the rank chain grows)
    val symd = sym.join(deg, "src").cache()
    val nodes = deg.select(col("src").as("node")).cache()
    // every path out of this method releases the three caches — a
    // long-lived session must not accrue pinned entries per call
    def release(): Unit = { symd.unpersist(); nodes.unpersist(); deg.unpersist(); () }
    val n = nodes.count()
    if (n == 0) {
      val empty = nodes.select(col("node"), lit(0L).as("rank_u")).localCheckpoint()
      release()
      return empty
    }
    val t0 = PrScale / n
    val tel = 15L * t0 / 100L
    var r = nodes.select(col("node"), lit(t0).as("r"))
    for (_ <- 1 to PrIters) {
      val inflow = symd.join(r, symd("src") === r("node"))
        .selectExpr("dst", "r div d AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      r = nodes.join(inflow, col("node") === col("dst"), "left")
        .selectExpr("node",
          s"CAST($tel + (85 * coalesce(inflow, 0)) div 100 AS BIGINT) AS r")
        .localCheckpoint()
    }
    release()
    r.select(col("node"), col("r").as("rank_u"))
  }

  /** Latest row per (user_id, event_type) by (ts, event_id) — the LWW
    * arrival order: equal timestamps resolved by the monotonic event id
    * (reference `ProfileStore.kt:85-122`; ties keep the later arrival).
    */
  private def lwwWindow = Window
    .partitionBy(col("user_id"), col("event_type"))
    .orderBy(col("ts").desc, col("event_id").desc)

  /** Reengage-replay idle horizon: 12 hours (ms). Declared before `defs` —
    * the oracle SQL interpolates it at object-init time.
    */
  private[queries] val ReengageIdleMs = 43200000L

  val defs: Seq[QueryDef] = Seq(

    // J2: connected components, canonical = lexicographically smallest
    // node. Oracle: recursive transitive closure (components are small by
    // construction; Spark side is the scalable propagation loop).
    QueryDef(
      "q_identity_components",
      s"""WITH RECURSIVE $edgesSql,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst, src FROM edges),
         |reach AS (
         |  SELECT src AS node, dst AS other FROM sym
         |  UNION
         |  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.other = s.src)
         |SELECT node, least(node, min(other)) AS component
         |FROM reach GROUP BY node""".stripMargin) { (s, dir) =>
      import s.implicits._
      Identity.connectedComponentsAdaptive(
        edges(s, dir).as[(String, String)])
    },

    // Identity-graph PageRank (beyond-reference): centrality over the
    // SAME symmetric identity edges J2 clusters — the page-importance op
    // a crawl-corpus pipeline weights documents with, here ranking which
    // users/devices anchor the identity graph. ALL arithmetic is
    // integer-scaled (micro-ranks out of 10^12, floor division, BIGINT
    // sums): integer addition commutes exactly, so partial-agg ordering
    // cannot fork the engines the way float PageRank would after 5
    // compounding iterations. Each Spark iteration is a localCheckpoint
    // leaf (node-sized relation, 5 rounds — the BPE/funnel planning
    // lesson applied from the start); the oracle unrolls the same 5
    // rounds as chained CTEs (the trainSql precedent). Scale: per
    // iteration one edge-sized join + one groupBy — the standard Pregel-
    // by-join shape; N is a bounded driver scalar (count-then-use).
    QueryDef(
      "q_identity_pagerank", {
        // every CTE here is MATERIALIZED: the unrolled iteration chain
        // (in_i references pr_{i-1}, which references in_{i-1}, ...)
        // otherwise inlines into ONE fused plan where symd — itself a
        // re-expansion of the events aggregation — appears once per
        // iteration, and the concurrent hash joins spilled the 100x
        // oracle past the sandbox disk. Materialized, each iteration
        // evaluates bottom-up over node/edge-sized tables (the funnel's
        // candm/interx lesson). Results unchanged.
        val iters = (1 to PrIters).map { i =>
          val p = i - 1
          s"""in$i AS MATERIALIZED (
             |  SELECT e.dst AS node, CAST(sum(p.r // e.d) AS BIGINT) AS inflow
             |  FROM symd e JOIN pr$p p ON p.node = e.src GROUP BY e.dst),
             |pr$i AS MATERIALIZED (
             |  SELECT nd.node,
             |         CAST((SELECT tel FROM tp)
             |              + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS r
             |  FROM nodes nd LEFT JOIN in$i i ON i.node = nd.node)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $edgesSql,
           |sym AS (SELECT src, dst FROM edges
           |        UNION ALL SELECT dst, src FROM edges),
           |deg AS MATERIALIZED (
           |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),
           |symd AS MATERIALIZED (
           |  SELECT s.src, s.dst, g.d FROM sym s JOIN deg g ON g.src = s.src),
           |nodes AS MATERIALIZED (SELECT src AS node FROM deg),
           |tp AS MATERIALIZED (
           |  SELECT (15 * ($PrScale // n)) // 100 AS tel, $PrScale // n AS t0
           |  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)),
           |pr0 AS MATERIALIZED (
           |  SELECT node, CAST((SELECT t0 FROM tp) AS BIGINT) AS r FROM nodes),
           |$iters
           |SELECT node, r AS rank_u FROM pr$PrIters""".stripMargin
      }) { (s, dir) =>
      identityPagerank(edges(s, dir))
    },

    // O2: LWW trait merge — latest (value, k-tag) per (user, type), ties
    // by arrival order (event_id).
    QueryDef(
      "q_lww_latest",
      s"""SELECT user_id, event_type,
         |       round(value + 0.00000025, 4) AS last_value,
         |       kk AS last_k
         |FROM (
         |  SELECT user_id, event_type, value, $kTagSql AS kk,
         |         row_number() OVER (PARTITION BY user_id, event_type
         |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(lwwWindow))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          Num.r4(col("value")).as("last_value"), kTag.as("last_k"))
    },

    // A9: rolling counter — 1-minute buckets, trailing-24h sum per bucket
    // (reference RollingCounter: sum of buckets >= bucket(now-24h)).
    QueryDef(
      "q_rolling_counter_24h",
      """WITH b AS (
        |  SELECT user_id, event_type,
        |         CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_s,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, event_type, bucket_s, cnt,
        |       CAST(sum(cnt) OVER (PARTITION BY user_id, event_type ORDER BY bucket_s
        |                           RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cnt_24h
        |FROM b""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"),
          unix_timestamp(date_trunc("minute", col("ts"))).as("bucket_s"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cnt_24h",
          sum(col("cnt")).over(
            Window.partitionBy(col("user_id"), col("event_type"))
              .orderBy(col("bucket_s")).rangeBetween(-86400, 0)))
    },

    // O1/A13/A14/P4: per-user profile snapshot — lastSeen, counters, and
    // segment predicates evaluated against the corpus max event time.
    QueryDef(
      "q_profile_snapshot",
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |last_type AS (
        |  SELECT user_id, event_type AS latest_type FROM (
        |    SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT e.user_id,
        |       CAST(epoch_us(max(e.ts)) AS BIGINT) AS last_seen_us,
        |       count(*) AS n_events,
        |       count(*) FILTER (WHERE e.ts >= mx.m - INTERVAL 24 HOUR) AS n_24h,
        |       (count(*) FILTER (WHERE e.ts >= mx.m - INTERVAL 24 HOUR)) >= 3 AS power_user,
        |       max(e.ts) < max(mx.m) - INTERVAL 48 HOUR AS reengage,
        |       max(lt.latest_type) = 'purchase' AS pro_plan
        |FROM events e CROSS JOIN mx
        |JOIN last_type lt ON lt.user_id = e.user_id
        |GROUP BY e.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val mx = ev.agg(max(col("ts")).as("m"))
      val lastType = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("latest_type"))
      // mx is 1 row — broadcast; lastType is user-cardinality, so the
      // join strategy is left to the planner (broadcast locally, shuffle
      // at 1e9-user scale)
      ev.crossJoin(broadcast(mx))
        .join(lastType, "user_id")
        .groupBy(col("user_id"))
        .agg(
          unix_micros(max(col("ts"))).as("last_seen_us"),
          count(lit(1)).as("n_events"),
          count(when(col("ts") >= col("m") - expr("INTERVAL 24 HOURS"), 1)).as("n_24h"),
          (count(when(col("ts") >= col("m") - expr("INTERVAL 24 HOURS"), 1)) >= 3).as("power_user"),
          (max(col("ts")) < max(col("m")) - expr("INTERVAL 48 HOURS")).as("reengage"),
          (max(col("latest_type")) === "purchase").as("pro_plan"))
    },

    // O4/O5: segment ENTER/EXIT diff between the mid-month snapshot and
    // the full snapshot — the batch replay of SegmentEngine's stateful
    // diff (`cdp/segments/SegmentEngine.kt:79-119`).
    QueryDef(
      "q_segment_diff",
      """WITH snap AS (
        |  SELECT t.cutoff,
        |         e.user_id,
        |         count(*) FILTER (WHERE e.ts >= t.anchor - INTERVAL 24 HOUR) >= 3 AS power_user,
        |         max(e.ts) < max(t.anchor) - INTERVAL 48 HOUR AS reengage
        |  FROM (SELECT 'mid' AS cutoff, TIMESTAMP '2024-01-16 00:00:00' AS anchor
        |        UNION ALL SELECT 'end', TIMESTAMP '2024-01-31 00:00:00') t
        |  JOIN events e ON e.ts < t.anchor
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT user_id,
        |         bool_or(CASE WHEN cutoff = 'mid' THEN power_user END) AS pu_mid,
        |         bool_or(CASE WHEN cutoff = 'end' THEN power_user END) AS pu_end,
        |         bool_or(CASE WHEN cutoff = 'mid' THEN reengage END) AS re_mid,
        |         bool_or(CASE WHEN cutoff = 'end' THEN reengage END) AS re_end
        |  FROM snap GROUP BY user_id)
        |SELECT user_id, 'power_user' AS segment,
        |       CASE WHEN coalesce(pu_end, false) THEN 'ENTER' ELSE 'EXIT' END AS action
        |FROM wide WHERE coalesce(pu_mid, false) != coalesce(pu_end, false)
        |UNION ALL
        |SELECT user_id, 'reengage',
        |       CASE WHEN coalesce(re_end, false) THEN 'ENTER' ELSE 'EXIT' END
        |FROM wide WHERE coalesce(re_mid, false) != coalesce(re_end, false)""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val anchors = Seq(("mid", "2024-01-16 00:00:00"), ("end", "2024-01-31 00:00:00"))
      val snaps = anchors.map { case (cutoff, anchor) =>
        val a = to_timestamp(lit(anchor))
        ev.filter(col("ts") < a)
          .groupBy(col("user_id"))
          .agg(
            (count(when(col("ts") >= a - expr("INTERVAL 24 HOURS"), 1)) >= 3).as(s"pu_$cutoff"),
            (max(col("ts")) < a - expr("INTERVAL 48 HOURS")).as(s"re_$cutoff"))
      }
      val wide = snaps.head.join(snaps(1), Seq("user_id"), "full")
        .select(col("user_id"),
          coalesce(col("pu_mid"), lit(false)).as("pu_mid"),
          coalesce(col("pu_end"), lit(false)).as("pu_end"),
          coalesce(col("re_mid"), lit(false)).as("re_mid"),
          coalesce(col("re_end"), lit(false)).as("re_end"))
      val pu = wide.filter(col("pu_mid") =!= col("pu_end"))
        .select(col("user_id"), lit("power_user").as("segment"),
          when(col("pu_end"), "ENTER").otherwise("EXIT").as("action"))
      val re = wide.filter(col("re_mid") =!= col("re_end"))
        .select(col("user_id"), lit("reengage").as("segment"),
          when(col("re_end"), "ENTER").otherwise("EXIT").as("action"))
      pu.unionAll(re)
    },

    // O4 timer path, oracle-gated: batch replay of ReengageProcessor's
    // event-time-timer semantics (reference SegmentEngine.kt:147-151).
    // ENTER at the logical instant lastSeen + idle for every idle gap;
    // EXIT stamped at the returning event unless the gap crossed the
    // cleanup horizon (idle x 10) — the bounded-state lost-EXIT trade the
    // processor documents. idle = 12 h: the events table has ~3k/31k such
    // gaps at sf0.01/sf0.1 AND two cleanup-horizon crossings at sf0.1, so
    // both rules are data-exercised. All arithmetic in epoch integers
    // (micros; ENTER stamps ms-truncated exactly like the processor's
    // Timestamp(lastSeenUs/1000 + idleMs)). ReengageReplaySpec holds this
    // replay equal to the streaming processor on fixture logs.
    QueryDef(
      "q_reengage_segments",
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events),
         |seq AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us,
         |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt_us
         |  FROM events)
         |SELECT user_id, 'ENTER' AS action,
         |       CAST((ts_us // 1000 + $ReengageIdleMs) * 1000 AS BIGINT) AS at_us
         |FROM seq, mx WHERE COALESCE(nxt_us, mx_us) - ts_us > ${ReengageIdleMs}000
         |UNION ALL
         |SELECT user_id, 'EXIT', CAST(nxt_us AS BIGINT)
         |FROM seq WHERE nxt_us - ts_us > ${ReengageIdleMs}000
         |  AND nxt_us - ts_us < ${ReengageIdleMs}0000""".stripMargin) { (s, dir) =>
      reengageReplay(
        Tables.events(s, dir).select(col("user_id").as("pid"),
          unix_micros(col("ts")).as("ts_us")),
        ReengageIdleMs)
        .select(col("pid").as("user_id"), col("action"), col("at_us"))
    })

  /** Batch replay of the reengage timer contract over a (pid, ts_us)
    * event log — the SQL-expressible twin of `ReengageProcessor` (which
    * BatchStreamParity-style agreement in ReengageReplaySpec pins):
    *  - per pid, consecutive-event gap > idle ⇒ ENTER at lastSeen + idle
    *    (ms-truncated micros, matching the processor's Timestamp stamp)
    *    and EXIT at the returning event's time;
    *  - a gap past the cleanup horizon (idle × ReengageCleanupFactor)
    *    loses its EXIT — the processor dropped the state before the
    *    return arrived (bounded-state trade);
    *  - the log's global max ts is the end-of-replay clock: a final gap
    *    beyond idle ENTERs with no EXIT. (Streaming holds the watermark
    *    `delay` behind this clock; the replay treats the log as complete,
    *    the usual batch-parity caveat.)
    * One pid-partitioned window pass plus a broadcast scalar — no
    * per-event state, safe at any log size.
    */
  private[graft] def reengageReplay(ev: DataFrame, idleMs: Long): DataFrame = {
    val idleUs = idleMs * 1000L
    val cleanupUs = idleUs * graft.streaming.CdpPipeline.ReengageCleanupFactor
    val seq = ev
      .withColumn("nxt_us", lead(col("ts_us"), 1)
        .over(Window.partitionBy(col("pid")).orderBy(col("ts_us"))))
      .crossJoin(broadcast(ev.agg(max(col("ts_us")).as("mx_us"))))
    val enters = seq
      .filter(coalesce(col("nxt_us"), col("mx_us")) - col("ts_us") > idleUs)
      .select(col("pid"), lit("ENTER").as("action"),
        ((expr("ts_us div 1000") + idleMs) * 1000).as("at_us"))
    val exits = seq
      .filter(col("nxt_us").isNotNull &&
        col("nxt_us") - col("ts_us") > idleUs &&
        col("nxt_us") - col("ts_us") < cleanupUs)
      .select(col("pid"), lit("EXIT").as("action"), col("nxt_us").as("at_us"))
    enters.unionAll(exits)
  }
}
