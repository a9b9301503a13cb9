package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators every CDP/product-analytics engine ships:
  * gap-based sessionization, ordered funnels, and retention cohorts —
  * all single-shuffle window/groupBy programs over the event log.
  */
object EventAnalytics {

  private val GapMin = 30L // session gap

  /** The 30-min-gap session assignment — CTEs `g`/`s` and the lag +
    * running-sum window program, shared by q_sessionization and
    * q_interval_join_attribution on BOTH sides so a gap-constant or
    * tie-break edit cannot fork the two queries.
    */
  private val sessionsSql =
    s"""g AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
       |              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
       |                   > ${GapMin * 60L * 1000000L} THEN 1
       |              ELSE 0 END AS is_start
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |s AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         CAST(sum(is_start) OVER (PARTITION BY user_id
       |                                  ORDER BY epoch_us(ts), event_id)
       |              AS BIGINT) AS session_idx
       |  FROM g)""".stripMargin

  private def sessionized(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("is_start",
        when(lag(col("ts"), 1).over(w).isNull, 1)
          .when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            > GapMin * 60L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("is_start")).over(w))
  }

  val defs: Seq[QueryDef] = Seq(

    // Sessions: a new session starts when the gap since the user's
    // previous event exceeds 30 min. Classic lag + running-sum window —
    // one shuffle on user_id, frames maintained incrementally.
    QueryDef(
      "q_sessionization",
      s"""WITH $sessionsSql
         |SELECT user_id, session_idx, count(*) AS n_events,
         |       CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
         |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s
         |FROM s GROUP BY user_id, session_idx""".stripMargin) { (s, dir) =>
      sessionized(Tables.events(s, dir))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("start_us"),
          expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
            .as("duration_s"))
    },

    // Session path mining: the first 5 event types of each session in
    // (ts, event_id) order as a '>'-joined path, counted across sessions,
    // top 20 — the "common user journeys" report. collect_list is NOT
    // order-stable, so the path is built from array_sort over (rn, type)
    // structs (row_number is unique within the session → deterministic);
    // the oracle's string_agg ORDER BY rn is the same contract. Global
    // top-20 with (count desc, path asc) tiebreak compiles to
    // TakeOrdered — no full sort. One user-keyed window shuffle + one
    // path groupBy: the sessionization scan shape.
    QueryDef(
      "q_session_paths",
      s"""WITH $sessionsSql,
         |p AS (
         |  SELECT user_id, session_idx, event_type,
         |         row_number() OVER (PARTITION BY user_id, session_idx
         |                            ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM s),
         |paths AS (
         |  SELECT user_id, session_idx,
         |         string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM p WHERE rn <= 5 GROUP BY user_id, session_idx)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         |FROM paths GROUP BY path
         |ORDER BY n_sessions DESC, path ASC
         |LIMIT 20""".stripMargin) { (s, dir) =>
      sessionPaths(Tables.events(s, dir))
    },

    // Interval (range) join via `operators/RangeJoin.scala`: per session,
    // the events of the same user inside the 45-minute-lookback window
    // [start - 45 min, end] — the attribution-window shape. 45 min >
    // the 30-min session gap, so windows genuinely reach into the previous
    // session's tail (real multi-match interval semantics). Spark would
    // plan the raw BETWEEN join as a BroadcastNestedLoopJoin; the operator
    // buckets both sides to a shuffle equijoin + exact refine
    // (PlanSpec-guarded against nested-loop/cartesian).
    QueryDef(
      "q_interval_join_attribution",
      s"""WITH $sessionsSql,
         |sess AS (
         |  SELECT user_id, session_idx, count(*) AS n_events,
         |         epoch_us(min(ts)) // 1000000 AS start_s,
         |         epoch_us(max(ts)) // 1000000 AS end_s
         |  FROM s GROUP BY user_id, session_idx),
         |pts AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_s FROM events)
         |SELECT sess.user_id, session_idx, n_events,
         |       count(*) AS n_window_45m
         |FROM sess JOIN pts ON pts.user_id = sess.user_id
         |                  AND pts.ts_s BETWEEN start_s - 2700 AND end_s
         |GROUP BY sess.user_id, session_idx, n_events""".stripMargin) { (s, dir) =>
      val events = Tables.events(s, dir)
      val sess = sessionized(events)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          expr("unix_micros(min(ts)) div 1000000").as("start_s"),
          expr("unix_micros(max(ts)) div 1000000").as("end_s"))
        .withColumn("lo", col("start_s") - 2700)
      val pts = events.select(col("user_id"),
        expr("unix_micros(ts) div 1000000").as("ts_s"))
      graft.operators.RangeJoin
        .intervalJoin(pts, sess, "user_id", "ts_s", "lo", "end_s", 1800L)
        .groupBy(col("user_id"), col("session_idx"), col("n_events"))
        .agg(count(lit(1)).as("n_window_45m"))
    },

    // Funnel: signup -> purchase conversion within 7 days of the user's
    // FIRST signup. Conditional aggregation — one shuffle, no self-join.
    QueryDef(
      "q_funnel_signup_purchase",
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  count(*) AS n_users,
        |  count(first_signup) AS n_signed_up,
        |  count(CASE WHEN first_purchase IS NOT NULL AND first_signup IS NOT NULL
        |             AND first_purchase > first_signup THEN 1 END) AS n_converted_ever,
        |  count(CASE WHEN first_purchase IS NOT NULL AND first_signup IS NOT NULL
        |             AND first_purchase > first_signup
        |             AND first_purchase <= first_signup + INTERVAL 7 DAY
        |        THEN 1 END) AS n_converted_7d
        |FROM f""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .agg(
          count(lit(1)).as("n_users"),
          count(col("first_signup")).as("n_signed_up"),
          count(when(col("first_purchase").isNotNull && col("first_signup").isNotNull
            && col("first_purchase") > col("first_signup"), 1)).as("n_converted_ever"),
          count(when(col("first_purchase").isNotNull && col("first_signup").isNotNull
            && col("first_purchase") > col("first_signup")
            && col("first_purchase") <= col("first_signup") + expr("INTERVAL 7 DAYS"), 1))
            .as("n_converted_7d"))
    },

    // Retention cohorts: users grouped by first-seen day, activity counted
    // per day-offset — the triangle retention matrix.
    QueryDef(
      "q_retention_cohorts",
      """WITH first_seen AS (
        |  SELECT user_id, min(epoch_us(ts)) // 86400000000 AS cohort_day
        |  FROM events GROUP BY user_id)
        |SELECT f.cohort_day,
        |       epoch_us(e.ts) // 86400000000 - f.cohort_day AS day_offset,
        |       count(DISTINCT e.user_id) AS active_users
        |FROM events e JOIN first_seen f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      retentionCohorts(Tables.events(s, dir))
    },

    // Next-event transition matrix (Markov step counts): per user, pair
    // each event with its successor in (ts, event_id) order; count and
    // normalize per source type. One window shuffle + one groupBy.
    QueryDef(
      "q_event_transitions",
      s"""WITH seq AS (
         |  SELECT event_type,
         |         lead(event_type) OVER (
         |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
         |  FROM events)
         |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
         |       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type)
         |             + 0.00000025, 4) AS p
         |FROM seq WHERE next_type IS NOT NULL
         |GROUP BY event_type, next_type""".stripMargin) { (s, dir) =>
      eventTransitions(Tables.events(s, dir))
    },

    // Time-to-convert histogram: hours from first signup to first
    // subsequent purchase, bucketed. Reuses the funnel's conditional-agg
    // shape — one shuffle, integer bucket arithmetic.
    QueryDef(
      "q_time_to_convert",
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT (epoch_us(t2) - epoch_us(t1)) // 3600000000 AS hours_bucket,
        |       count(*) AS n_users
        |FROM f WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t1"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t2"))
        .filter(col("t1").isNotNull && col("t2").isNotNull && col("t2") > col("t1"))
        .groupBy(expr("(unix_micros(t2) - unix_micros(t1)) div 3600000000")
          .as("hours_bucket"))
        .agg(count(lit(1)).as("n_users"))
    },

    // Ordered 3-step sequence (MATCH_RECOGNIZE shape): first signup, then
    // first purchase AFTER it, then first error AFTER that — two chained
    // first-after-anchor aggregations, no self-joins.
    QueryDef(
      "q_sequence_3step",
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'error' AND e.ts > s2.t2
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |       CAST(epoch_us(s1.t1) AS BIGINT) AS t1_us,
        |       CAST(epoch_us(s2.t2) AS BIGINT) AS t2_us,
        |       CAST(epoch_us(s3.t3) AS BIGINT) AS t3_us,
        |       (epoch_us(s3.t3) - epoch_us(s1.t1)) // 1000000 AS span_s
        |FROM s1 JOIN s2 ON s2.user_id = s1.user_id
        |JOIN s3 ON s3.user_id = s1.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      def firstAfter(anchor: org.apache.spark.sql.DataFrame, anchorTs: String,
                     typ: String, out: String) =
        ev.filter(col("event_type") === typ)
          .join(anchor, "user_id")
          .filter(col("ts") > col(anchorTs))
          .groupBy(col("user_id")).agg(min(col("ts")).as(out))
          .join(anchor, "user_id")
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = firstAfter(s1, "t1", "purchase", "t2")
      val s3 = firstAfter(s2, "t2", "error", "t3")
      s3.select(col("user_id"),
        unix_micros(col("t1")).as("t1_us"),
        unix_micros(col("t2")).as("t2_us"),
        unix_micros(col("t3")).as("t3_us"),
        expr("(unix_micros(t3) - unix_micros(t1)) div 1000000").as("span_s"))
    },

    // Sequence pattern with NEGATION (the CEP shape q_sequence_3step
    // cannot express): each purchase matched to the LATEST preceding view
    // within 24 h, flagged `clean` iff NO error event fell strictly
    // between them — "A then B with no C between", the guard condition of
    // multi-pattern event detection. No between-join anywhere: the
    // negation is a running-error-count DIFFERENCE (errs at B minus errs
    // at the matched A; neither endpoint is an error, so the delta counts
    // exactly the strictly-between errors), and the A-match is one
    // last_value(IGNORE NULLS) over the same per-user ordering. One
    // shuffle (user), two window passes over one sort — at 100 TB this is
    // a single keyed sort-scan however many patterns ride it, where the
    // naive formulation is a per-pair interval join plus an anti-join.
    QueryDef(
      "q_pattern_negation",
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS errs
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts, event_type, errs,
        |         last_value(CASE WHEN event_type = 'view'
        |                    THEN struct_pack(vts := epoch_us(ts),
        |                                     veid := event_id,
        |                                     verrs := errs) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v
        |  FROM o)
        |SELECT user_id, v.veid AS view_event_id, event_id AS purchase_event_id,
        |       (epoch_us(ts) - v.vts) // 1000000 AS gap_s,
        |       (errs - v.verrs = 0) AS clean
        |FROM m WHERE event_type = 'purchase' AND v IS NOT NULL
        |  AND epoch_us(ts) - v.vts <= CAST(86400 AS BIGINT) * 1000000""".stripMargin) { (s, dir) =>
      patternNegation(Tables.events(s, dir))
    },

    // SAX time-series sketch (Lin et al. 2003): each user's value series —
    // ordered by event time — compresses to an 8-symbol word via PAA
    // (equal-count segments) + z-normalization + the fixed N(0,1)
    // quartile breakpoints (±0.6745), and users sharing a word are motif
    // candidates (n_same_word). Deterministic across engines because the
    // arithmetic is INTEGER until the last step: values are a 2-decimal
    // grid, so v100 = round(value*100) is exact; segment/user sums and
    // sum-of-squares are BIGINTs; the z-score is (segSum·n − S·segN) /
    // (segN·√(Q·n − S²)) — one exact integer numerator, one correctly-
    // rounded sqrt/multiply/divide — so no partial-agg float-sum ordering
    // can flip a symbol. Zero-variance users (√ of 0) emit the middle
    // symbol by definition. Shape: one keyed shuffle for the per-user
    // window, then segment/user aggregates over the same key — the word
    // build is a collect of at most 8 structs per user; at 100 TB this is
    // the standard sketch profile (output rows = users, never events).
    QueryDef(
      "q_sax_words",
      """WITH v0 AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vr,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n,
        |         min(CAST(round(value * 100) AS BIGINT))
        |           OVER (PARTITION BY user_id) AS vmin
        |  FROM events),
        |v AS (SELECT user_id, vr - vmin AS v100, rn, n FROM v0),
        |seg AS (
        |  SELECT user_id, ((rn - 1) * 8) // n AS s, n,
        |         CAST(sum(v100) AS BIGINT) AS seg_sum,
        |         CAST(count(*) AS BIGINT) AS seg_n
        |  FROM v GROUP BY user_id, ((rn - 1) * 8) // n, n),
        |u AS (
        |  SELECT user_id, CAST(sum(v100) AS BIGINT) AS s_tot,
        |         CAST(sum(v100 * v100) AS BIGINT) AS q_tot,
        |         CAST(max(v100) AS BIGINT) AS m,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM v GROUP BY user_id),
        |z AS (
        |  SELECT seg.user_id, seg.s,
        |         CASE WHEN CAST(u.n AS DOUBLE) * u.n * u.m * u.m >= 9.0e18
        |              THEN error('q_sax_words: series too long/wide for integer-exact symbols; pre-scale or bucket')
        |              WHEN u.q_tot * u.n - u.s_tot * u.s_tot = 0 THEN 'c'
        |              WHEN CAST(seg.seg_sum * u.n - u.s_tot * seg.seg_n AS DOUBLE)
        |                   / (seg.seg_n * sqrt(u.q_tot * u.n - u.s_tot * u.s_tot))
        |                   < -0.6745 THEN 'a'
        |              WHEN CAST(seg.seg_sum * u.n - u.s_tot * seg.seg_n AS DOUBLE)
        |                   / (seg.seg_n * sqrt(u.q_tot * u.n - u.s_tot * u.s_tot))
        |                   < 0 THEN 'b'
        |              WHEN CAST(seg.seg_sum * u.n - u.s_tot * seg.seg_n AS DOUBLE)
        |                   / (seg.seg_n * sqrt(u.q_tot * u.n - u.s_tot * u.s_tot))
        |                   < 0.6745 THEN 'c'
        |              ELSE 'd' END AS sym
        |  FROM seg JOIN u ON u.user_id = seg.user_id),
        |words AS (
        |  SELECT user_id, string_agg(sym, '' ORDER BY s) AS sax FROM z
        |  GROUP BY user_id)
        |SELECT user_id, sax,
        |       count(*) OVER (PARTITION BY sax) AS n_same_word
        |FROM words""".stripMargin) { (s, dir) =>
      saxWords(Tables.events(s, dir))
    })

  /** q_session_paths body over an arbitrary events relation. */
  def sessionPaths(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts"), col("event_id"))
    sessionized(events)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(rn, event_type)))," +
          " x -> x.event_type), '>')").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  /** q_retention_cohorts body over an arbitrary events relation. */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val firstSeen = events.groupBy(col("user_id"))
      .agg(expr("min(unix_micros(ts)) div 86400000000").as("cohort_day"))
    // firstSeen is user-cardinality: no broadcast hint — fine locally,
    // shuffle-join at cluster scale
    events.join(firstSeen, "user_id")
      .groupBy(col("cohort_day"),
        (expr("unix_micros(ts) div 86400000000") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** q_event_transitions body over an arbitrary events relation. */
  def eventTransitions(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", graft.operators.Num.r4(
        col("n") * 1.0 / sum(col("n")).over(Window.partitionBy(col("event_type")))))
  }

  /** q_pattern_negation body over an arbitrary events relation. */
  def patternNegation(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val o = events.withColumn("errs",
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w))
    o.withColumn("v",
        last(when(col("event_type") === "view",
          struct(unix_micros(col("ts")).as("vts"),
            col("event_id").as("veid"), col("errs").as("verrs"))),
          ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase" && col("v").isNotNull &&
        unix_micros(col("ts")) - col("v.vts") <= 86400000000L)
      .select(col("user_id"), col("v.veid").as("view_event_id"),
        col("event_id").as("purchase_event_id"),
        expr("(unix_micros(ts) - v.vts) div 1000000").as("gap_s"),
        (col("errs") - col("v.verrs") === 0).as("clean"))
  }

  /** q_sax_words body over an arbitrary events relation (same probe
    * contract as patternNegation).
    */
  def saxWords(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
    // shift by the per-user MIN before squaring: z-scores are exactly
    // shift-invariant in integer arithmetic, and the shrunken magnitudes
    // keep the variance term inside int64 for any realistic series
    val v = events
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("vr"),
        row_number().over(wU.orderBy(col("ts"), col("event_id"))).as("rn"),
        count(lit(1)).over(wU).as("n"))
      .select(col("user_id"),
        (col("vr") - min(col("vr")).over(wU)).as("v100"), col("rn"), col("n"))
    val seg = v.groupBy(col("user_id"),
        expr("((rn - 1) * 8) div n").as("s"), col("n"))
      .agg(sum(col("v100")).as("seg_sum"), count(lit(1)).as("seg_n"))
    val u = v.groupBy(col("user_id"))
      .agg(sum(col("v100")).as("s_tot"),
        sum(col("v100") * col("v100")).as("q_tot"),
        max(col("v100")).as("m"),
        count(lit(1)).as("n_tot"))
    val varInt = col("q_tot") * col("n_tot") - col("s_tot") * col("s_tot")
    val z = (col("seg_sum") * col("n_tot") - col("s_tot") * col("seg_n"))
      .cast("double") / (col("seg_n") * sqrt(varInt))
    // n²·m² bounds every intermediate product (q_tot·n, s_tot², seg_sum·n,
    // per-row squares); past int64 the symbols would silently wrap in
    // Spark and error in DuckDB — refuse to guess, loudly, in both
    val overflow = col("n_tot").cast("double") * col("n_tot") * col("m") * col("m") >= 9.0e18
    seg.join(u, "user_id")
      .select(col("user_id"), col("s"),
        when(overflow, raise_error(lit(
          "q_sax_words: series too long/wide for integer-exact symbols; pre-scale or bucket")))
          .when(varInt === 0, "c")
          .when(z < -0.6745, "a").when(z < 0, "b").when(z < 0.6745, "c")
          .otherwise("d").as("sym"))
      .groupBy(col("user_id"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(s, sym))), x -> x.sym)"), "")
        .as("sax"))
      .withColumn("n_same_word",
        count(lit(1)).over(Window.partitionBy(col("sax"))))
  }
}
