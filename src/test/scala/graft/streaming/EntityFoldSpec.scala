package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import EntityPipeline.{RuleConfig, WindowState, severity}

/** The per-event re-scan fold `EntityPipeline.foldEvents` replaced, kept
  * verbatim as the reference: each event prepends its point, re-prunes the
  * whole deque to the horizon and filters it once per window aggregate.
  */
object ReferenceEntityFold {
  def foldEvents(
      entityId: String, st0: WindowState, ordered: Seq[EntityEvent],
      cfg: RuleConfig): (WindowState, Seq[Alert]) = {
    var st = st0
    val out = Seq.newBuilder[Alert]
    ordered.foreach { e =>
      val t = e.ts.getTime
      val v = e.value.map(_.toDouble).getOrElse(1.0) // Processor.kt:134-139
      val pts = ((t, v, e.geo, e.device) :: st.points)
        .filter(_._1 >= t - cfg.horizonMs)
      // inclusive-bound window aggregates anchored at the event ts; the
      // upper bound matters for late events whose state already holds
      // points with LATER timestamps (batch RANGE frames exclude them too)
      def cnt(ms: Long) = pts.count(p => p._1 >= t - ms && p._1 <= t).toDouble
      def sum(ms: Long) = pts.filter(p => p._1 >= t - ms && p._1 <= t).map(_._2).sum
      val rateNow = cnt(60000L)
      val cnt5m = cnt(300000L)
      val avg5m = if (cnt5m == 0) 0.0 else sum(300000L) / cnt5m
      val cnt1h = cnt(cfg.horizonMs)
      val avg1h = if (cnt1h == 0) 0.0 else sum(cfg.horizonMs) / cnt1h
      val sum30s = sum(30000L)
      // R2 updates EWMA with the current value before comparing
      val ewma = st.ewma match {
        case None => v
        case Some(p) => cfg.r2Alpha * v + (1 - cfg.r2Alpha) * p
      }
      st = WindowState(pts, Some(ewma))
      val thr1 = avg5m * cfg.r1Factor
      if (rateNow > thr1 && rateNow >= cfg.r1MinRate)
        out += Alert(e.ts, "R1_VELOCITY_SPIKE", entityId,
          severity(rateNow, thr1), rateNow, thr1)
      val thr2 = ewma * cfg.r2Factor
      if (v > thr2 && rateNow >= cfg.r2MinCount)
        out += Alert(e.ts, "R2_VALUE_SPIKE", entityId,
          severity(v, thr2), v, thr2)
      // R3: conflicting geo/device tags in the trailing window — the real
      // implementation of the reference's stubbed spec (Rules.kt:98-154)
      val recent = pts.filter(p => p._1 >= t - cfg.r3WindowMs && p._1 <= t)
      val geos = recent.flatMap(_._3).distinct
      val devs = recent.flatMap(_._4).distinct
      if (geos.length > 1 || devs.length > 1)
        out += Alert(e.ts, "R3_TAG_MISMATCH", entityId, "MEDIUM",
          math.max(geos.length, devs.length).toDouble, 1.0)
      // R4: exfil — sum(30 s) above the P95 fallback
      // max(floor(factor * avg1h), min) (Rules.kt:159-200)
      val thr4 = math.max(math.floor(avg1h * cfg.r4FactorP95), cfg.r4MinThreshold)
      if (sum30s > thr4)
        out += Alert(e.ts, "R4_EXFIL", entityId, "HIGH", sum30s, thr4)
    }
    (st, out.result())
  }
}

/** `EntityPipeline.foldEvents` (merged timeline, prefix sums, sliding tag
  * counts) must equal the re-scan reference in alerts AND final
  * `WindowState` — same point order, same EWMA — batch after batch, with
  * the state handed on the way `EntityAlertProcessor` stores it (appended
  * when nothing aged out, else rewritten).
  */
class EntityFoldSpec extends AnyFunSuite {

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z

  private def randomConfig(rnd: scala.util.Random): RuleConfig = {
    val horizon = rnd.nextInt(3) match {
      case 0 => 10000L + rnd.nextInt(290000)   // below R1's 300 s window
      case 1 => 300000L + rnd.nextInt(3300000)
      case _ => 3600000L
    }
    RuleConfig(
      horizonMs = horizon,
      r1Factor = Array(0.5, 1.0, 1.5, 3.0)(rnd.nextInt(4)),
      r1MinRate = 1.0 + rnd.nextInt(6),
      r2Alpha = Array(0.1, 0.3, 0.5)(rnd.nextInt(3)),
      r2Factor = Array(1.0, 1.5, 4.0)(rnd.nextInt(3)),
      r2MinCount = 1L + rnd.nextInt(5),
      // sometimes wider than the horizon, which then bounds R3 too
      r3WindowMs = 5000L + rnd.nextInt((2 * horizon).toInt),
      r4FactorP95 = Array(0.0, 1.0, 3.0, 10.0)(rnd.nextInt(4)),
      r4MinThreshold = Array(10.0, 100.0, 1000.0)(rnd.nextInt(3)))
  }

  /** A multi-batch log: a clock that moves forward between batches,
    * whole-second (often equal) timestamps, events up to ~7 min behind
    * the points already in state, and absent value/geo/device.
    */
  private def randomLog(rnd: scala.util.Random): Seq[Seq[EntityEvent]] = {
    var clock = T0
    var id = 0
    Seq.fill(1 + rnd.nextInt(5)) {
      clock += 1000L * rnd.nextInt(240)
      Seq.fill(1 + rnd.nextInt(30)) {
        val ts =
          if (rnd.nextInt(5) == 0) clock - 1000L * rnd.nextInt(420)
          else clock + 1000L * rnd.nextInt(20)
        val value =
          if (rnd.nextInt(6) == 0) None
          else if (rnd.nextInt(10) == 0) Some(500L + rnd.nextInt(5000).toLong)
          else Some(rnd.nextInt(60).toLong)
        def tag(vals: Array[String]) =
          if (rnd.nextInt(3) == 0) None else Some(vals(rnd.nextInt(vals.length)))
        id += 1
        EntityEvent(f"e$id%05d", new Timestamp(ts), "a", "t", value,
          tag(Array("US", "US", "RU", "DE")), tag(Array("ios", "ios", "android")))
      }.sortBy(e => (e.ts.getTime, e.eventId))
    }
  }

  test("foldEvents equals the re-scan reference over random multi-batch logs") {
    val rnd = new scala.util.Random(20241017)
    val logs = 2500
    val fired = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until logs).foreach { n =>
      val cfg = randomConfig(rnd)
      var st = WindowState(Nil, None)
      randomLog(rnd).zipWithIndex.foreach { case (batch, b) =>
        val (want, wantAlerts) = ReferenceEntityFold.foldEvents("a", st, batch, cfg)
        val (got, gotAlerts) = EntityPipeline.foldEvents("a", st, batch, cfg)
        assert(gotAlerts == wantAlerts, s"alerts, log $n batch $b, $cfg")
        assert(got == want, s"state, log $n batch $b, $cfg")
        wantAlerts.foreach(a => fired(a.rule) += 1)
        st =
          if (want.points.size == st.points.size + batch.size)
            WindowState(st.points ++ want.points.take(batch.size), want.ewma)
          else want
      }
    }
    // every rule must have been exercised, or the comparison proves little
    Seq("R1_VELOCITY_SPIKE", "R2_VALUE_SPIKE", "R3_TAG_MISMATCH", "R4_EXFIL")
      .foreach(r => assert(fired(r) > 1000, s"$r fired ${fired(r)} times"))
  }

  test("an empty batch leaves the state untouched and emits nothing") {
    val st = WindowState(List((T0, 3.0, Some("US"), None)), Some(3.0))
    assert(EntityPipeline.foldEvents("a", st, Nil, RuleConfig()) == ((st, Nil)))
  }
}
