package pbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.streaming.{CdpEvent, EntityEvent}

/** Seeded event logs for the closed-loop workloads. Both are generated
  * batch by batch in a fixed order, so a seed always yields the same log.
  */
object Logs {

  /** Epoch of every generated event time: 2024-01-01T00:00:00Z. */
  val BaseMs = 1704067200000L

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => math.pow(k.toDouble, -s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Entity events in global `ts` order (1 ms apart), about `entities`
    * zipf-skewed keys, with injected value spikes (R2), exfil bursts
    * (R4) and geo/device conflicts (R3); dense keys trip R1.
    */
  final class EntityLog(seed: Long, entities: Int, baseMs: Long) {
    private val rng = new SplittableRandom(seed * 7919L + 1L)
    private val zipf = new Zipf(entities, 0.8)
    private var i = 0L
    def next(n: Int): Seq[EntityEvent] = (0 until n).map { _ =>
      val e = zipf.sample(rng)
      val u = rng.nextDouble()
      val value = if (u < 0.02) 100L else if (u < 0.025) 5000L else 1L + rng.nextInt(5)
      val geo = if (rng.nextDouble() < 0.02) "DE" else "US"
      val device = if (rng.nextDouble() < 0.01) Some("mobile") else None
      val tpe = if (rng.nextDouble() < 0.1) "login" else "txn"
      val ev = EntityEvent(s"x$seed-$i", new Timestamp(baseMs + i), s"e$e", tpe,
        Some(value), Some(geo), device)
      i += 1
      ev
    }
  }

  /** CDP events over about `profiles` zipf-skewed users: 10% IDENTIFY
    * (plan pro or free), ~5% re-sent duplicates of a recent event, ~5%
    * stamped two minutes late, so batches arrive out of order.
    */
  final class CdpLog(seed: Long, profiles: Int, baseMs: Long) {
    private val rng = new SplittableRandom(seed * 104729L + 3L)
    private val zipf = new Zipf(profiles, 0.8)
    private val recent = mutable.ArrayBuffer.empty[CdpEvent]
    private var i = 0L
    def next(n: Int): Seq[CdpEvent] = (0 until n).map { _ =>
      val u = rng.nextDouble()
      val ev =
        if (u < 0.05 && recent.nonEmpty) recent(rng.nextInt(recent.size))
        else {
          val user = s"u${zipf.sample(rng)}"
          val late = if (rng.nextDouble() < 0.05) 120000L else 0L
          val ts = new Timestamp(baseMs + i - late)
          val e =
            if (rng.nextDouble() < 0.1)
              CdpEvent(s"r$seed-$i", ts, "IDENTIFY", Some(user), None, None, None,
                Map("plan" -> (if (rng.nextBoolean()) "pro" else "free")))
            else
              CdpEvent(s"r$seed-$i", ts, "TRACK", Some(user), None, None,
                Some("feature_used"), Map.empty)
          if (recent.size < 5000) recent += e else recent((i % 5000).toInt) = e
          e
        }
      i += 1
      ev
    }
  }
}
