package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch operator semantics: identity CC determinism, dedup families,
  * inclusive window bounds, EWMA fold.
  */
class OperatorsSpec extends SparkSpec {

  test("connected components: diamond union, lexicographically smallest root") {
    import spark.implicits._
    // two components: {a,b,c,d} (diamond) and {x,y}
    val edges = Seq(("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("y", "x"))
      .toDF("src", "dst")
    val cc = Identity.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("connected components: chain propagates to the far end") {
    import spark.implicits._
    val edges = (1 to 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val cc = Identity.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.values.toSet == Set("n1")) // n1 < n10 < n2 lexicographically
  }

  test("adaptive CC: local kernel == distributed propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val viaDistributed = Identity.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = Identity.connectedComponentsAdaptive(edges.toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLocal == viaDistributed)
    // a 0 edge bound forces the distributed branch through the adaptive API
    val viaFallback = Route.forcing(Route.CcEdges -> 0L)(
      Identity.connectedComponentsAdaptive(edges.toDS())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(viaFallback == viaDistributed)
  }

  test("exact dedup groups identical texts, keeps min id") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "text")
    val out = Dedup.exact(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash LSH finds truncated near-duplicate, not unrelated docs") {
    import spark.implicits._
    val full = (1 to 40).map(i => s"w$i").mkString(" ")
    val half = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, full), (2L, half), (3L, other)).toDF("id", "text")
    val sh = Dedup.shingleHashes(docs, col("id"), col("text"), 3)
    val cand = Dedup.candidatePairs(Dedup.bandKeys(Dedup.minhashSignatures(sh)))
    val pairs = Dedup.jaccard(cand, sh)
      .filter(col("jaccard") >= 0.35)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("hot-bucket cap cuts boilerplate candidate explosion, keeps true pairs") {
    import spark.implicits._
    // 40 docs sharing a 60-token boilerplate tail (their minhash registers
    // are boilerplate-dominated -> giant band buckets -> quadratic
    // candidates, all failing the verify) + one genuine near-dup pair
    // whose bucket is tiny
    val bp = (1 to 60).map(i => s"bp$i").mkString(" ")
    val base = (1 to 40).map(j => s"x$j").mkString(" ")
    val docs = ((0 until 40).map { i =>
      (i.toLong, (1 to 30).map(j => s"d${i}_$j").mkString(" ") + " " + bp)
    } ++ Seq((100L, base), (101L, base + " tail extra words appended here")))
      .toDF("id", "text")
    val bands = Dedup.bandKeys(Dedup.minhashSignatures(
      Dedup.shingleHashes(docs, col("id"), col("text"), 5)))
    val uncapped = Dedup.candidatePairs(bands).count()
    val capped = Dedup.candidatePairsCapped(bands, maxBucket = 10)
    val cappedPairs = capped.as[(Long, Long)].collect().toSet
    assert(uncapped > 100,
      s"generator must actually explode uncapped: $uncapped pairs")
    assert(cappedPairs.size < uncapped / 4,
      s"cap must cut the quadratic bulk: ${cappedPairs.size} vs $uncapped")
    assert(cappedPairs.contains((100L, 101L)),
      s"the genuine near-dup pair must survive the cap: $cappedPairs")
  }

  test("simhash: identical docs distance 0; chunk blocking finds them") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, "completely different words here"))
      .toDF("id", "text")
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(docs, col("id"), col("text")), maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("sliding window bounds are inclusive at exactly -60s") {
    import spark.implicits._
    val events = Seq(
      (1L, "a", "t", "2024-01-01T00:00:00Z", 1.0),
      (2L, "a", "t", "2024-01-01T00:01:00Z", 1.0)) // exactly 60s later
      .map { case (id, e, ty, t, v) => (id, e, ty, ts(t), v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = SlidingWindows.withSlidingAggs(events,
      Seq(col("user_id"), col("event_type")), col("ts"), col("value"))
      .orderBy("event_id").select("cnt_60s").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L)) // second event counts the first
  }

  test("EWMA fold: seed with first value, then alpha blend in ts order") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, "t", "2024-01-01T00:00:00Z", 10.0),
      (2L, 1L, "t", "2024-01-01T00:00:01Z", 20.0),
      (3L, 1L, "t", "2024-01-01T00:00:02Z", 30.0))
      .map { case (id, u, ty, t, v) => (id, u, ty, ts(t), v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = Ewma.perEvent(spark, events, 0.5).collect()
      .sortBy(_.event_id).map(_.ewma)
    assert(out.toSeq == Seq(10.0, 15.0, 22.5))
  }

  test("multimodal stub decode is deterministic and partition-independent") {
    import spark.implicits._
    val assets = Seq((1L, "payload one", "image"), (2L, "payload two", "video"))
      .toDF("asset_id", "text", "media_type")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("payload"), col("media_type"))
    val a = Multimodal.decodeFeatures(spark, assets).collect().sortBy(_.getLong(0))
    val b = Multimodal.decodeFeatures(spark, assets.repartition(3)).collect().sortBy(_.getLong(0))
    assert(a.toSeq == b.toSeq)
    val img = a.head
    assert(img.getInt(3) >= 64 && img.getInt(3) < 1920) // width
    assert(a(1).getInt(5) >= 1) // video n_frames
  }
}
