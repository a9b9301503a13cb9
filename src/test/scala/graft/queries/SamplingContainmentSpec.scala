package graft.queries

import graft.SparkSpec
import graft.operators.Route
import org.apache.spark.sql.functions._

import scala.util.Random

/** Behavioral tests for q_weighted_sample (priority sampling) and
  * q_dedup_containment beyond their DuckDB oracle rows: randomized
  * differential checks against in-memory oracles (the sampling draw is
  * deterministic given the salted hash, so the compare is exact), the
  * n <= K small-source edge where tau = 0 and the estimator degrades to
  * the exact weight, and directionality of the containment measure.
  */
class SamplingContainmentSpec extends SparkSpec {

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  // ----- priority sampling -----

  private val K = 4
  private val Salt = "tst"

  /** In-memory DLT oracle: top-K per source by p = w/u desc (doc_id
    * tiebreak), tau = (K+1)-th priority or 0, w_hat = max(w, tau).
    */
  private def dltOracle(docs: Seq[(String, Long, Long)])
      : Map[(String, Long), (Double, Double)] =
    docs.groupBy(_._1).flatMap { case (_, ds) =>
      val byP = ds.map { case (src, id, w) =>
        val u = hash64(Salt + id) % 1000000L + 1L
        (src, id, w, w.toDouble / u)
      }.sortBy(t => (-t._4, t._2))
      val tau = if (byP.size > K) byP(K)._4 else 0.0
      byP.take(K).map { case (src, id, w, p) =>
        (src, id) -> ((p, math.max(w.toDouble, tau)))
      }
    }

  test("priority sample == in-memory DLT oracle on 10 random weighted corpora") {
    import spark.implicits._
    for (seed <- 0 until 10) {
      val rnd = new Random(seed)
      // three sources: one big, one exactly K, one smaller than K
      val sizes = Seq("big" -> (K + 3 + rnd.nextInt(20)), "atk" -> K,
        "small" -> (1 + rnd.nextInt(K - 1)))
      val docs = sizes.flatMap { case (src, n) =>
        (0 until n).map(i =>
          (src, seed * 1000L + src.hashCode.abs % 97 * 100L + i,
            1L + rnd.nextInt(900000)))
      }
      val want = dltOracle(docs)
      val got = CurationQueries.prioritySample(
          docs.toDF("source", "doc_id", "n_chars").repartition(4), K, Salt)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(3), r.getDouble(4)))).toMap
      assert(got.keySet == want.keySet, s"seed=$seed sampled-id sets differ")
      // outputs are r4-rounded: tolerance is the rounding quantum
      for ((k, (p, wh)) <- want) {
        assert(math.abs(got(k)._1 - p) < 1e-4, s"seed=$seed $k priority")
        assert(math.abs(got(k)._2 - wh) < 1e-4, s"seed=$seed $k w_hat")
      }
    }
  }

  test("source with n <= K: whole source sampled, w_hat is the exact weight") {
    import spark.implicits._
    val docs = Seq(("s", 1L, 100L), ("s", 2L, 7L)).toDF("source", "doc_id", "n_chars")
    val got = CurationQueries.prioritySample(docs, K, Salt)
      .select("doc_id", "n_chars", "w_hat").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // tau = 0 (no (K+1)-th priority) so max(w, tau) = w: the estimator is
    // exact when the "sample" is a census
    assert(got == Set((1L, 100L, 100.0), (2L, 7L, 7.0)))
  }

  // ----- leakage-safe split -----

  test("q_split_leakage_safe: clusters never straddle splits; unclustered docs match the naive rule") {
    val rows = graft.SparkEntry.queries("q_split_leakage_safe")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // the variant corpus plants real near-dup clusters — the property is
    // only meaningful if some exist
    assert(rows.exists(t => t._1 != t._2), "expected clustered docs")
    // THE property: every cluster representative maps to exactly one split
    val bySplit = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(bySplit.forall(_._2.size == 1),
      s"clusters straddling splits: ${bySplit.filter(_._2.size > 1).keys.toSeq.sorted}")
    // unclustered docs agree with the per-doc hash rule (same salt as
    // q_hash_split) and can never be flagged as naive leaks
    def naive(id: Long): String = {
      val h = hash64("spl" + id) % 100
      if (h < 80) "train" else if (h < 90) "valid" else "test"
    }
    for ((id, rep, split, leak) <- rows) {
      if (id == rep) {
        assert(split == naive(id), s"unclustered doc $id split")
        assert(!leak, s"unclustered doc $id flagged as leak")
      } else
        assert(leak == (naive(id) != naive(rep)), s"doc $id leak flag")
    }
  }

  // ----- n-gram containment -----

  /** Brute-force oracle on shingle STRING sets (the operator uses 64-bit
    * shingle hashes; collisions at these sizes are negligible).
    */
  private def containOracle(docs: Seq[(Long, String)])
      : Map[(Long, Long), (Double, Double)] = {
    val sets = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq.sliding(5).filter(_.size == 5)
        .map(_.mkString(" ")).toSet
    }.toMap
    (for {
      (a, sa) <- sets.toSeq; if sa.nonEmpty
      (b, sb) <- sets.toSeq; if a != b
      inter = (sa intersect sb).size
      if inter >= 2 && 5 * inter >= 4 * sa.size
    } yield (a, b) -> ((inter.toDouble / sa.size,
      inter.toDouble / (sa.size + sb.size - inter)))).toMap
  }

  test("containment == brute-force oracle on 12 random corpora with planted excerpts") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "m")
    for (seed <- 0 until 12) {
      val rnd = new Random(seed)
      val nDocs = 4 + rnd.nextInt(8)
      val raw = (0 until nDocs).map { i =>
        (i.toLong, Seq.fill(20 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))))
      }
      // plant excerpts: a contiguous slice of an earlier doc (pure subset)
      val planted = raw ++ raw.filter(_._1 % 3 == 0).map { case (id, ws) =>
        val start = rnd.nextInt(ws.size / 2)
        (id + 1000L, ws.slice(start, start + 8 + rnd.nextInt(ws.size - start)))
      }
      val docs = planted.map { case (id, ws) => (id, ws.mkString(" ")) }
      val want = containOracle(docs)
      val got = DedupQueries.containmentPairs(docs.toDF("id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      assert(got.keySet == want.keySet,
        s"seed=$seed pair sets differ: got=${got.keySet} want=${want.keySet}")
      for ((k, (c, j)) <- want) {
        assert(math.abs(got(k)._1 - c) < 1e-3, s"seed=$seed $k containment")
        assert(math.abs(got(k)._2 - j) < 1e-3, s"seed=$seed $k jaccard")
      }
    }
  }

  test("containment is directional: excerpt->original only, Jaccard below the near-dup cut") {
    import spark.implicits._
    // 60 distinct words; the excerpt is the first 12 — all its shingles
    // appear in the original, but symmetric Jaccard is 8/56 ~ 0.14
    val original = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")
    val rows = DedupQueries.containmentPairs(
        Seq((1L, original), (2L, excerpt), (3L, "x1 x2 x3 x4 x5 x6 x7"))
          .toDF("id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 1)
    val (a, b, c, j) = rows.head
    assert(a == 2L && b == 1L, "only the excerpt is contained in the original")
    assert(c == 1.0, "every excerpt shingle appears in the original")
    assert(j < 0.3, "the symmetric measure sits below the near-dup cut " +
      "(this pair is invisible to q_dedup_ngram_jaccard)")
  }

  // ----- composed containment: the funnel's d_containment stage -----

  test("funnel: excerpt copies survive near-dup and die at the containment stage") {
    import spark.implicits._
    // 30 docs x 60 unique words — no cross-doc sharing, so each planted
    // variant class falls at a known stage: exact copies (%10) die at b;
    // truncated halves (%5, Jaccard ~0.46) are stage-c's work (LSH recall
    // at that marginal Jaccard is deterministic but not total — the count
    // is asserted relative, not pinned to the hash constants); first-fifth
    // excerpts (%7, Jaccard ~0.14 — INVISIBLE to stage c, every shingle
    // contained) die at d and ONLY at d. None of ids 7,14,21,28 is
    // %35 == 0, so no excerpt clusters with a truncated half.
    val docs = (1 to 30).map(i =>
      (i.toLong, (1 to 60).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val stages = CurationQueries.funnel(spark, docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stages.keySet == Set("a_raw", "b_exact_dedup", "c_near_dup",
      "d_containment", "e_span_cut", "f_quality"))
    // 30 originals (ids 3,16,29 get the 55-token boilerplate tail) + 3
    // exact + 6 trunc + 4 excerpt
    assert(stages("a_raw")._1 == 43L)
    assert(stages("b_exact_dedup")._1 == 40L)
    val c = stages("c_near_dup")._1
    assert(c >= 34L && c <= 40L, s"near-dup survivors out of range: $c")
    // containment is also the safety net for stage-c's LSH misses: a
    // truncated half that escaped candidacy is still 100%-contained in its
    // original, so EVERY non-original survivor falls here — the stage
    // lands on exactly the 30 originals no matter what LSH recall was
    assert(stages("d_containment")._1 == 30L,
      "all excerpts + LSH-escaped truncated halves must fall at containment")
    // the containment stage drops whole docs, never trims: its token loss
    // is the excerpts' own words (60/5 = 12 each) plus 30 words per
    // escaped truncated half
    assert(stages("c_near_dup")._2 - stages("d_containment")._2 ==
      4L * 12L + (c - 34L) * 30L)
    // the span stage drops no docs here (the 55-token boilerplate run is
    // trimmed in place, never below the 20-token floor)
    assert(stages("e_span_cut")._1 == stages("d_containment")._1)
    assert(stages("f_quality")._1 <= stages("e_span_cut")._1)
    spark.catalog.clearCache()
  }

  test("containmentDrops: corpus-wide boilerplate is excluded by the hot-shingle cut") {
    import spark.implicits._
    // 40 docs: 2 unique lead words + the same 40-token boilerplate. Raw
    // shingle containment between any two docs is ~36/38 > 0.8 — without
    // the hot cut the stage would wrongly cannibalize the whole corpus.
    // Every boilerplate shingle sits in all 40 docs (df 100% > 5%), so the
    // cool measure sees only each doc's unique lead shingles: no drops.
    val bp = (1 to 40).map(i => s"bp$i").mkString(" ")
    val docs = (1 to 40).map(i => (i.toLong, s"lead${i}a lead${i}b " + bp))
      .toDF("id", "text")
    assert(DedupQueries.containmentDrops(docs).collect().isEmpty)
    // inverse control: the same quote-inclusion shape between just TWO
    // docs (df = 2 of 42 docs, under the cap) IS dropped — and it is the
    // excerpt (fewer cool shingles) that goes, not the original
    val orig = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")
    val filler = (1 to 40).map(i => (100L + i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f"))
    val two = (Seq((1L, orig), (2L, excerpt)) ++ filler).toDF("id", "text")
    assert(DedupQueries.containmentDrops(two).collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    spark.catalog.clearCache()
  }

  test("driver-local containment kernel == distributed operator on 10 random corpora") {
    import spark.implicits._
    // the ingest guard's small-batch kernel and the funnel's distributed
    // operator implement ONE contract — hold them equal on corpora mixing
    // excerpts (planted subsets), shared boilerplate (hot shingles), and
    // unrelated docs
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "m")
    for (seed <- 0 until 10) {
      val rnd = new Random(100 + seed)
      val nDocs = 6 + rnd.nextInt(10)
      val bp = Seq.fill(10)(vocab(rnd.nextInt(vocab.size)))
      val raw = (0 until nDocs).map { i =>
        val body = Seq.fill(20 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, if (i % 3 == 0) body ++ bp else body)
      }
      val planted = raw ++ raw.filter(_._1 % 2 == 0).map { case (id, ws) =>
        (id + 1000L, ws.take(math.max(8, ws.size / 5)))
      }
      val docs = planted.map { case (id, ws) => (id, ws.mkString(" ")) }
      val distributed = DedupQueries.containmentDrops(docs.toDF("id", "text"))
        .collect().map(_.getLong(0)).toSet
      // fed exactly as the ingest guard feeds it: the codegen'd distinct-
      // shingle expression, collected
      val local = DedupQueries.containmentDropIdsLocal(
        docs.toDF("id", "text").select(col("id"),
            org.apache.spark.sql.graft.ArrayExpressions.shingleHashes(
              col("text"), 5).as("hs"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq)
      assert(local == distributed,
        s"seed=$seed kernel=$local distributed=$distributed")
      spark.catalog.clearCache()
    }
  }

  test("containmentDropsAdaptive routes both ways to the same answer") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val rnd = new Random(7)
    val raw = (0 until 12).map { i =>
      (i.toLong, Seq.fill(30 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))))
    }
    val planted = raw ++ raw.filter(_._1 % 2 == 0).map { case (id, ws) =>
      (id + 1000L, ws.take(math.max(8, ws.size / 5)))
    }
    val docs = planted.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("id", "text")
    val viaLocal = Route.forcing(Route.Docs -> 1000L)(
      DedupQueries.containmentDropsAdaptive(docs).collect().map(_.getLong(0)).toSet)
    // a bound below the corpus size forces the distributed fallback
    val viaDistributed = Route.forcing(Route.Docs -> 3L)(
      DedupQueries.containmentDropsAdaptive(docs).collect().map(_.getLong(0)).toSet)
    assert(viaLocal == viaDistributed)
    assert(viaLocal == DedupQueries.containmentDrops(docs)
      .collect().map(_.getLong(0)).toSet)
    spark.catalog.clearCache()
  }
}
