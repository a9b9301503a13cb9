package graft.queries

import graft.SparkSpec
import graft.operators.Route
import scala.util.Random

/** The three `verifiedClusters` routes — the full-local LSH kernel
  * (bounded docs: one shingle collect, signatures/banding/cap/verify/CC
  * all on the driver), the pair-probe local verify, and the distributed
  * verify (exact Jaccard joins + adaptive CC) — implement ONE contract.
  * Hold them equal on randomized corpora mixing truncated near-dups
  * (Jaccard ~0.5), shared boilerplate, and unrelated docs, so no bounded
  * fast path can drift from the oracle-gated distributed plan.
  */
class VerifiedClustersAdaptiveSpec extends SparkSpec {

  /** The three routes, chosen by the bounds in force: `maxDocs` gates the
    * full-local kernel, `maxPairs` the pair-probe local verify.
    */
  private def via[T](maxPairs: Long, maxDocs: Long = 0L)(body: => T): T =
    Route.forcing(Route.VerifyPairs -> maxPairs, Route.Docs -> maxDocs)(body)

  private def clustersVia(docs: org.apache.spark.sql.DataFrame,
                          maxPairs: Long,
                          maxDocs: Long = 0L): Map[Long, Long] =
    via(maxPairs, maxDocs)(DedupQueries.verifiedClusters(spark, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  test("full-local LSH kernel == distributed route on 8 random corpora") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
      "k", "m", "n", "p", "q", "r")
    for (seed <- 0 until 8) {
      val rnd = new Random(800 + seed)
      val nDocs = 12 + rnd.nextInt(12)
      val bp = Seq.fill(8)(vocab(rnd.nextInt(vocab.size)))
      val raw = (0 until nDocs).map { i =>
        val body = Seq.fill(15 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, if (i % 4 == 0) body ++ bp else body)
      }
      val planted = raw ++ raw.filter(_._1 % 3 == 0).map { case (id, ws) =>
        (id + 1000L, ws.take(math.max(6, ws.size / 2)))
      }
      val docs = planted.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("id", "text")
      val viaFullLocal = clustersVia(docs, maxPairs = 0, maxDocs = 100000)
      val viaDistributed = clustersVia(docs, maxPairs = 0)
      assert(viaFullLocal == viaDistributed, s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("candidatePairsLocal refuses enumeration past the pair budget") {
    // 60 identical docs share every band bucket: the budget counts RAW
    // per-bucket enumeration (Bands x 60*59/2 = 10620 here) because that
    // is the work/memory bound; the returned distinct set is 1770
    val docs = (0 until 60).map(i => (i.toLong, Seq(1L, 2L, 3L, 4L, 5L, 6L)))
    import graft.operators.Dedup
    assert(Dedup.candidatePairsLocal(docs, None, pairBudget = 100L).isEmpty)
    assert(Dedup.candidatePairsLocal(docs, None, pairBudget = 10000L).isEmpty)
    val full = Dedup.candidatePairsLocal(docs, None, pairBudget = 20000L)
    assert(full.exists(_.size == 1770))
    // and the verifiedClusters route survives the refusal end-to-end
    // (falls to the distributed verify, same answer) — exercised by the
    // route-parity tests below via Route.Docs routing
  }

  test("local verify route == distributed verify route on 8 random corpora") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
      "k", "m", "n", "p", "q", "r")
    for (seed <- 0 until 8) {
      val rnd = new Random(300 + seed)
      val nDocs = 12 + rnd.nextInt(12)
      val bp = Seq.fill(8)(vocab(rnd.nextInt(vocab.size)))
      val raw = (0 until nDocs).map { i =>
        val body = Seq.fill(15 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, if (i % 4 == 0) body ++ bp else body)
      }
      // truncated near-dup copies of every 3rd doc — verified-pair material
      val planted = raw ++ raw.filter(_._1 % 3 == 0).map { case (id, ws) =>
        (id + 1000L, ws.take(math.max(6, ws.size / 2)))
      }
      val docs = planted.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("id", "text")
      val viaLocal = clustersVia(docs, maxPairs = 100000)
      val viaDistributed = clustersVia(docs, maxPairs = 0)
      assert(viaLocal == viaDistributed, s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("bucket cap applies identically on both routes") {
    import spark.implicits._
    // many docs sharing one boilerplate passage: the capped candidate set
    // must drive both routes to the same (reduced) cluster set
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = (0 until 30).map { i =>
      (i.toLong, s"$shared body${i % 3} t$i u$i v$i w$i x$i y$i z$i")
    }.toDF("id", "text")
    val capped = Some(5)
    def clusters() = DedupQueries.verifiedClusters(spark, docs, capped)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaFullLocal = via(maxPairs = 0, maxDocs = 100000)(clusters())
    val viaLocal = via(maxPairs = 100000, maxDocs = 0)(clusters())
    val viaDistributed = via(maxPairs = 0, maxDocs = 0)(clusters())
    assert(viaLocal == viaDistributed)
    assert(viaFullLocal == viaDistributed)
    spark.catalog.clearCache()
  }
}
