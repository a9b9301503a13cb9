package graft.queries

import graft.SparkSpec
import graft.operators.Route
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** The pairwise-dedup driver kernels (minhashLsh / ngramJaccard /
  * lshRecall / incrementalDedup / multisignalPairs / containmentPairs)
  * and their distributed plans implement ONE contract each — hold the two
  * routes equal on randomized corpora with planted near-dups, truncations
  * and excerpts (the SpanRouteSpec discipline). The kernels return integer
  * evidence only, so any drift here would be in pair GENERATION, exactly
  * what these assertions pin.
  */
class DedupRouteParitySpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int): DataFrame = {
    val rnd = new Random(2300 + seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa")
    val originals = (0 until 25 + rnd.nextInt(15)).map { i =>
      val ws = Seq.fill(15 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, ws)
    }
    val variants = originals.flatMap { case (i, ws) =>
      rnd.nextInt(4) match {
        case 0 => Seq((i + 1000L, ws.take(math.max(6, ws.length / 2)))) // truncation
        case 1 => Seq((i + 2000L, ws))                                   // verbatim copy
        case 2 => Seq((i + 3000L, ws.take(math.max(6, ws.length / 5)))) // excerpt
        case _ => Nil
      }
    }
    (originals ++ variants)
      .map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("id", "text")
  }

  private def canon(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).map(_.toSeq).toSet

  /** The distributed route: `Route.Docs` forced to 0 while the body
    * decides its route (every probe runs eagerly inside the call).
    */
  private def distributed(df: => DataFrame): DataFrame =
    Route.forcing(Route.Docs -> 0L)(df)

  test("minhashLsh: local kernel == distributed route") {
    for (seed <- 0 until 5) {
      val d = corpus(seed)
      assert(canon(DedupQueries.minhashLsh(spark, d)) ==
        canon(distributed(DedupQueries.minhashLsh(spark, d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("ngramJaccard: local kernel == distributed route") {
    for (seed <- 5 until 10) {
      val d = corpus(seed)
      assert(canon(DedupQueries.ngramJaccard(spark, d)) ==
        canon(distributed(DedupQueries.ngramJaccard(spark, d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("lshRecall: local kernel == distributed route") {
    for (seed <- 10 until 15) {
      val d = corpus(seed)
      assert(canon(DedupQueries.lshRecall(spark, d)) ==
        canon(distributed(DedupQueries.lshRecall(spark, d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("incrementalDedup: local kernel == distributed route") {
    for (seed <- 15 until 20) {
      val d = corpus(seed)
      val base = d.filter($"id" < 1000L)
      val batch = d.filter($"id" >= 1000L)
      assert(canon(DedupQueries.incrementalDedup(spark, base, batch)) ==
        canon(distributed(DedupQueries.incrementalDedup(spark, base, batch))),
        s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("multisignalPairs: local kernel == distributed route") {
    for (seed <- 20 until 25) {
      val d = corpus(seed)
      assert(canon(DedupQueries.multisignalPairs(spark, d)) ==
        canon(distributed(DedupQueries.multisignalPairs(spark, d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("containmentPairs: local kernel == distributed route") {
    for (seed <- 25 until 30) {
      val d = corpus(seed)
      assert(canon(DedupQueries.containmentPairs(d)) ==
        canon(distributed(DedupQueries.containmentPairs(d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("contamination / decontamTrain: local kernel == distributed route") {
    for (seed <- 30 until 34) {
      val d = corpus(seed)
        .select($"id".as("doc_id"), $"text")
      assert(canon(CurationQueries.contamination(d)) ==
        canon(distributed(CurationQueries.contamination(d))), s"seed=$seed")
      assert(canon(CurationQueries.decontamTrain(d)) ==
        canon(distributed(CurationQueries.decontamTrain(d))), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("sourceSimilarity: local kernel == distributed route") {
    for (seed <- 34 until 38) {
      val d = corpus(seed)
        .select($"id".as("doc_id"), $"text",
          concat(lit("src"), pmod($"id", lit(5L)).cast("string")).as("source"))
      assert(canon(DedupQueries.sourceSimilarity(spark, d)) ==
        canon(Route.forcing(Route.SourceRows -> 0L)(
          DedupQueries.sourceSimilarity(spark, d))),
        s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("pair-budget overflow falls back to the distributed route (None, no crash)") {
    // 60 identical docs: every pair shares every shingle — budget 10 is
    // exceeded for both generators, so kernels must decline, and the
    // query bodies must still produce the distributed answer
    val d = (0 until 60).map(i =>
      (i.toLong, "same words repeated for every document here ok")).toDF("id", "text")
    val viaTinyBudget = DedupQueries.minhashLsh(spark, d)
    val viaDistributed = distributed(DedupQueries.minhashLsh(spark, d))
    assert(canon(viaTinyBudget) == canon(viaDistributed))
    spark.catalog.clearCache()
  }
}
