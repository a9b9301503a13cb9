package graft.queries

import graft.SparkSpec

/** The managed-lifetime contract (r15 verdict item 4): composing multiple
  * cached-body queries in ONE session must leave no pinned Dataset cache
  * behind — no clearCache() obligation on the caller. Small-aggregate
  * bodies materialize eagerly and unpersist their pins (SmallResult);
  * the funnel's corpus-sized boundaries release via
  * CurationQueries.releaseStages().
  */
class CacheLifetimeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 60L).map { i =>
    (i, s"src${i % 3}", s"the quick data value ${i % 7} brown fox jumps " +
      s"over the lazy dog number $i of and a")
  }.toDF("doc_id", "source", "text")

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("two small-result queries compose with storage back at baseline") {
    spark.catalog.clearCache() // a prior suite's pins are not this test's
    val savings = DedupQueries.dedupTokenSavings(docs).collect()
    assert(savings.nonEmpty)
    val cov = TextAnalytics.vocabCoverage(docs.select($"doc_id", $"text")).collect()
    assert(cov.nonEmpty)
    val pmi = TextAnalytics.pmiCollocations(docs.select($"doc_id", $"text")).collect()
    assert(pmi.nonEmpty)
    val bp = TextAnalytics.boilerplateNgrams(docs.select($"doc_id", $"text")).collect()
    assert(bp.nonEmpty)
    // NO clearCache() between or after the queries — the bodies released
    // their own pins (base / vocab / uni+c2 / bb+freq)
    assert(cacheEmpty,
      "composed small-result queries left pinned Dataset caches behind")
  }

  test("scoped releaseStages drops only its (session, dir) instance") {
    val dirA = "/root/testdata/sf0.001"
    val dirB = "/root/testdata/sf0.01"
    val a = CurationQueries.stagesFor(spark, dirA)
    val b = CurationQueries.stagesFor(spark, dirB)
    CurationQueries.releaseStages(spark, dirA)
    // dirB's instance survives a scoped release of dirA (the r16 ADVICE
    // failure mode: MakeFunnel's global release yanked every dir's
    // caches); dirA itself rebuilds fresh on next access
    assert(CurationQueries.stagesFor(spark, dirB) eq b)
    assert(!(CurationQueries.stagesFor(spark, dirA) eq a))
    CurationQueries.releaseStages()
  }

  test("IVF-family queries compose with storage back at baseline") {
    spark.catalog.clearCache()
    val dir = "/root/testdata/sf0.001"
    // three bodies that each fan a shared relation into several consumers
    // (assignment into both self-join sides, prep into train + join): the
    // reuse comes from eager localCheckpoint leaves, never a pinned cache
    val pairs = graft.SparkEntry.queries("q_embed_cosine_pairs_ivf")(spark, dir)
    assert(pairs.count() >= 0)
    val sem = graft.SparkEntry.queries("q_semdedup")(spark, dir)
    assert(sem.count() > 0)
    val cs = graft.SparkEntry.queries("q_cluster_sample")(spark, dir)
    assert(cs.count() > 0)
    assert(cacheEmpty,
      "composed IVF queries left pinned Dataset caches behind")
  }

  test("shared funnel stages release via releaseStages, results stay live") {
    spark.catalog.clearCache()
    val dir = "/root/testdata/sf0.001"
    val dedup = graft.SparkEntry.queries("q_funnel_stage_dedup")(spark, dir)
    val n1 = dedup.count()
    // second stage reuses the SAME shared instance — the dedup boundary
    // is not recomputed (can't assert timing here; parity + release are)
    val surv2 = graft.SparkEntry.queries("q_funnel_stage_neardup")(spark, dir)
    val n2 = surv2.count()
    assert(n1 > 0 && n2 > 0 && n2 <= n1)
    CurationQueries.releaseStages()
    assert(cacheEmpty, "releaseStages left pinned Dataset caches behind")
    // checkpoint-leaf results remain usable after release
    assert(surv2.count() === n2)
    // single-query bodies that cache an intermediate release it themselves
    for (q <- Seq("q_corpus_curation", "q_multisignal_dedup")) {
      assert(graft.SparkEntry.queries(q)(spark, dir).count() >= 0)
      assert(cacheEmpty, s"$q left a pinned Dataset cache behind")
    }
  }
}
