package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.operators.Route

/** Every registered query that reaches a `Route` probe, run on the
  * sf0.001 tables twice: once with the default bounds (the driver kernels
  * at this size) and once with every bound forced to 0 (every
  * distributed plan). The two results must be the same row multiset —
  * the real-data counterpart of the randomized route-parity specs, and
  * the only place the registered queries' distributed routes run on the
  * testdata documents.
  */
class BothRoutesSpec extends SparkSpec {

  /** The smallest TESTDATA.md tier (sf0.001), under the home directory. */
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  /** The registered queries whose bodies call a routed function
    * (DedupQueries' pairwise kernels, verifiedClusters,
    * containmentDropsAdaptive, spanSurvivors, sourceSimilarity, the
    * contamination pair, identityPagerank, Bpe.train and adaptive CC).
    */
  private val Routed = Seq(
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_dedup_lsh_recall",
    "q_dedup_containment", "q_dedup_clusters", "q_dedup_survivors",
    "q_dedup_keeper_quality", "q_dedup_incremental", "q_dedup_span_survivors",
    "q_source_similarity", "q_multisignal_dedup_lsh",
    "q_split_leakage_safe", "q_train_eval_contamination", "q_decontam_train",
    "q_curation_funnel", "q_funnel_stage_neardup", "q_funnel_stage_containment",
    "q_funnel_stage_span", "q_funnel_stage_quality",
    "q_identity_components", "q_identity_pagerank",
    "q_bpe_merges", "q_bpe_vocab", "q_bpe_token_count")

  /** No (user, key) pair reaches the 5-event edge cut in the sf0.001
    * events, so both identity graphs are empty here and their comparison
    * is vacuous; PagerankSpec and OperatorsSpec hold those routes equal on
    * generated graphs.
    */
  private val EmptyAtThisScale = Set("q_identity_components", "q_identity_pagerank")

  /** Row multiset of one run. Every route decision is an eager probe made
    * while the query body builds its plan, so the bounds in force during
    * this call are the ones its routes saw. The funnel's shared stage
    * leaves are released afterwards so the next run recomputes them.
    */
  private def rows(q: String): Map[Seq[String], Int] =
    try SparkEntry.queries(q)(spark, dir).collect().toSeq
      .map(_.toSeq.map(String.valueOf))
      .groupBy(identity).map { case (r, n) => r -> n.size }
    finally {
      CurationQueries.releaseStages()
      spark.catalog.clearCache()
    }

  for (q <- Routed) test(s"$q: default routes == every bound forced to 0") {
    val byDefault = rows(q)
    val distributed = Route.forcing(Route.All.map(_ -> 0L): _*)(rows(q))
    assert(byDefault.isEmpty == EmptyAtThisScale(q), s"$q: ${byDefault.size} distinct rows")
    assert(byDefault == distributed,
      s"$q: only default ${byDefault.toSet -- distributed.toSet}; " +
        s"only forced ${distributed.toSet -- byDefault.toSet}")
  }
}
