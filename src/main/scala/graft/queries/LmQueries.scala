package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Num, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Language-model-based curation filters — the CCNet-shaped passes a
  * training-data pipeline runs AFTER dedup: an n-gram LM perplexity
  * filter (Wenzek et al. 2020 score CommonCrawl against a reference-domain
  * KenLM and keep the low-perplexity head) and a trained linear text
  * classifier (the GPT-3 / fastText quality-filter shape: score every doc
  * against a model fit on a labeled seed set).
  *
  * Both operators share one scale shape: the MODEL is a dictionary-sized
  * count table (vocab or vocab² rows — KBs even for real corpora, since
  * the model vocabulary is capped), built with one map-side-combined
  * groupBy over the train slice, then BROADCAST; scoring is a map-only
  * equijoin of the token stream against the model plus a per-doc sum. At
  * 100 TB the corpus tokenizes once, nothing wider than the model tables
  * ever shuffles, and the scoring pass parallelizes embarrassingly.
  *
  * Everything is engine-exact against the DuckDB oracle: same `\s+`
  * tokenization, same add-one smoothing arithmetic, per-doc float sums
  * compared at `Num.r4` rounding, and every keep/predict decision derives
  * from the ROUNDED score so the boundary cannot fork between engines.
  */
object LmQueries {

  /** Stupid-Backoff discount (Brants et al. 2007 use 0.4). Exact in
    * binary floating point on both engines.
    */
  private val Alpha = 0.4

  /** Train slice for the bigram LM: docs with id % TrainMod == 0 stand in
    * for CCNet's out-of-domain reference corpus. 10% leaves ~4% of the
    * full corpus's bigram occurrences unseen, so the backoff path
    * genuinely fires (TrainMod=2 would cover all but ~7 occurrences).
    */
  private val TrainMod = 10

  /** Perplexity keep-threshold: the corpus's backoff ppl spans ~23..56
    * with median ~35, so 40 keeps the head and drops the worst tail —
    * the CCNet head/tail split shape. Applied to the ROUNDED ppl.
    */
  private val PplKeep = 40.0

  /** Labeled seed slice for the classifier (doc_id % 3 == 0) and the
    * target class (lang = 'en', the corpus's separable label — the same
    * role language plays in CCNet's fastText filter).
    */
  private val LabelMod = 3
  private val TargetLang = "en"

  private val wsSql = TextOps.wordsSql("text")

  val defs: Seq[QueryDef] = Seq(

    // Bigram LM with Stupid Backoff, trained on a 10% reference slice and
    // scoring EVERY doc (CCNet's perplexity filter re-expressed): token 1
    // scores under the add-one unigram; token i>1 scores c2(w1,w2)/c1(w1)
    // when the train model saw the bigram, else alpha * add-one-unigram
    // of w2 (the OOV-safe backoff terminal). kept = rounded ppl <= 40.
    QueryDef(
      "q_bigram_logprob",
      s"""WITH t AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |wpos AS (SELECT doc_id, unnest(ws) AS w FROM t),
         |c1 AS (
         |  SELECT w, count(*) AS c1 FROM wpos
         |  WHERE doc_id % $TrainMod = 0 GROUP BY w),
         |tv AS (
         |  SELECT (SELECT CAST(COALESCE(sum(c1), 0) AS BIGINT) FROM c1) AS t,
         |         (SELECT count(DISTINCT w) FROM wpos) AS v),
         |bgx AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM t),
         |bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bgx),
         |c2 AS (
         |  SELECT w1, w2, count(*) AS c2 FROM bg
         |  WHERE doc_id % $TrainMod = 0 GROUP BY w1, w2),
         |sbg AS (
         |  SELECT bg.doc_id,
         |         CASE WHEN c2.c2 IS NOT NULL THEN ln(c2.c2 * 1.0 / ca.c1)
         |              ELSE ln($Alpha * (COALESCE(cb.c1, 0) + 1.0) / (tv.t + tv.v))
         |         END AS lp
         |  FROM bg
         |  LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
         |  LEFT JOIN c1 ca ON ca.w = bg.w1
         |  LEFT JOIN c1 cb ON cb.w = bg.w2, tv),
         |s1 AS (
         |  SELECT f.doc_id,
         |         ln((COALESCE(c1.c1, 0) + 1.0) / (tv.t + tv.v)) AS lp
         |  FROM (SELECT doc_id, ws[1] AS w FROM t) f
         |  LEFT JOIN c1 ON c1.w = f.w, tv),
         |alls AS (SELECT doc_id, lp FROM sbg UNION ALL SELECT doc_id, lp FROM s1),
         |doc AS (
         |  SELECT doc_id, count(*) AS n_words,
         |         ${Num.r4Sql("avg(lp)")} AS avg_logp,
         |         ${Num.r4Sql("exp(-avg(lp))")} AS ppl
         |  FROM alls GROUP BY doc_id)
         |SELECT doc_id, n_words, avg_logp, ppl, ppl <= $PplKeep AS kept
         |FROM doc""".stripMargin) { (s, dir) =>
      bigramLogprob(Tables.documents(s, dir))
    },

    // Trained linear quality/domain classifier (multinomial NB log-odds —
    // exactly a linear model over token counts, the fastText/GPT-3 filter
    // shape): fit on the labeled seed slice, applied corpus-wide. The
    // prediction derives from the ROUNDED log-odds so the decision
    // boundary is engine-exact; is_target rides along so the output is
    // simultaneously the filter verdict and its own eval table.
    QueryDef(
      "q_classifier_filter",
      s"""WITH wpos AS (
         |  SELECT doc_id, lang, unnest($wsSql) AS w FROM documents),
         |tr AS (SELECT * FROM wpos WHERE doc_id % $LabelMod = 0),
         |cp AS (SELECT w, count(*) AS cp FROM tr WHERE lang = '$TargetLang' GROUP BY w),
         |cn AS (SELECT w, count(*) AS cn FROM tr WHERE lang != '$TargetLang' GROUP BY w),
         |tv AS (
         |  SELECT (SELECT CAST(COALESCE(sum(cp), 0) AS BIGINT) FROM cp) AS tp,
         |         (SELECT CAST(COALESCE(sum(cn), 0) AS BIGINT) FROM cn) AS tn,
         |         (SELECT count(DISTINCT w) FROM wpos) AS v),
         |nd AS (
         |  SELECT CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |         CAST(sum(CASE WHEN lang != '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS nn
         |  FROM documents WHERE doc_id % $LabelMod = 0),
         |wt AS (
         |  SELECT vv.w,
         |         ln((COALESCE(cp.cp, 0) + 1.0) / (tv.tp + tv.v))
         |           - ln((COALESCE(cn.cn, 0) + 1.0) / (tv.tn + tv.v)) AS lw
         |  FROM (SELECT DISTINCT w FROM wpos) vv
         |  LEFT JOIN cp ON cp.w = vv.w
         |  LEFT JOIN cn ON cn.w = vv.w, tv),
         |sc AS (
         |  SELECT doc_id, lang, count(*) AS n_words, sum(lw) AS s
         |  FROM wpos JOIN wt ON wt.w = wpos.w GROUP BY doc_id, lang)
         |SELECT sc.doc_id, sc.lang, sc.n_words,
         |       ${Num.r4Sql("sc.s + ln(nd.np * 1.0 / nd.nn)")} AS nb_logodds,
         |       ${Num.r4Sql("sc.s + ln(nd.np * 1.0 / nd.nn)")} > 0 AS pred_target,
         |       sc.lang = '$TargetLang' AS is_target
         |FROM sc, nd""".stripMargin) {
      (s, dir) => classifierFilter(Tables.documents(s, dir))
    })

  /** q_bigram_logprob body over an arbitrary documents relation. Model
    * tables c1/c2 are train-slice-sized dictionaries — broadcast; the
    * scoring unions the first-token stream with the bigram stream and
    * reduces per doc.
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    // tokenize ONCE: five streams (train unigrams, train bigrams, vocab,
    // the scored bigram stream, first tokens) all derive from this cached
    // projection — without it the corpus text re-scans and re-splits five
    // times (the q_tfidf_top_terms round-6 lesson). At 100 TB this is the
    // tokenized corpus checkpoint every multi-pass curation stage shares.
    val t = docs.select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .cache()
    val wpos = t.select(col("doc_id"), explode(col("ws")).as("w"))
    // c1 feeds FOUR plan branches (tv's sum, both backoff broadcasts, the
    // first-token join) and tv two (sbg, s1) — as lazy subtrees each
    // consumer re-exploded the cached corpus and re-ran the groupBy (the
    // physical plan carried four copies of the c1 exchange, and tv's
    // corpus-wide countDistinct ran twice). Both results are
    // dictionary-sized: cache them (lazy, like `t` above — an eager
    // checkpoint here would serialize the plan into extra job barriers
    // and strip the stats AQE uses) so each computes once per run.
    val c1 = wpos.filter(col("doc_id") % TrainMod === 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .cache()
    val tv = c1.agg(coalesce(sum(col("c1")), lit(0L)).cast("long").as("t"))
      .crossJoin(wpos.agg(countDistinct(col("w")).as("v")))
      .cache()
    // bigram stream built map-side (zip of the token array with its own
    // tail) — no shuffle, no positional self-join
    val pairs = zip_with(
      slice(col("ws"), lit(1), size(col("ws")) - 1),
      slice(col("ws"), lit(2), size(col("ws")) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bg = t.select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bg.filter(col("doc_id") % TrainMod === 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val sbg = bg
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1.toDF("w1", "c1a")), Seq("w1"), "left")
      .join(broadcast(c1.toDF("w2", "c1b")), Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      .select(col("doc_id"),
        when(col("c2").isNotNull, log(col("c2") * 1.0 / col("c1a")))
          .otherwise(log(lit(Alpha) * (coalesce(col("c1b"), lit(0L)) + 1.0)
            / (col("t") + col("v")))).as("lp"))
    val s1 = t.select(col("doc_id"), element_at(col("ws"), 1).as("w"))
      .join(broadcast(c1), Seq("w"), "left")
      .crossJoin(broadcast(tv))
      .select(col("doc_id"),
        log((coalesce(col("c1"), lit(0L)) + 1.0) / (col("t") + col("v"))).as("lp"))
    val ppl = Num.r4(exp(-avg(col("lp"))))
    sbg.unionByName(s1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        Num.r4(avg(col("lp"))).as("avg_logp"),
        ppl.as("ppl"))
      .withColumn("kept", col("ppl") <= PplKeep)
  }

  /** q_classifier_filter body over an arbitrary documents relation. The
    * weight table is vocab-sized (broadcast); scoring is one equijoin +
    * per-doc sum.
    */
  def classifierFilter(docs: DataFrame): DataFrame = {
    // tokenize ONCE (see bigramLogprob): class counts, vocab, doc counts,
    // and the scoring stream all reuse this cached projection
    val base = docs.select(col("doc_id"), col("lang"),
      TextOps.words(col("text")).as("ws")).cache()
    val wpos = base.select(col("doc_id"), col("lang"),
      explode(col("ws")).as("w"))
    val train = wpos.filter(col("doc_id") % LabelMod === 0)
    // cp/cn each feed two branches (tv's totals + wt) and the corpus vocab
    // feeds two (tv's |V| + wt's row set) — lazy, every consumer re-ran the
    // class-count groupBy over the cached corpus (the bigramLogprob c1
    // shape). All three are dictionary-sized: cache them (lazy, like
    // `base` above) so each computes once per run.
    val cp = train.filter(col("lang") === TargetLang)
      .groupBy(col("w")).agg(count(lit(1)).as("cp"))
      .cache()
    val cn = train.filter(col("lang") =!= TargetLang)
      .groupBy(col("w")).agg(count(lit(1)).as("cn"))
      .cache()
    val vv = wpos.select(col("w")).distinct().cache()
    val tv = cp.agg(coalesce(sum(col("cp")), lit(0L)).cast("long").as("tp"))
      .crossJoin(cn.agg(coalesce(sum(col("cn")), lit(0L)).cast("long").as("tn")))
      .crossJoin(vv.agg(count(lit(1)).as("v")))
    val nd = base.filter(col("doc_id") % LabelMod === 0)
      .agg(sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") === TargetLang, 0L).otherwise(1L)).as("nn"))
    val wt = vv
      .join(broadcast(cp), Seq("w"), "left")
      .join(broadcast(cn), Seq("w"), "left")
      .crossJoin(broadcast(tv))
      .select(col("w"),
        (log((coalesce(col("cp"), lit(0L)) + 1.0) / (col("tp") + col("v")))
          - log((coalesce(col("cn"), lit(0L)) + 1.0) / (col("tn") + col("v"))))
          .as("lw"))
    // lang rides through the aggregation (functionally dependent on
    // doc_id) — joining scores back to `documents` for it would be a
    // doc-sized shuffle join for one column
    val sc = wpos.join(broadcast(wt), Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("lw")).as("s"))
    val logodds = Num.r4(col("s") + log(col("np") * 1.0 / col("nn")))
    sc.crossJoin(broadcast(nd))
      .select(col("doc_id"), col("lang"), col("n_words"),
        logodds.as("nb_logodds"),
        (logodds > 0).as("pred_target"),
        (col("lang") === TargetLang).as("is_target"))
  }
}
