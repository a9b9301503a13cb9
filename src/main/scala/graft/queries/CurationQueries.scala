package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Num, Route, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset-curation operators for a training-data pipeline: deterministic
  * hash-based sampling and train/valid/test splitting. Both derive the
  * decision from a salted content-independent hash of the stable doc id —
  * no RNG state, so the sample is reproducible on any engine, any
  * partitioning, any cluster size (the property `rand(seed)` does NOT
  * have across engines), and membership is stable under re-runs and
  * appends. At 100 TB both are a narrow codegen'd filter/projection over
  * the scan — no shuffle at all.
  */
object CurationQueries {

  private val SampleSalt = "smp"
  private val SplitSalt = "spl"
  private val BalanceSalt = "bal"
  private val MixSalt = "mix"
  private val EpochSalt = "epo"
  private val PrioSalt = "pri"

  /** Sample size per source for q_weighted_sample (priority sampling). */
  private val PrioK = 10

  /** THE 80/10/10 salted split rule — one implementation for every
    * surface that assigns train/valid/test (q_hash_split,
    * q_corpus_curation, q_split_leakage_safe, contamination,
    * decontamination): a boundary edited in one hand-rolled copy would
    * silently fork e.g. decontamination's test set from the split
    * manifest q_hash_split reports.
    */
  private[queries] def splitSql(expr: String): String =
    s"""CASE WHEN ${TextOps.hash64Sql(s"concat('$SplitSalt', $expr)")} % 100 < 80 THEN 'train'
       |     WHEN ${TextOps.hash64Sql(s"concat('$SplitSalt', $expr)")} % 100 < 90 THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  private[queries] def splitCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = TextOps.hash64(concat(lit(SplitSalt), c)) % 100
    when(h < 80, "train").when(h < 90, "valid").otherwise("test")
  }

  /** Priority sampling (DLT) over (source, doc_id, n_chars) — the
    * q_weighted_sample body, factored so the spec can drive synthetic
    * corpora through the exact production plan (see the QueryDef comment
    * for semantics and the 100 TB shape).
    */
  def prioritySample(docs: DataFrame, k: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = TextOps.hash64(concat(lit(salt), col("doc_id"))) % 1000000L + 1L
    val byP = Window.partitionBy(col("source")).orderBy(col("p").desc, col("doc_id"))
    val bySource = Window.partitionBy(col("source"))
    docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        (col("n_chars").cast("double") / u).as("p"))
      .withColumn("rn", row_number().over(byP))
      .filter(col("rn") <= k + 1)
      .withColumn("tau",
        max(when(col("rn") === k + 1, col("p")).otherwise(lit(0.0)))
          .over(bySource))
      .filter(col("rn") <= k)
      .select(col("source"), col("doc_id"), col("n_chars"),
        Num.r4(col("p")).as("priority"),
        Num.r4(greatest(col("n_chars").cast("double"), col("tau"))).as("w_hat"))
  }

  /** Funnel variant-corpus id offsets (distinct so an id hit by both the
    * %10 exact-copy and %5 truncation rules stays unique).
    */
  private[queries] val FunnelExactOff = 100000L
  private[queries] val FunnelTruncOff = 200000L
  private[queries] val FunnelExcerptOff = 300000L

  /** 55 unique boilerplate tokens appended IN PLACE to every 13th doc of
    * the funnel corpus: boilerplated docs share a 55-token verbatim run
    * (>= the 50-token cut) while their pairwise Jaccard stays ~50/(n1+n2+50)
    * — under the 0.35 near-dup threshold for typical doc lengths — so they
    * SURVIVE the near-dup stage and get trimmed by the span stage. This is
    * precisely the shared-boilerplate case ExactSubstr dedup exists for
    * (near-dup clustering can't see it, span cutting can).
    */
  private[queries] val FunnelBp = (1 to 55).map(i => s"bp$i").mkString(" ")

  /** The q_text_quality score as a rounded Column over `text` — shared by
    * the curation manifest and the funnel so the cut lives in one place.
    */
  private[queries] def qualityCol: org.apache.spark.sql.Column = {
    val ws = TextOps.words(col("text"))
    // native twin of size(regexp_extract_all(text, "[^A-Za-z0-9\s]"))
    // — the regex form materialized a match array per row on the
    // corpus-scan quality paths (AsciiCountsParitySpec pins equality;
    // the oracle keeps its regexp form)
    TextAnalytics.qualityScore(size(ws), TextAnalytics.stopCount(ws),
      org.apache.spark.sql.graft.ArrayExpressions.nonAlnumSpaceCount(col("text")),
      length(col("text")))
  }

  /** q_corpus_curation's LAZY plan plus its pinned intermediate — PlanSpec
    * asserts the dedup shape on this relation (the registered body
    * materializes through SmallResult, whose checkpoint leaf hides the
    * interior plan from executedPlan).
    */
  private[graft] def corpusCurationLazy(documents: DataFrame): (DataFrame, DataFrame) = {
    val ws = TextOps.words(col("text"))
    // cache: the PII inject+redact regex chain is the expensive scan
    // here, and it feeds BOTH the keeper map and the survivor side of
    // the semi-join below — one regex pass, not two
    val scrubbed = documents
      .select(col("doc_id"), col("lang"), PiiQueries.piiText.as("text"))
      .withColumn("n0", length(col("text")))
      .withColumn("text", PiiQueries.redactExpr(col("text")))
      .withColumn("chars_redacted", col("n0") - length(col("text")))
      .drop("n0")
      .cache()
    // exact dedup as groupBy(md5).min(id) + keep-list semi-join (the
    // funnel's keep1 shape, guide §2.3) instead of a row_number window
    // partitioned by md5(text): the window shuffled and sorted every
    // REDACTED TEXT byte just to rank within its hash group, while the
    // groupBy partial-aggregates map-side and shuffles only (hash, id)
    // pairs. Same keep-min-id contract (min(doc_id) == rn 1 by doc_id).
    val keep = scrubbed.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val out = scrubbed.join(keep, Seq("doc_id"), "left_semi")
      .filter(qualityCol >= 0.5)
      .select(col("lang"),
        size(ws).cast("long").as("n_tokens"),
        col("chars_redacted"),
        splitCol(col("doc_id")).as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("chars_redacted") > 0, 1L).otherwise(0L)).as("n_pii_docs"),
        sum(col("chars_redacted")).as("chars_redacted"))
    (out, scrubbed)
  }

  /** SQL twin of `qualityCol` over a text expression. */
  private def qualitySql(t: String): String =
    TextAnalytics.qualityScoreSql(s"len(${TextOps.wordsSql(t)})",
      TextAnalytics.stopCountSql(TextOps.wordsSql(t)),
      s"len(regexp_extract_all($t, '[^A-Za-z0-9\\s]'))", s"length($t)")

  val defs: Seq[QueryDef] = Seq(

    // Stratified 10% sample per language: the hash plays the role of the
    // uniform draw; stratification is just the unchanged lang column.
    QueryDef(
      "q_stratified_sample",
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${TextOps.hash64Sql(s"concat('$SampleSalt', doc_id)")} % 100 < 10""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(TextOps.hash64(concat(lit(SampleSalt), col("doc_id"))) % 100 < 10)
          .select(col("doc_id"), col("lang"))
    },

    // End-to-end curation manifest — the composed pass a pre-training data
    // pipeline runs, in production order: PII scrub FIRST (the corpus is
    // the same PII-injected variant the standalone q_pii_scan/q_pii_redact
    // audit, redacted with the same pattern chain) → exact dedup on the
    // REDACTED text (keep min id per content hash — two docs differing
    // only in stripped PII collapse, which is the point of scrubbing
    // before dedup) → quality filter (the q_text_quality score, cut at
    // 0.5 on the rounded value so the boundary is engine-exact) → salted
    // hash split → per-(lang, split) doc/token counts with the PII audit
    // (docs touched by redaction, chars removed). Map-only except the
    // dedup shuffle and the final small agg.
    QueryDef(
      "q_corpus_curation",
      s"""WITH inj AS (
         |  SELECT doc_id, lang,
         |         ${graft.queries.PiiQueries.piiTextSql} AS text
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, lang, length(text) AS n0,
         |         ${graft.queries.PiiQueries.redactSql("text")} AS text
         |  FROM inj),
         |scrub AS (
         |  SELECT doc_id, lang, text, n0 - length(text) AS chars_redacted
         |  FROM red),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id FROM scrub GROUP BY md5(text)),
         |d AS (
         |  SELECT doc_id, lang, text, chars_redacted FROM scrub
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |q AS (
         |  SELECT doc_id, lang, text, chars_redacted,
         |         len(${TextOps.wordsSql("text")}) AS n_tokens
         |  FROM d
         |  WHERE ${qualitySql("text")} >= 0.5),
         |a AS (
         |  SELECT lang, n_tokens, chars_redacted,
         |         ${splitSql("doc_id")} AS split
         |  FROM q)
         |SELECT lang, split, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(sum(CASE WHEN chars_redacted > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pii_docs,
         |       CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted
         |FROM a GROUP BY lang, split""".stripMargin) { (s, dir) =>
      // per-(lang, split) aggregate → eager SmallResult, scrubbed
      // unpersists before return
      val (out, scrubbed) = corpusCurationLazy(Tables.documents(s, dir))
      SmallResult(out, scrubbed)
    },

    // Train/valid/test split 80/10/10 with per-split doc and token counts
    // (token = whitespace word) — the split manifest a training run reads.
    QueryDef(
      "q_hash_split",
      s"""WITH assigned AS (
         |  SELECT ${splitSql("doc_id")} AS split,
         |         len(${TextOps.wordsSql("text")}) AS n_tokens
         |  FROM documents)
         |SELECT split, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM assigned GROUP BY split""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          splitCol(col("doc_id")).as("split"),
          size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    },

    // LEAKAGE-SAFE split: q_hash_split's per-doc rule, but near-dup
    // clusters move as a unit — every member takes the split of the
    // cluster REPRESENTATIVE (the numerically-smallest member, i.e. the
    // component label the clustering already emits). The naive doc-level
    // rule puts ~1/3 of near-dup copies in a different split than their
    // original (0.8²+0.1²+0.1² = 66% same-bucket odds), silently leaking
    // train text into test — the documented failure mode this operator
    // exists for; `leak_naive` marks exactly those docs. Runs over the
    // truncated-copies variant corpus so real near-dup clusters exist.
    // Unclustered docs fall back to their own id, so their assignment
    // agrees with q_hash_split verbatim (same salt). At 100 TB: the
    // cluster mapping is near-dup-sized (tiny) and broadcasts; the split
    // decision is map-side hash arithmetic over the corpus scan — the
    // funnel's LSH pass is the only real cost.
    QueryDef(
      "q_split_leakage_safe", {
        val DQ = DedupQueries
        s"""WITH RECURSIVE ${DQ.truncatedBaseSql},
           |${Dedup.shingleSql(DQ.ShingleN)},
           |${Dedup.signatureSql},
           |${Dedup.bandsSql},
           |${Dedup.candidateSql},
           |${Dedup.jaccardSql},
           |${Dedup.vpairsSql(DQ.JaccardThreshold)},
           |${Dedup.clustersSql},
           |reps AS (
           |  SELECT b.id, coalesce(c.cluster, b.id) AS rep
           |  FROM base b LEFT JOIN clusters c ON c.id = b.id)
           |SELECT id, rep, ${splitSql("rep")} AS split,
           |       (rep != id AND ${splitSql("id")} != ${splitSql("rep")})
           |         AS leak_naive
           |FROM reps""".stripMargin
      }) { (s, dir) =>
      val DQ = DedupQueries
      val docs = DQ.withTruncatedCopies(s, dir)
      val clusters = DQ.verifiedClusters(s, docs)
        .select(col("node").as("id"), col("component").as("cluster"))
      docs.select(col("id"))
        .join(broadcast(clusters), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("rep"))
        .select(col("id"), col("rep"), splitCol(col("rep")).as("split"),
          (col("rep") =!= col("id") &&
            splitCol(col("id")) =!= splitCol(col("rep"))).as("leak_naive"))
    },

    // Benchmark-contamination check: for every held-out (test-split) doc,
    // the fraction of its 3-gram shingles that also occur ANYWHERE in the
    // train split. The candidate space is an inverted-index equijoin on
    // the shingle hash against the DISTINCT train-shingle set — per-doc
    // cost is its own shingle count, never |test| x |train|; at 100 TB
    // the train set is a bucketed/bloom-filtered build side.
    //
    // Hot-shingle cap: shingles present in more than 1 in 10 train docs
    // ("of the data", boilerplate) are excluded from the train set AND
    // anti-joined off the probe side before the main join. This kills the
    // hot-key skew an open-web corpus puts on the h equijoin (ubiquitous
    // 3-grams would funnel to one reducer) and sharpens the signal: shared
    // boilerplate is not contamination. Hot shingles still count in the
    // denominator, so every test doc keeps its row. The threshold uses
    // integer arithmetic (nd * 10 <= n_train) — exact in both engines, no
    // decimal-vs-double boundary drift.
    QueryDef(
      "q_train_eval_contamination",
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
         |${graft.operators.Dedup.shingleSql(3)},
         |split AS (
         |  SELECT doc_id AS id, ${splitSql("doc_id")} AS split
         |  FROM documents),
         |train_doc_n AS (
         |  SELECT count(*) AS n_train FROM split WHERE split = 'train'),
         |train_freq AS (
         |  SELECT h, count(DISTINCT id) AS nd FROM sh JOIN split USING (id)
         |  WHERE split = 'train' GROUP BY h),
         |train_h AS (
         |  SELECT h FROM train_freq, train_doc_n WHERE nd * 10 <= n_train),
         |ev AS (
         |  SELECT sh.id, sh.h FROM sh JOIN split ON split.id = sh.id
         |  WHERE split.split = 'test'),
         |totals AS (SELECT id, count(*) AS n_shingles FROM ev GROUP BY id),
         |hits AS (
         |  SELECT e.id, count(*) AS n_hit
         |  FROM ev e JOIN train_h t ON t.h = e.h GROUP BY e.id)
         |SELECT totals.id AS doc_id, n_shingles,
         |       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
         |       round(COALESCE(n_hit, 0) * 1.0 / n_shingles
         |             + 0.00000025, 4) AS overlap
         |FROM totals LEFT JOIN hits ON hits.id = totals.id""".stripMargin) { (s, dir) =>
      contamination(Tables.documents(s, dir))
    },

    // DECONTAMINATION — the action the check above informs, in the
    // direction production actually runs it: drop TRAIN docs that overlap
    // the held-out eval set (so the benchmark stays meaningful), rather
    // than editing the benchmark. Same inverted-index shape with the
    // sides swapped: the eval (test-split) shingle set is the small build
    // side, each train doc's overlap = fraction of its own shingles found
    // there, drop at >= 0.2 ON THE ROUNDED value (engine-exact boundary).
    // The hot-shingle cap now applies to EVAL shingles (>10% of eval docs
    // = boilerplate, not contamination); per-train-doc cost is its own
    // shingle count, never train x eval.
    QueryDef(
      "q_decontam_train",
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
         |${graft.operators.Dedup.shingleSql(3)},
         |split AS (
         |  SELECT doc_id AS id, ${splitSql("doc_id")} AS split
         |  FROM documents),
         |eval_doc_n AS (
         |  SELECT count(*) AS n_eval FROM split WHERE split = 'test'),
         |eval_freq AS (
         |  SELECT h, count(DISTINCT id) AS nd FROM sh JOIN split USING (id)
         |  WHERE split = 'test' GROUP BY h),
         |eval_h AS (
         |  SELECT h FROM eval_freq, eval_doc_n WHERE nd * 10 <= n_eval),
         |tr AS (
         |  SELECT sh.id, sh.h FROM sh JOIN split ON split.id = sh.id
         |  WHERE split.split = 'train'),
         |train_ids AS (SELECT id FROM split WHERE split = 'train'),
         |sh_counts AS (SELECT id, count(*) AS n_sh FROM tr GROUP BY id),
         |totals AS (
         |  SELECT train_ids.id, CAST(COALESCE(n_sh, 0) AS BIGINT) AS n_shingles
         |  FROM train_ids LEFT JOIN sh_counts ON sh_counts.id = train_ids.id),
         |hits AS (
         |  SELECT t.id, count(*) AS n_hit
         |  FROM tr t JOIN eval_h e ON e.h = t.h
         |  GROUP BY t.id)
         |SELECT totals.id AS doc_id, n_shingles,
         |       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
         |       CASE WHEN n_shingles = 0 THEN 0.0
         |            ELSE round(COALESCE(n_hit, 0) * 1.0 / n_shingles
         |                       + 0.00000025, 4) END AS overlap,
         |       CASE WHEN n_shingles = 0 THEN 0.0
         |            ELSE round(COALESCE(n_hit, 0) * 1.0 / n_shingles
         |                       + 0.00000025, 4) END >= 0.2 AS dropped
         |FROM totals LEFT JOIN hits ON hits.id = totals.id""".stripMargin) { (s, dir) =>
      decontamTrain(Tables.documents(s, dir))
    },

    // Sketch-driven length filter — curation composed ON TOP of the
    // histogram quantile sketch: per-language p5/p95 char-length bounds
    // come from the mergeable bucket table (at 100 TB: yesterday's
    // histograms SUM-merge with today's delta — the bounds never re-read
    // the corpus), then docs outside [p5, p95] buckets are cut. Bounds
    // are bucket-granular (lower-bound cents >> BucketBits), exact in
    // both engines — no float percentile anywhere.
    QueryDef(
      "q_hist_length_filter", {
        import graft.operators.Hist
        s"""WITH hb AS (
           |  ${Hist.bucketsSql("n_chars", Seq("lang"), "documents")
                .replace("\n", "\n  ")}),
           |h AS (SELECT lang AS grp, b, n FROM hb),
           |q AS (
           |  ${Hist.quantilesSql(Seq(5, 95)).replace("\n", "\n  ")}),
           |bounds AS (
           |  SELECT grp AS lang, p5_cents >> ${Hist.BucketBits} AS lob,
           |         p95_cents >> ${Hist.BucketBits} AS hib FROM q),
           |marked AS (
           |  SELECT d.lang,
           |         CASE WHEN ${Hist.bucketSql("d.n_chars")} BETWEEN lob AND hib
           |              THEN 1 ELSE 0 END AS keep
           |  FROM documents d JOIN bounds ON bounds.lang = d.lang)
           |SELECT lang, count(*) AS n_docs,
           |       CAST(sum(keep) AS BIGINT) AS n_kept,
           |       round(sum(keep) * 1.0 / count(*) + 0.00000025, 4) AS kept_frac
           |FROM marked GROUP BY lang""".stripMargin
      }) { (s, dir) =>
      import graft.operators.Hist
      val docs = Tables.documents(s, dir)
      val h = Hist.buckets(docs, col("n_chars"), Seq("lang"))
      val bounds = Hist.quantiles(h, Seq("lang"), Seq(5, 95))
        .select(col("lang"),
          shiftright(col("p5_cents"), Hist.BucketBits).as("lob"),
          shiftright(col("p95_cents"), Hist.BucketBits).as("hib"))
      docs.join(broadcast(bounds), "lang")
        .select(col("lang"),
          when(Hist.bucket(col("n_chars")).between(col("lob"), col("hib")), 1L)
            .otherwise(0L).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"),
          Num.r4(sum(col("keep")) * 1.0 / count(lit(1))).as("kept_frac"))
    },

    // Group (domain) rebalancing — the resampling step downstream of a
    // mixture audit like q_source_mix_kl: over-represented groups are
    // deterministically downsampled to an equal-share target
    // T = ceil(total / n_groups), under-represented ones kept whole.
    // Demo group = lang (genuinely skewed: en is ~44% of the corpus).
    // The keep rule is pure integer arithmetic on the salted id hash —
    // keep iff (h % 1e6) * n_g < T * 1e6, i.e. probability min(1, T/n_g)
    // — so membership is exact in both engines, reproducible on any
    // partitioning, and stable under appends. At 100 TB: the per-group
    // count table is domain-sized -> broadcast back; the decision itself
    // is a map-side filter.
    QueryDef(
      "q_lang_balance",
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         |         CAST(sum(n_g) AS BIGINT) AS total FROM counts),
         |tgt AS (
         |  SELECT CAST(ceil(total * 1.0 / n_groups) AS BIGINT) AS t FROM tot),
         |kept AS (
         |  SELECT d.lang,
         |         CASE WHEN (${TextOps.hash64Sql(s"concat('$BalanceSalt', doc_id)")} % 1000000)
         |                     * c.n_g < t.t * 1000000
         |              THEN 1 ELSE 0 END AS keep
         |  FROM documents d JOIN counts c ON c.lang = d.lang, tgt t)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(keep) AS BIGINT) AS n_kept,
         |       round(sum(keep) * 1.0 / count(*) + 0.00000025, 4) AS kept_frac
         |FROM kept GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_g"))
      val tgt = counts
        .agg(count(lit(1)).as("n_groups"), sum(col("n_g")).as("total"))
        .select(ceil(col("total") * 1.0 / col("n_groups")).cast("long").as("t"))
      val h = TextOps.hash64(concat(lit(BalanceSalt), col("doc_id"))) % 1000000L
      docs.join(broadcast(counts), "lang")
        .crossJoin(broadcast(tgt))
        .select(col("lang"),
          when(h * col("n_g") < col("t") * 1000000L, 1L).otherwise(0L).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"),
          Num.r4(sum(col("keep")) * 1.0 / count(lit(1))).as("kept_frac"))
    },

    // Temperature-flattened domain mixture (the data-mixture reweighting a
    // pre-training run applies): a half-corpus doc budget is reallocated
    // across sources proportional to sqrt(n_d) — big domains are damped,
    // small ones boosted. The per-doc keep decision is EXACT integer
    // arithmetic: sqrt's IEEE result is correctly rounded (unlike pow), so
    // floor(sqrt(n)) is bit-identical across engines, and the sampling
    // threshold is a cross-multiplied integer inequality — no float
    // division anywhere, so n_kept is deterministic, reproducible under
    // re-partitioning, and stable under re-runs (same salted-hash draw as
    // q_stratified_sample). Map-only after two tiny broadcast joins.
    QueryDef(
      "q_mixture_sample",
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_g FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_g, CAST(floor(sqrt(n_g)) AS BIGINT) AS wq FROM counts),
         |tot AS (
         |  SELECT CAST(sum(wq) AS BIGINT) AS tw, CAST(sum(n_g) AS BIGINT) AS total FROM w),
         |kept AS (
         |  SELECT d.source, w.wq,
         |         CASE WHEN (${TextOps.hash64Sql(s"concat('$MixSalt', doc_id)")} % 1000000)
         |                     * 2 * t.tw * w.n_g < 1000000 * w.wq * t.total
         |              THEN 1 ELSE 0 END AS keep
         |  FROM documents d JOIN w ON w.source = d.source, tot t)
         |SELECT source, count(*) AS n_docs,
         |       CAST(max(wq) AS BIGINT) AS w_sqrt,
         |       CAST(sum(keep) AS BIGINT) AS n_kept,
         |       round(sum(keep) * 1.0 / count(*) + 0.00000025, 4) AS kept_frac
         |FROM kept GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_g"))
        .withColumn("wq", floor(sqrt(col("n_g"))).cast("long"))
      val tot = counts.agg(sum(col("wq")).as("tw"), sum(col("n_g")).as("total"))
      val h = TextOps.hash64(concat(lit(MixSalt), col("doc_id"))) % 1000000L
      docs.join(broadcast(counts), "source")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("wq"),
          when(h * 2L * col("tw") * col("n_g") <
               lit(1000000L) * col("wq") * col("total"), 1L)
            .otherwise(0L).as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("wq")).as("w_sqrt"),
          sum(col("keep")).as("n_kept"),
          Num.r4(sum(col("keep")) * 1.0 / count(lit(1))).as("kept_frac"))
    },

    // Epoch plan with REPEAT factors (the data-constrained-scaling shape:
    // small domains are seen multiple times per epoch, big ones
    // subsampled): a 2x-total doc budget is allocated across langs
    // (the corpus's genuinely skewed domain: en is ~44%)
    // ∝ floor(sqrt(n)) (same IEEE-exact damping as q_mixture_sample),
    // then each source's target T splits into a guaranteed floor(T/n)
    // repeats for EVERY doc plus one extra for ~T mod n docs chosen by
    // the salted-hash inequality — so one integer-exact rule yields
    // repeats >= 2 for boosted domains, 0/1 keeps for damped ones.
    // Unlike q_mixture_sample (keep/drop only) this emits the repeat
    // multiplicity a training loader consumes. Map-only after one
    // broadcast of the source-sized weight table.
    QueryDef(
      "q_epoch_plan",
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, n_g, CAST(floor(sqrt(n_g)) AS BIGINT) AS wq FROM counts),
         |tot AS (
         |  SELECT CAST(sum(wq) AS BIGINT) AS tw, CAST(sum(n_g) AS BIGINT) AS total
         |  FROM w),
         |tgt AS (
         |  SELECT lang, n_g, wq, (2 * t.total * wq) // t.tw AS target
         |  FROM w, tot t),
         |perdoc AS (
         |  SELECT d.lang, g.wq, g.target,
         |         g.target // g.n_g +
         |         CASE WHEN (${TextOps.hash64Sql(s"concat('$EpochSalt', doc_id)")} % 1000000)
         |                     * g.n_g < (g.target % g.n_g) * 1000000
         |              THEN 1 ELSE 0 END AS repeats
         |  FROM documents d JOIN tgt g ON g.lang = d.lang)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(max(wq) AS BIGINT) AS w_sqrt,
         |       CAST(max(target) AS BIGINT) AS target,
         |       CAST(sum(repeats) AS BIGINT) AS n_emitted,
         |       CAST(max(repeats) AS BIGINT) AS max_repeat,
         |       CAST(sum(CASE WHEN repeats = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped
         |FROM perdoc GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_g"))
        .withColumn("wq", floor(sqrt(col("n_g"))).cast("long"))
      val tot = counts.agg(sum(col("wq")).as("tw"), sum(col("n_g")).as("total"))
      val tgt = counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_g"), col("wq"),
          expr("(2 * total * wq) div tw").as("target"))
      val h = TextOps.hash64(concat(lit(EpochSalt), col("doc_id"))) % 1000000L
      docs.join(broadcast(tgt), "lang")
        .select(col("lang"), col("wq"), col("target"),
          (expr("target div n_g") +
            when(h * col("n_g") < (col("target") % col("n_g")) * 1000000L, 1L)
              .otherwise(0L)).as("repeats"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("wq")).as("w_sqrt"),
          max(col("target")).as("target"),
          sum(col("repeats")).as("n_emitted"),
          max(col("repeats")).as("max_repeat"),
          sum(when(col("repeats") === 0, 1L).otherwise(0L)).as("n_dropped"))
    },

    // Weighted sampling WITHOUT replacement: priority sampling
    // (Duffield–Lund–Thorup 2007) — per doc, priority p = w / u with
    // weight w = n_chars and u a salted-hash uniform draw in [1, 1e6];
    // the top-K priorities per source are the sample, and tau (the
    // (K+1)-th priority) yields the unbiased subset-sum estimator
    // w_hat = max(w, tau): E[sum of w_hat over the sample] = sum of w,
    // so downstream token-budget accounting works off the SAMPLE. Unlike
    // q_mixture_sample (independent keep/drop) this draws an exact-size
    // without-replacement sample; unlike q_stratified_sample the
    // inclusion probability is proportional to doc weight. Deterministic
    // across engines: u is integer hash arithmetic and p is ONE IEEE
    // division of two integers — correctly rounded, so DuckDB and the
    // JVM agree bit-for-bit (the reason this uses w/u priorities rather
    // than the u^(1/w) exponential-keys formulation, whose pow() is not
    // correctly rounded). At 100 TB: the rn <= K+1 filter directly over
    // row_number triggers Catalyst's WindowGroupLimit, so each map
    // partition keeps only its local top-(K+1) BEFORE the source shuffle
    // — no global per-source sort ever materializes; tau rides a second
    // window over the same partitioning (no extra shuffle), and the
    // whole query is one shuffle of K+1 rows per source per partition.
    QueryDef(
      "q_weighted_sample",
      s"""WITH pri AS (
         |  SELECT source, doc_id, n_chars,
         |         CAST(n_chars AS DOUBLE)
         |           / ((${TextOps.hash64Sql(s"concat('$PrioSalt', doc_id)")} % 1000000) + 1)
         |           AS p
         |  FROM documents),
         |topk AS (
         |  SELECT * FROM (
         |    SELECT source, doc_id, n_chars, p,
         |           row_number() OVER (PARTITION BY source
         |                              ORDER BY p DESC, doc_id) AS rn
         |    FROM pri) WHERE rn <= ${PrioK + 1}),
         |taued AS (
         |  SELECT source, doc_id, n_chars, p, rn,
         |         max(CASE WHEN rn = ${PrioK + 1} THEN p ELSE 0 END)
         |           OVER (PARTITION BY source) AS tau
         |  FROM topk)
         |SELECT source, doc_id, n_chars,
         |       ${Num.r4Sql("p")} AS priority,
         |       ${Num.r4Sql("greatest(CAST(n_chars AS DOUBLE), tau)")} AS w_hat
         |FROM taued WHERE rn <= $PrioK""".stripMargin) { (s, dir) =>
      prioritySample(Tables.documents(s, dir), PrioK, PrioSalt)
    },

    // The curation FUNNEL: the complete dedup-attrition pipeline as one
    // declarative DAG — raw corpus → exact dedup (md5 keep-min) → verified
    // near-dup survivors (MinHash LSH → Jaccard verify → connected
    // components → per-cluster keeper) → containment cut (>=80% of a doc's
    // cool shingles inside a larger survivor — the quote-inclusion shape
    // Jaccard misses at ~0.2) → ExactSubstr span cut (>=50-token verbatim
    // runs removed, sub-20-token remnants dropped) → quality cut
    // — reporting per-stage doc and token counts, the attrition report a
    // data team reads before a training run. Every stage reuses the
    // standalone operator's exact contract (verifiedClusters,
    // containmentDrops, spanSurvivors, qualityCol — and their SQL twins),
    // so the funnel IS the composition proof. Input is the combined
    // variant corpus (exact copies, truncated halves, first-fifth
    // excerpts, and in-place 55-token boilerplate tails — see FunnelBp) so
    // each stage has real work to do: the excerpts sail through near-dup
    // (Jaccard ~0.2 < 0.35) and die at containment; the boilerplate
    // survives BOTH dedup stages (hot-shingle cut keeps it out of the
    // containment measure) and gets trimmed by the span stage.
    // Token counts after the span stage
    // are POST-CUT tokens. At 100 TB: each stage's survivor set is either
    // map-side-filtered (exact/quality) or derived from a broadcastable
    // near-dup-sized mapping — the funnel costs one LSH pass plus one
    // span pass, never a per-stage corpus rewrite.
    QueryDef.withStaged(
      "q_curation_funnel",
      // composed oracle (the sf0.01/10x driver-gate form): the full
      // six-stage chain in one WITH — at the 100x tier this composition
      // spills DuckDB past the sandbox disk, which is what the staged
      // variant + the q_funnel_stage_* queries exist for
      s"""WITH RECURSIVE ${funnelQualCtes(funnelSurv3Ctes(funnelSurv2cCtes(
              funnelSurv2Ctes(funnelBaseCtes), funnelComposedCtSh)))},
         |stages AS (
         |  SELECT 'a_raw' AS stage, count(*) AS n_docs, sum(len($funnelWsSql)) AS toks
         |  FROM corpus
         |  UNION ALL SELECT 'b_exact_dedup', count(*), sum(len($funnelWsSql)) FROM base
         |  UNION ALL SELECT 'c_near_dup', count(*), sum(len($funnelWsSql)) FROM surv2
         |  UNION ALL SELECT 'd_containment', count(*), sum(len($funnelWsSql)) FROM surv2c
         |  UNION ALL SELECT 'e_span_cut', count(*), sum(n_kept) FROM surv3
         |  UNION ALL SELECT 'f_quality', count(*), sum(n_kept) FROM qual)
         |SELECT stage, n_docs, CAST(toks AS BIGINT) AS total_tokens
         |FROM stages""".stripMargin,
      // staged oracle: every stage boundary is already hash-verified from
      // its predecessor's dump by the q_funnel_stage_* entries in the SAME
      // artifact, so the funnel report reduces to six bounded aggregations
      // — corpus recomputed from base tables, b..f summed off the dumps
      s"""WITH $funnelCorpusCtes,
         |stages AS (
         |  SELECT 'a_raw' AS stage, count(*) AS n_docs, sum(len($funnelWsSql)) AS toks
         |  FROM corpus
         |  UNION ALL SELECT 'b_exact_dedup', count(*), sum(n_words) FROM dump_q_funnel_stage_dedup
         |  UNION ALL SELECT 'c_near_dup', count(*), sum(n_words) FROM dump_q_funnel_stage_neardup
         |  UNION ALL SELECT 'd_containment', count(*), sum(n_words) FROM dump_q_funnel_stage_containment
         |  UNION ALL SELECT 'e_span_cut', count(*), sum(n_kept_tokens) FROM dump_q_funnel_stage_span
         |  UNION ALL SELECT 'f_quality', count(*), sum(n_kept_tokens) FROM dump_q_funnel_stage_quality)
         |SELECT stage, n_docs, CAST(toks AS BIGINT) AS total_tokens
         |FROM stages""".stripMargin) { (s, dir) =>
      funnelReport(stagesFor(s, dir))
    }) ++ funnelStageDefs

  /** q_decontam_train body over an arbitrary documents relation — the
    * contamination check with the sides swapped: eval shingles build, train
    * docs probe, and the rounded overlap drives the drop decision.
    */
  def decontamTrain(docs: DataFrame): DataFrame = {
    // Driver kernel for bounded corpora (the pairwise-dedup pattern): one
    // bounded collect of (id, split, distinct 3-gram set) — the split
    // label is computed by the ENGINE in the collect projection, so the
    // hash arithmetic is never replicated — then the eval-frequency /
    // hot-cut / per-train-doc hit counts are set operations on the
    // driver, returning integer evidence only; the overlap ratio, its
    // rounding and the drop decision stay the Column expressions below on
    // both routes (DedupRouteParitySpec's contamination test holds them
    // equal).
    val s = docs.sparkSession
    contaminationProbe("CurationQueries.decontamTrain", docs) match {
      case Some(probe) =>
        val nEval = probe.count(_._2 == "test")
        val evalH = contaminationCoolSet(
          probe.iterator.filter(_._2 == "test").map(_._3), nEval)
        val ev = probe.iterator.filter(_._2 == "train").map { case (id, _, hs) =>
          (id, hs.size.toLong, hs.count(evalH.contains).toLong)
        }.toSeq
        import s.implicits._
        return decontamDecision(
          s.createDataset(ev).toDF("id", "n_shingles", "n_hit"))
      case None => ()
    }
    val split = docs.select(col("doc_id").as("id"),
      splitCol(col("doc_id")).as("split"))
    // sh feeds both sides — cache (at scale: persist the shingle table)
    val sh = graft.operators.Dedup.shingleHashes(
      docs.select(col("doc_id").as("id"), col("text")),
      col("id"), col("text"), n = 3).cache()
    val nEval = split.filter(col("split") === "test")
      .agg(count(lit(1)).as("n_eval"))
    // evalFreq feeds both the build set and the hot set — cache, or the
    // eval-side join + df aggregation executes twice. count(1), not
    // countDistinct(id): sh is distinct (id, h) by construction
    // (ShingleHashArray emits the per-doc distinct set) and the split join
    // adds one row per id, so the plain count IS the distinct doc count —
    // without the distinct-aggregate machinery the planner would otherwise
    // pay on the corpus-sized shingle relation (guide §2.3).
    val evalFreq = sh.join(split.filter(col("split") === "test"), "id")
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nEval))
      .cache()
    val evalH = evalFreq.filter(col("nd") * 10 <= col("n_eval")).select("h")
    // hot eval shingles stripped off the probe side pre-join — a
    // Spark-side SKEW guard only (evalH already excludes them, so the
    // oracle needs no twin predicate)
    val hotH = evalFreq.filter(col("nd") * 10 > col("n_eval")).select("h")
    val tr = sh.join(split.filter(col("split") === "train"), "id")
      .select("id", "h")
    // totals start from the SPLIT, not the shingle table: a train doc too
    // short to have any 3-gram still gets its manifest row (kept,
    // overlap 0) — the output is the complete per-train-doc decision list
    val totals = split.filter(col("split") === "train").select(col("id"))
      .join(tr.groupBy(col("id")).agg(count(lit(1)).as("n_sh")), Seq("id"), "left")
      .select(col("id"), coalesce(col("n_sh"), lit(0L)).as("n_shingles"))
    val hits = tr.join(broadcast(hotH), Seq("h"), "left_anti")
      .join(evalH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    decontamDecision(totals.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit")))
  }

  /** The decontamination decision over (id, n_shingles, n_hit) evidence —
    * ONE definition for both routes, so the ratio/rounding/threshold
    * cannot fork between the kernel and the distributed plan.
    */
  private def decontamDecision(ev: DataFrame): DataFrame = {
    val overlap = when(col("n_shingles") === 0, lit(0.0))
      .otherwise(Num.r4(col("n_hit") * 1.0 / col("n_shingles")))
    ev.select(col("id").as("doc_id"), col("n_shingles"), col("n_hit"),
      overlap.as("overlap"), (overlap >= 0.2).as("dropped"))
  }

  /** Bounded collect for the contamination kernels: (doc_id, split,
    * distinct 3-gram hashes) rows, the split label computed engine-side
    * in the projection. None past `Route.Docs` (id-only limit probe
    * first — the verifiedClusters discipline).
    */
  private def contaminationProbe(site: String, docs: DataFrame)
      : Option[Array[(Long, String, Seq[Long])]] = {
    val s = docs.sparkSession
    import s.implicits._
    if (!Route.fits(site, Route.Docs, docs.select(col("doc_id")))) None
    else Some(docs.select(col("doc_id"), splitCol(col("doc_id")).as("split"),
        org.apache.spark.sql.graft.ArrayExpressions
          .shingleHashes(col("text"), 3).as("hs"))
      .as[(Long, String, Seq[Long])].collect())
  }

  /** The cool-shingle set of one split side: shingles whose doc frequency
    * nd satisfies nd * 10 <= nDocs (the integer hot cut both queries
    * apply). Per-doc sets are distinct by construction, so counting one
    * occurrence per doc IS count(DISTINCT id).
    */
  private def contaminationCoolSet(sets: Iterator[Seq[Long]],
                                   nDocs: Long): java.util.HashSet[Long] = {
    val nd = new java.util.HashMap[Long, Long]()
    for (hs <- sets; h <- hs) nd.merge(h, 1L, (a, b) => a + b)
    val cool = new java.util.HashSet[Long]()
    nd.forEach((h, c) => if (c * 10 <= nDocs) { cool.add(h); () })
    cool
  }

  /** q_curation_funnel body over an arbitrary documents relation (a test
    * fixture corpus, say). Builds a PRIVATE FunnelStages — registered
    * queries over a data dir go through `stagesFor` instead, so the five
    * stage dumps and the funnel report share one set of stage leaves.
    */
  def funnel(s: org.apache.spark.sql.SparkSession, documents: DataFrame): DataFrame =
    funnelReport(new FunnelStages(s, documents))

  /** The six-stage attrition report over an existing FunnelStages
    * (private[graft]: MakeFunnel's resume mode recomputes the report over
    * a partially-resumed instance).
    */
  private[graft] def funnelReport(st: FunnelStages): DataFrame = {
    def stage(name: String, df: DataFrame,
              toks: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(toks).cast("long").as("total_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("total_tokens"))
    stage("a_raw", st.corpus, col("n_words"))
      .unionAll(stage("b_exact_dedup", st.deduped, col("n_words")))
      .unionAll(stage("c_near_dup", st.surv2, col("n_words")))
      .unionAll(stage("d_containment", st.surv2c, col("n_words")))
      .unionAll(stage("e_span_cut", st.surv3, col("n_kept_tokens")))
      .unionAll(stage("f_quality", st.qual, col("n_kept_tokens")))
  }

  /** Per-(session, data-dir) shared FunnelStages: the five q_funnel_stage_*
    * dumps, the q_curation_funnel report, and MakeFunnel all resolve their
    * stage relations here, so one session computes each funnel boundary
    * ONCE no matter how many of the six queries it runs (the r15 tier gate
    * paid the shared prefix five times — 92.7 s where one pass costs ~35 s
    * at 10x). The expensive boundaries are localCheckpoint leaves, so they
    * survive Bench's per-query clearCache; `releaseStages()` is the managed
    * end-of-session release (Verify/Bench/MakeFunnel call it; a long-lived
    * embedder must too, or the leaves stay pinned for the session's life).
    */
  private val sharedStages = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), FunnelStages]

  private[graft] def stagesFor(
      s: org.apache.spark.sql.SparkSession, dir: String): FunnelStages =
    sharedStages.getOrElseUpdate((s, dir),
      new FunnelStages(s, Tables.documents(s, dir)))

  /** Registered queries whose stage relations resolve through the shared
    * `stagesFor` memo. Bench must treat these specially (r16 ADVICE): the
    * memo's checkpoint leaves deliberately survive clearCache, so a naive
    * repeat-measurement reads back leaves instead of computing — the
    * stamped median would exclude the compute cost and a funnel-prefix
    * regression would be invisible to the drift gate. Bench releases the
    * shared stages between measurement runs for these names, and stamps
    * the family as ONE pipeline metric (q_curation_funnel, whose report
    * materializes every boundary) — the per-stage dump queries are
    * correctness artifacts of the staged tier gate, prefixes of that same
    * pipeline, not independent workloads.
    */
  val SharedStageQueryNames: Set[String] = Set(
    "q_funnel_stage_dedup", "q_funnel_minhash_sigs", "q_funnel_stage_neardup",
    "q_funnel_stage_containment", "q_funnel_stage_span",
    "q_funnel_stage_quality", "q_curation_funnel")

  /** Unpersist every shared instance's pinned caches and drop the memo —
    * the checkpoint leaves become unreferenced and the ContextCleaner
    * reclaims their blocks.
    */
  def releaseStages(): Unit = {
    sharedStages.values.foreach(_.close())
    sharedStages.clear()
  }

  /** Release ONLY the instance for (session, dir) — the form an embedding
    * JVM with several live stage sets must use (r16 ADVICE: MakeFunnel's
    * global release yanked every other dir's pinned caches mid-use). Also
    * the invalidation hook when a dir's data is rewritten in-session: drop
    * the memo entry and the next stagesFor builds fresh boundaries.
    */
  def releaseStages(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    sharedStages.remove((s, dir)).foreach(_.close())

  /** The funnel's stage relations, one lazy val per boundary so the
    * q_funnel_stage_* queries (the 100x-tier stage-decomposed gate)
    * compute exactly the prefix they dump — accessing `deduped` never
    * pays the clustering, containment, or span machinery. Same bodies,
    * caches, and localCheckpoint leaves the monolithic funnel always had.
    *
    * Lifetime: `pin` records each cache created by a lazy-val body;
    * `close()` unpersists them (the localCheckpoint leaves are GC-managed
    * once the instance is unreferenced). Callers either scope an instance
    * themselves (MakeFunnel, `funnel`) or go through the shared
    * `stagesFor`/`releaseStages` pair above.
    * Verify/Bench clear the cache after each query; a
    * long-lived session embedding the funnel should clearCache() or
    * unpersist after consuming the result.
    */
  private[graft] final class FunnelStages(
      s: org.apache.spark.sql.SparkSession, documents: DataFrame,
      // the quality stage's cutoff: registered queries keep the
      // oracle-twinned 0.5 default; MakeFunnel's resume mode re-runs the
      // tail of the funnel under an edited threshold
      val qualityCutoff: Double = 0.5,
      // RESUME boundaries (MakeFunnel --resume): boundary key ("dedup" |
      // "neardup" | "containment" | "span" | "quality") → that stage's
      // previously-dumped relation. A resumed text-carrying boundary is
      // reconstructed as corpus ⋈ dump ids (the staged-oracle pattern:
      // membership comes off the verified dump, text off the corpus
      // build, which costs one documents scan — never the clustering /
      // containment / span machinery being skipped); count-carrying
      // boundaries (span, quality) ARE their dumps.
      resume: Map[String, DataFrame] = Map.empty) {
      val DQ = DedupQueries

      // corpus ⋈ dump ids → the same (id, text, n_words) rows the stage
      // computed when it was dumped; leaf-rooted like a computed boundary
      // (downstream stages fan these into many consumers)
      private def fromDump(d: DataFrame): DataFrame =
        corpus.join(d.select(col("id")), Seq("id"), "left_semi")
          .select(col("id"), col("text"), col("n_words")).localCheckpoint()
      // caches created by lazy-val bodies, recorded for close(): only
      // boundaries that actually initialized get unpersisted. pin runs
      // inside lazy-val init (under this's monitor) but close() can race
      // a concurrent init, so both synchronize.
      private var pinnedCaches = List.empty[DataFrame]
      private def pin(df: DataFrame): DataFrame = synchronized {
        pinnedCaches ::= df; df
      }
      def close(): Unit = synchronized {
        pinnedCaches.foreach(_.unpersist())
        pinnedCaches = Nil
      }
      // single-scan corpus build (round-13: the funnel's cold cost was
      // dominated by FOUR documents scans — one per variant branch — each
      // re-tokenizing text, plus four more full re-tokenizations in the
      // per-stage aggs). One scan tokenizes once, emits all four variants
      // via explode, and stamps each corpus row with its n_words so every
      // stage agg reads a cached long instead of re-splitting text.
      // n_words for SLICED variants is a RE-tokenization of the rebuilt
      // text, not the slice length: `words` = split(trim, \s+) where trim
      // strips only U+0020, so tab/newline-led docs carry a leading empty
      // token that a slice-join-resplit does NOT preserve — the oracle
      // re-tokenizes, so the engine must too. Unsliced variants keep the
      // source text byte-for-byte, so size(ws) is already exact there.
      val ws0 = TextOps.words(col("text"))
      val docs = documents
        .select(col("doc_id").as("id"),
          when(col("doc_id") % 13 === 3, concat(col("text"), lit(" " + FunnelBp)))
            .otherwise(col("text")).as("text"))
      // n_words = -1 marks a variant whose text was rebuilt from sliced
      // words and must be RE-tokenized post-explode (see the note above);
      // the original and exact-copy variants share the source text, so
      // size(ws) is exact for them and skips the second split
      def variant(id: org.apache.spark.sql.Column,
                  text: org.apache.spark.sql.Column,
                  n: org.apache.spark.sql.Column) =
        struct(id.as("id"), text.as("text"), n.as("n"))
      val nws = size(col("ws")).cast("long")
      val half = ceil(size(col("ws")) / 2.0).cast("int")
      val fifth = ceil(size(col("ws")) / 5.0).cast("int")
      lazy val corpus = pin(docs
        .select(col("id"), col("text"), ws0.as("ws"))
        .select(explode(array(
          variant(col("id"), col("text"), nws),
          when(col("id") % 10 === 0,
            variant(col("id") + FunnelExactOff, col("text"), nws)),
          when(col("id") % 5 === 0,
            variant(col("id") + FunnelTruncOff,
              concat_ws(" ", slice(col("ws"), lit(1), half)), lit(-1L))),
          when(col("id") % 7 === 0 && size(col("ws")) >= DQ.ExcerptMinWords,
            variant(col("id") + FunnelExcerptOff,
              concat_ws(" ", slice(col("ws"), lit(1), fifth)), lit(-1L))))).as("v"))
        .filter(col("v").isNotNull)
        .select(col("v.id").as("id"), col("v.text").as("text"),
          when(col("v.n") >= 0, col("v.n"))
            .otherwise(size(TextOps.words(col("v.text"))).cast("long"))
            .as("n_words"))
        .cache())
      // exact dedup as a map-side-combining agg + semi-join, not a
      // row_number window: the window shuffles every text byte to rank
      // within its hash group, while groupBy(md5).min(id) partial-
      // aggregates map-side and shuffles only (hash, id) pairs; the
      // keep-list semi-join broadcasts at bench scale (AQE decides — no
      // hint, at 100 TB the keep list is corpus-sized and it degrades to
      // the same shuffle the window paid anyway). Same keep-min-id
      // contract either way.
      lazy val keep1 = corpus.groupBy(md5(col("text")).as("h"))
        .agg(min(col("id")).as("id")).select(col("id"))
      // localCheckpoint, not cache: deduped is the root of EVERY clustering
      // reference downstream (bands, candidates, both sides of the exact-
      // Jaccard verify, surv2, the stage agg) — a cache keeps the full
      // corpus lineage in the logical plan, and each downstream reference
      // textually duplicates it, so when the input is itself a wide union
      // (a k-fold replica assembled as a 100-way unionAll, say) the
      // verify's analyzed tree reaches ~1000 duplicated scan subtrees and
      // every action pays ~tens of seconds of pure driver analysis on a
      // 368 MB plan string (measured at k=100: jaccard verify 68 s, of
      // which ~56 s was re-analysis of an already-cached result). Rooting
      // deduped as a leaf keeps every clustering plan O(stage) regardless
      // of input lineage; at cluster scale checkpoint() is the durable twin.
      lazy val deduped = resume.get("dedup").map(fromDump).getOrElse(
        corpus.join(keep1, Seq("id"), "left_semi")
          .select(col("id"), col("text"), col("n_words")).localCheckpoint())
      // the minhash signature table over the dedup boundary — the staged
      // tier gate's intermediate artifact (q_funnel_minhash_sigs): dumping
      // and hash-verifying the registers lets the NEARDUP staged oracle
      // start from verified signatures instead of re-deriving the whole
      // corpus shingle stack (which spills the oracle engine's disk at the
      // 5M-doc tier). Map-only rowwise form — zero shuffle, same integers
      // as the groupBy path (StreamNearDupSpec parity).
      lazy val sigs = graft.operators.Dedup.minhashSignaturesRowwise(
        deduped, col("id"), col("text"), DQ.ShingleN)
      lazy val clusters = DQ.verifiedClusters(s, deduped, Some(DQ.LshBucketCap))
        .select(col("node").as("cid"), col("component").as("cluster"))
      lazy val keepers = clusters.groupBy(col("cluster")).agg(min(col("cid")).as("keeper"))
      lazy val surv2 = resume.get("neardup").map(fromDump).getOrElse(deduped
        .join(broadcast(clusters), col("id") === col("cid"), "left")
        .join(broadcast(keepers), Seq("cluster"), "left")
        .filter(col("cid").isNull || col("keeper") === col("id"))
        .select(col("id"), col("text"), col("n_words"))
        // localCheckpoint, not cache: the containment stage below
        // references this relation FIVE times and the span stage multiplies
        // again — composed lazily, every downstream action re-analyzes a
        // combinatorially exploding tree and pays SECONDS of pure driver
        // planning even with every cache hot (measured: 3x on the whole
        // funnel). Truncating lineage at the two expensive boundaries
        // keeps each downstream plan leaf-rooted — the verifiedClusters
        // precedent; at cluster scale checkpoint() to reliable storage is
        // the durable twin.
        .localCheckpoint())
      // containment stage: cut excerpt-inclusion survivors the symmetric
      // Jaccard stage can't see (containment 1.0 at Jaccard ~0.2) — the
      // drop list is near-dup-sized, so it broadcasts like the cluster
      // and keeper mappings above
      lazy val surv2c = resume.get("containment").map(fromDump).getOrElse(surv2
        .join(broadcast(DQ.containmentDropsAdaptive(surv2)
            .select(col("id").as("ctid"))),
          col("id") === col("ctid"), "left_anti")
        .select(col("id"), col("text"), col("n_words")).localCheckpoint())
      // localCheckpoint like the other boundaries (was cache): the span
      // cut is among the most expensive stages, and a shared instance
      // must keep its result across Bench's per-query clearCache — a
      // cache is yanked between the span and quality queries, a
      // checkpoint leaf is not
      lazy val surv3 = resume.get("span")
        .map(_.select(col("id"), col("n_kept_tokens")))
        .getOrElse(DQ.spanSurvivors(
            surv2c.select(col("id").as("doc_id"), col("text"), col("n_words")))
          .filter(col("action") =!= "drop")
          .select(col("doc_id").as("id"), col("n_kept_tokens")).localCheckpoint())
      lazy val qual = resume.get("quality")
        .map(_.select(col("id"), col("n_kept_tokens")))
        .getOrElse(surv2c.join(surv3, "id")
          .filter(qualityCol >= qualityCutoff)
          .select(col("id"), col("n_kept_tokens")))
  }

  // ---- funnel oracle CTE fragments ----
  // The composed q_curation_funnel oracle and the per-stage oracles (both
  // self-contained and staged forms) are assembled from ONE text per
  // stage, so the three gates cannot fork. All `def`s: `defs` is a val
  // and a plain val here would still be null while it initializes.

  private def funnelWsSql: String = TextOps.wordsSql("text")

  /** src + corpus: the four-variant corpus build (see q_curation_funnel's
    * QueryDef comment). corpus is consumed by several downstream CTEs;
    * MATERIALIZED stops DuckDB's default inlining from re-expanding the
    * whole build (and re-opening the parquet) per consumer — without it
    * the funnel exhausts the fd limit.
    */
  private def funnelCorpusCtes: String = {
    val ws = funnelWsSql
    s"""src AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 13 = 3 THEN text || ' $FunnelBp'
       |              ELSE text END AS text
       |  FROM documents),
       |corpus AS MATERIALIZED (
       |  SELECT doc_id AS id, text FROM src
       |  UNION ALL
       |  SELECT doc_id + $FunnelExactOff, text FROM src WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + $FunnelTruncOff,
       |         array_to_string(ws[1:CAST(ceil(len(ws) / 2.0) AS INT)], ' ')
       |  FROM (SELECT doc_id, $ws AS ws FROM src WHERE doc_id % 5 = 0)
       |  UNION ALL
       |  SELECT doc_id + $FunnelExcerptOff,
       |         array_to_string(ws[1:CAST(ceil(len(ws) / 5.0) AS INT)], ' ')
       |  FROM (SELECT doc_id, $ws AS ws FROM src WHERE doc_id % 7 = 0)
       |  WHERE len(ws) >= ${DedupQueries.ExcerptMinWords})""".stripMargin
  }

  /** + exact dedup → base. */
  private def funnelBaseCtes: String =
    s"""$funnelCorpusCtes,
       |keep1 AS (SELECT min(id) AS id FROM corpus GROUP BY md5(text)),
       |base AS MATERIALIZED (
       |  SELECT c.id, c.text FROM corpus c JOIN keep1 USING (id))""".stripMargin

  /** LSH → verified clusters → keepers → surv2, over whatever CTE chain
    * defines `base` (the composed prefix, or corpus ⋈ the dedup dump).
    */
  private def funnelSurv2Ctes(baseCtes: String): String = {
    val DQ = DedupQueries
    s"""$baseCtes,
       |${Dedup.shingleSql(DQ.ShingleN)},
       |${Dedup.signatureSql},
       |${Dedup.bandsSql},
       |${Dedup.candidateCappedSql(DQ.LshBucketCap)},
       |${Dedup.jaccardSql},
       |${Dedup.vpairsSql(DQ.JaccardThreshold)},
       |${Dedup.clustersSql},
       |keepers AS (SELECT cluster, min(id) AS keeper FROM clusters GROUP BY cluster),
       |surv2 AS MATERIALIZED (
       |  SELECT b.id, b.text FROM base b
       |  LEFT JOIN clusters c ON c.id = b.id
       |  LEFT JOIN keepers k ON k.cluster = c.cluster
       |  WHERE c.id IS NULL OR k.keeper = b.id)""".stripMargin
  }

  /** ct_sh for the COMPOSED chain: restrict the already-built base
    * shingle table to surv2 members.
    */
  private def funnelComposedCtSh: String =
    "ct_sh AS (SELECT s.id, s.h FROM sh s JOIN surv2 USING (id))"

  /** ct_sh for the STAGED chain: no base shingle table exists, so shingle
    * surv2 directly — per-doc shingle sets are row-local, so the two
    * forms are identical on surv2 members. Uses the window-free flat
    * shingle twin (same rows, no partitioned sort over corpus positions
    * — the shape that spilled the oracle engine at the 5M-doc tier).
    */
  private def funnelStagedCtSh: String =
    s"""${Dedup.shingleFlatSql(DedupQueries.ShingleN, "surv2", "ctp_")},
       |ct_sh AS MATERIALIZED (SELECT DISTINCT id, h FROM ctp_spans)""".stripMargin

  /** containment cut → surv2c, over whatever defines surv2 + ct_sh.
    * `dropSql` picks the pair-enumeration strategy: the composed chain
    * keeps the exhaustive cool self-join (algorithm-independent at the
    * sf0.01 gate); the staged chain passes the provably-lossless
    * AllPairs prefix-filtered twin so the 5M-doc tier never enumerates
    * the Σ df² pair space (see containmentDropPrefixSql's scaladoc for
    * the pigeonhole argument).
    */
  private def funnelSurv2cCtes(surv2Ctes: String, ctSh: String,
      dropSql: (String, String, String) => String =
        DedupQueries.containmentDropSql(_, _, _)): String =
    s"""$surv2Ctes,
       |$ctSh,
       |${dropSql("ct_sh", "surv2", "ct_")},
       |surv2c AS MATERIALIZED (
       |  SELECT s.id, s.text FROM surv2 s LEFT JOIN ct_drop d ON d.id = s.id
       |  WHERE d.id IS NULL)""".stripMargin

  /** span cut → surv3(id, n_kept), over whatever defines surv2c.
    * `flatShingles` swaps the windowed positional-shingle CTE for its
    * window-free twin (identical rows; the staged 1000x chain cannot
    * afford a partitioned sort over ~1e9 corpus positions — spanCutSql's
    * own windows run only over DUPLICATED positions, a far smaller set).
    */
  private def funnelSurv3Ctes(surv2cCtes: String,
      flatShingles: Boolean = false): String = {
    val DQ = DedupQueries
    val spanShingles =
      if (flatShingles) Dedup.shingleFlatSql(DQ.SpanN, "surv2c", "s2_")
      else Dedup.shinglePosSql(DQ.SpanN, "surv2c", "s2_")
    s"""$surv2cCtes,
       |$spanShingles,
       |${DQ.spanCutSql("s2_")},
       |sp AS (
       |  SELECT s.id, len($funnelWsSql) AS n_words, COALESCE(c.n_cut, 0) AS n_cut
       |  FROM surv2c s LEFT JOIN s2_cut c ON c.id = s.id),
       |surv3 AS (
       |  SELECT id, n_words - n_cut AS n_kept FROM sp
       |  WHERE NOT (n_cut > 0 AND n_words - n_cut < ${DQ.MinKeepTokens}))""".stripMargin
  }

  /** quality cut → qual(id, n_kept), over surv3 + surv2c. */
  private def funnelQualCtes(surv3Ctes: String): String =
    s"""$surv3Ctes,
       |qual AS (
       |  SELECT s3.id, s3.n_kept FROM surv3 s3 JOIN surv2c s ON s.id = s3.id
       |  WHERE ${qualitySql("s.text")} >= 0.5)""".stripMargin

  /** corpus row set semi-joined to a verified stage dump — the staged
    * oracles' way of resuming the chain from an already-hash-checked
    * boundary instead of recomputing every upstream stage.
    */
  private def funnelDumpJoin(rel: String, dump: String): String =
    s"""$rel AS MATERIALIZED (
       |  SELECT c.id, c.text FROM corpus c JOIN $dump d ON d.id = c.id)""".stripMargin

  /** The NEARDUP stage verified from the SIGNATURE dump (the r16 verdict's
    * designed 1000x fix, one more decomposition level): banding and the
    * hot-bucket-capped candidate join come off the already-hash-verified
    * minhash register table (`dump_q_funnel_minhash_sigs`), and the exact-
    * Jaccard verify re-shingles ONLY candidate members via the window-free
    * form — the full-corpus shingle/window/DISTINCT stack, which spilled
    * the oracle engine past the sandbox disk at the 5M-doc tier, never
    * runs. Semantics are unchanged from the composed chain: `sizes`/`sh`
    * restricted to candidate members feed exactly the rows the Jaccard
    * join reads anyway (it only ever touches sh at c.a/c.b), and surv2
    * membership + n_words come off the verified dedup dump rather than a
    * re-tokenization. Chain of trust: dedup dump anchors membership and
    * word counts, the sig dump anchors the registers, this oracle
    * recomputes only banding → candidates → verify → clustering → keeper.
    */
  private def funnelSurv2StagedFromSigs: String = {
    val DQ = DedupQueries
    s"""$funnelCorpusCtes,
       |sig AS (SELECT * FROM dump_q_funnel_minhash_sigs),
       |${Dedup.bandsSql},
       |${Dedup.candidateCappedSql(DQ.LshBucketCap)},
       |cand_ids AS (SELECT a AS id FROM cand UNION SELECT b FROM cand),
       |cdocs AS MATERIALIZED (
       |  SELECT c.id, c.text FROM corpus c JOIN cand_ids USING (id)),
       |${Dedup.shingleFlatSql(DQ.ShingleN, "cdocs", "cf_")},
       |sh AS MATERIALIZED (SELECT DISTINCT id, h FROM cf_spans),
       |${Dedup.jaccardSql},
       |${Dedup.vpairsSql(DQ.JaccardThreshold)},
       |${Dedup.clustersSql},
       |keepers AS (SELECT cluster, min(id) AS keeper FROM clusters GROUP BY cluster),
       |surv2 AS (
       |  SELECT d.id, CAST(d.n_words AS BIGINT) AS n_words
       |  FROM dump_q_funnel_stage_dedup d
       |  LEFT JOIN clusters c ON c.id = d.id
       |  LEFT JOIN keepers k ON k.cluster = c.cluster
       |  WHERE c.id IS NULL OR k.keeper = d.id)
       |SELECT id, n_words FROM surv2""".stripMargin
  }

  /** The funnel's stage-boundary queries (id + the token count the stage
    * report sums), one per attrition boundary. Purpose: the 100x-tier
    * correctness gate — the COMPOSED funnel oracle spills DuckDB past the
    * sandbox disk at 500k+ docs, but each stage's transformation verified
    * against its predecessor's (already-verified) dump is disk-bounded,
    * so `check.py --staged` hash-gates the whole chain inductively. At
    * the driver's sf0.01 gate these run their self-contained composed
    * oracles (cheap at that scale). The Spark side computes exactly the
    * prefix it dumps (FunnelStages' lazy boundaries).
    */
  private def funnelStageDefs: Seq[QueryDef] = {
    val sigColsSql =
      (0 until Dedup.NumHashes).map(i => s"m$i").mkString(", ")
    def nw(rel: String) = s"\nSELECT id, len($funnelWsSql) AS n_words FROM $rel"
    def nk(rel: String) =
      s"\nSELECT id, CAST(n_kept AS BIGINT) AS n_kept_tokens FROM $rel"
    // the SHARED per-(session, dir) instance: five stage queries + the
    // funnel report = one prefix computation per session, not six
    def stages(s: org.apache.spark.sql.SparkSession, dir: String) =
      stagesFor(s, dir)
    Seq(
      // stage 1 is anchored to the base tables, so its composed oracle IS
      // the staged one — no staged override needed
      QueryDef(
        "q_funnel_stage_dedup",
        "WITH RECURSIVE " + funnelBaseCtes + nw("base")) { (s, dir) =>
        stages(s, dir).deduped.select(col("id"), col("n_words"))
      },
      // the minhash signature table over the dedup boundary: not an
      // attrition boundary itself, but the staged artifact that lets the
      // NEARDUP oracle below resume from verified registers at tiers
      // where re-deriving the corpus shingle stack exceeds the oracle
      // engine's disk. Composed form recomputes from base tables
      // (windowed shingles, the engine-shared fragment); staged form
      // re-shingles the verified dedup dump with the window-free twin
      // and skips the DISTINCT (min over a multiset equals min over its
      // set, so the registers are identical).
      QueryDef.withStaged(
        "q_funnel_minhash_sigs",
        "WITH " + funnelBaseCtes + ",\n" +
          Dedup.shingleSql(DedupQueries.ShingleN) + ",\n" +
          Dedup.signatureSql + s"\nSELECT id, $sigColsSql FROM sig",
        "WITH " + funnelCorpusCtes + ",\n" +
          funnelDumpJoin("base", "dump_q_funnel_stage_dedup") + ",\n" +
          Dedup.shingleFlatSql(DedupQueries.ShingleN, "base", "sg_") + ",\n" +
          Dedup.signatureSql("sg_spans") + s"\nSELECT id, $sigColsSql FROM sig") {
        (s, dir) => stages(s, dir).sigs
      },
      QueryDef.withStaged(
        "q_funnel_stage_neardup",
        "WITH RECURSIVE " + funnelSurv2Ctes(funnelBaseCtes) + nw("surv2"),
        "WITH RECURSIVE " + funnelSurv2StagedFromSigs) {
        (s, dir) => stages(s, dir).surv2.select(col("id"), col("n_words"))
      },
      QueryDef.withStaged(
        "q_funnel_stage_containment",
        "WITH RECURSIVE " + funnelSurv2cCtes(
          funnelSurv2Ctes(funnelBaseCtes), funnelComposedCtSh) + nw("surv2c"),
        "WITH RECURSIVE " + funnelSurv2cCtes(
          funnelCorpusCtes + ",\n" +
            funnelDumpJoin("surv2", "dump_q_funnel_stage_neardup"),
          funnelStagedCtSh,
          DedupQueries.containmentDropPrefixSql(_, _, _)) + nw("surv2c")) {
        (s, dir) =>
        stages(s, dir).surv2c.select(col("id"), col("n_words"))
      },
      QueryDef.withStaged(
        "q_funnel_stage_span",
        "WITH RECURSIVE " + funnelSurv3Ctes(funnelSurv2cCtes(
          funnelSurv2Ctes(funnelBaseCtes), funnelComposedCtSh)) + nk("surv3"),
        "WITH RECURSIVE " + funnelSurv3Ctes(
          funnelCorpusCtes + ",\n" +
            funnelDumpJoin("surv2c", "dump_q_funnel_stage_containment"),
          flatShingles = true) +
          nk("surv3")) { (s, dir) =>
        stages(s, dir).surv3.select(col("id"), col("n_kept_tokens"))
      },
      QueryDef.withStaged(
        "q_funnel_stage_quality",
        "WITH RECURSIVE " + funnelQualCtes(funnelSurv3Ctes(funnelSurv2cCtes(
          funnelSurv2Ctes(funnelBaseCtes), funnelComposedCtSh))) + nk("qual"),
        // quality needs surv2c TEXT (the predicate) and surv3's kept
        // counts — both come straight off verified dumps
        "WITH RECURSIVE " + funnelCorpusCtes + ",\n" +
          funnelDumpJoin("surv2c", "dump_q_funnel_stage_containment") + ",\n" +
          s"""qual AS (
             |  SELECT s3.id, s3.n_kept_tokens AS n_kept
             |  FROM dump_q_funnel_stage_span s3
             |  JOIN surv2c s ON s.id = s3.id
             |  WHERE ${qualitySql("s.text")} >= 0.5)""".stripMargin +
          nk("qual")) { (s, dir) =>
        stages(s, dir).qual.select(col("id"), col("n_kept_tokens"))
      })
  }

  /** q_train_eval_contamination body over an arbitrary documents
    * relation.
    */
  def contamination(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Driver kernel for bounded corpora — decontamTrain's twin with the
    // sides swapped: the train-side cool set is built once on the driver
    // and each test doc's hit count is a set intersection; integer
    // evidence only, ratios/rounding engine-side (see decontamTrain).
    val s = docs.sparkSession
    contaminationProbe("CurationQueries.contamination", docs) match {
      case Some(probe) =>
        val nTrain = probe.count(_._2 == "train")
        val trainH = contaminationCoolSet(
          probe.iterator.filter(_._2 == "train").map(_._3), nTrain)
        // only test docs with at least one shingle get a row — the
        // distributed totals aggregate over the test shingle stream
        val ev = probe.iterator
          .filter(p => p._2 == "test" && p._3.nonEmpty)
          .map { case (id, _, hs) =>
            (id, hs.size.toLong, hs.count(trainH.contains).toLong)
          }.toSeq
        import s.implicits._
        return s.createDataset(ev).toDF("id", "n_shingles", "n_hit")
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_hit"),
            Num.r4(col("n_hit") * 1.0 / col("n_shingles")).as("overlap"))
      case None => ()
    }
    val split = docs.select(col("doc_id").as("id"),
      splitCol(col("doc_id")).as("split"))
    // sh feeds both sides — cache (at scale: persist the shingle table)
    val sh = graft.operators.Dedup.shingleHashes(
      docs.select(col("doc_id").as("id"), col("text")),
      col("id"), col("text"), n = 3).cache()
    val nTrain = split.filter(col("split") === "train")
      .agg(count(lit(1)).as("n_train"))
    // trainFreq feeds BOTH trainH and hotH — cache, or the train-side
    // join + df aggregation (the most expensive one here) executes twice
    // (decontamTrain caches its eval-side twin for the same reason).
    // count(1) == countDistinct(id) here: sh is distinct (id, h) by
    // construction and the split join adds one row per id (see
    // decontamTrain's evalFreq note).
    val trainFreq = sh.join(split.filter(col("split") === "train"), "id")
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nTrain))
      .cache()
    val trainH = trainFreq.filter(col("nd") * 10 <= col("n_train")).select("h")
    // tiny by construction: only shingles in >10% of ALL train docs
    val hotH = trainFreq.filter(col("nd") * 10 > col("n_train")).select("h")
    val ev = sh.join(split.filter(col("split") === "test"), "id")
      .select("id", "h")
    val totals = ev.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val hits = ev.join(broadcast(hotH), Seq("h"), "left_anti")
      .join(trainH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Num.r4(coalesce(col("n_hit"), lit(0L)) * 1.0 / col("n_shingles"))
          .as("overlap"))
  }
}
