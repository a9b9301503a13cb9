package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Num, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM-training-data pipeline, over the
  * `documents` table: language ID (keyword-profile scoring), quality
  * scoring, token counting (whitespace + BPE-ish regex), and winnowing
  * document fingerprints. All are single-pass, shuffle-free (or one
  * groupBy) column programs — at 100 TB each is a map-only scan except the
  * fingerprint distinct, which shuffles on (doc_id, fp).
  */
object TextAnalytics {

  /** Keyword profiles for the n-gram-heuristic language scorer. The corpus
    * is synthetic domain text, so profiles are built from its vocabulary;
    * the mechanism (per-language token-set overlap, argmax with a fixed
    * tie order) is the real lang-id shape.
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "table", "scan"),
    "es" -> Seq("row", "data", "small", "value"),
    "zh" -> Seq("window", "merge", "batch", "spark"),
    "fr" -> Seq("join", "query", "sort", "filter"))

  private def inList(w: String, vocab: Seq[String]): String =
    vocab.map(v => s"'$v'").mkString(s"$w IN (", ", ", ")")

  /** Same modulus/base constants as Dedup's shingle composition (all
    * intermediates stay under 2^51, exact in DuckDB's arithmetic).
    * Declared BEFORE `defs`: the oracle SQL strings interpolate them at
    * object-init time, and a later val would still be 0 here.
    */
  private val DedupP = graft.operators.Dedup.P
  private val Dedup3B = graft.operators.Dedup.ShingleB

  /** Frequency-sorted vocabulary, range-partitioned on the rank ordering —
    * exposed separately so PlanSpec can assert the sort stage really fans
    * out across nPart partitions (the stage sits behind an RDD boundary in
    * the final query plan, invisible from there).
    */
  def sortedVocab(vocab: DataFrame, nPart: Int): DataFrame =
    vocab.repartitionByRange(math.max(nPart, 2), col("cnt").desc, col("w"))
      .sortWithinPartitions(col("cnt").desc, col("w"))

  /** q_token_rarity body over an arbitrary documents relation.
    * NOTE: construction is EAGER — repartitionByRange samples and
    * zipWithIndex runs its offset job when the DataFrame is built; that is
    * the price of a shuffle-scalable global rank (see the QueryDef
    * comment), so plan-inspection tooling should point at a small sfDir.
    */
  def tokenRarity(s: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    val wpos = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val vocab = wpos.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val nPart = math.max(s.sparkContext.defaultParallelism, 1)
    // sort semantics stay in DataFrame land (UTF8 binary string order,
    // matching the oracle's collation); zipWithIndex only enumerates
    val ranked = sortedVocab(vocab, nPart)
      .select(col("w")).rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getString(0), i + 1L) }
    val vocabRanked = s.createDataFrame(ranked).toDF("w", "rnk")
    wpos.join(vocabRanked, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        Num.r4(avg(col("rnk"))).as("mean_rank"),
        min(col("rnk")).as("min_rank"),
        max(col("rnk")).as("max_rank"))
  }

  /** q_repetition_filter body over an arbitrary documents relation: all
    * four signals come from the map-only `RepetitionStats` expression
    * (the old posexplode + window + two-groupBy + join shape paid three
    * exchanges; parity is covered by the oracle row and the spec on the
    * expression's building blocks in ShingleHashArraySpec).
    */
  def repetitionFilter(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), org.apache.spark.sql.graft.ArrayExpressions
        .repetitionStats(col("text")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"),
        col("s.n_grams").as("n_grams"), col("s.n_unique").as("n_unique"),
        Num.r4(lit(1.0) - col("s.n_unique") * 1.0 / col("s.n_grams")).as("dup_ratio"),
        col("s.top_word_n").as("top_word_n"),
        Num.r4(col("s.top_word_n") * 1.0 / col("s.n_words")).as("top_word_frac"))

  /** Target domain for q_dsir_weights (declared before `defs` — the
    * oracle SQL interpolates it at object-init time).
    */
  private val DsirTarget = "src0"

  /** q_zipf_curve / q_vocab_coverage / q_pmi_collocations constants —
    * declared before `defs` (the oracle SQL strings interpolate them at
    * object-init time). The coverage ladder tops out at 50 because the
    * synthetic corpus's working vocabulary is ~40 words; the MECHANISM
    * (ranked conditional sums over one vocab groupBy) is k-independent.
    */
  private val ZipfTopK = 50
  private val CoverageKs = Seq(5, 10, 25, 50)
  private val PmiMinCount = 5
  private val PmiTopK = 50

  /** q_boilerplate_ngrams constants. The corpus is fully distinct text,
    * so (as with the dedup probes) the query derives a deterministic
    * boilerplate-stamped variant from the table itself: three fixture
    * snippets of different lengths appended by doc_id residue — residue
    * arithmetic, not id magnitude, so MakeTier's 1e9 replica stride only
    * shifts WHICH docs carry each snippet, never the density (the
    * q_neardup_admit membership lesson). 8-grams: long enough that the
    * random-draw corpus has ~zero organic cross-doc repeats, so the
    * mined table is exactly the planted boilerplate plus its counts.
    */
  private val BpN = 8
  private val BpTopK = 20
  private val BpMinDocs = 2
  private val BpSnippets: Seq[(Int, String)] = Seq(
    3 -> "subscribe to our newsletter for weekly updates and offers",
    5 -> "all rights reserved unauthorized reproduction of this material is prohibited",
    7 -> "this site uses cookies to improve your browsing experience and measure traffic")

  /** q_bm25_search's fixed query-term set — ONE list feeding the SQL
    * WHERE-IN, the SQL's fixed-order CASE-arm sum, the DataFrame filter,
    * and the fixed-order Column sum (declared before `defs` for the same
    * init-order reason). The ADDITION ORDER of the per-term contributions
    * is this list's order in both dialects; a term present in the filters
    * but missing from the sum arms would silently zero its contribution,
    * so all four sites must derive from here.
    */
  private val Bm25Terms = Seq("data", "value", "system")

  /** q_bm25_topk's query RELATION — (qid, term) rows, the general corpus-
    * search surface (q_bm25_search scores ONE fixed term set; a search
    * system scores N queries and wants top-k per query). Declared before
    * `defs`: the oracle interpolates it as a VALUES list. Terms are drawn
    * from the corpus's working vocabulary so every query matches.
    */
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "join", 1 -> "hash",
    2 -> "scan", 2 -> "filter", 2 -> "fast",
    3 -> "window", 3 -> "stream",
    4 -> "sort", 4 -> "merge", 4 -> "batch",
    5 -> "vector", 5 -> "data",
    6 -> "query", 6 -> "slow", 6 -> "spark",
    7 -> "group", 7 -> "agg",
    8 -> "customer", 8 -> "order", 8 -> "table")

  /** Top-k cut for q_bm25_topk. */
  private val Bm25TopK = 10

  /** Quality-score stopword list: ONE definition for both engines. */
  private val QualityStopWords = Seq("the", "a", "of", "and", "data", "value")

  /** n_stop of the quality score: stopword hits in a word array. */
  private[queries] def stopCount(ws: Column): Column =
    size(filter(ws, w => QualityStopWords.foldLeft(lit(false))((acc, v) => acc || (w === v))))

  /** SQL twin of `stopCount` over a word-array expression. */
  private[queries] def stopCountSql(ws: String): String =
    s"len(list_filter($ws, w -> w IN (${QualityStopWords.map(w => s"'$w'").mkString(", ")})))"

  /** The quality score on the r4 grid over (n_words, n_stop, n_punct,
    * n_chars): ONE formula for q_text_quality, q_dedup_keeper_quality, the
    * curation manifest and the funnel's quality cut.
    */
  private[queries] def qualityScore(nWords: Column, nStop: Column, nPunct: Column,
                                    nChars: Column): Column =
    Num.r4(lit(0.4) * least(nWords / 50.0, lit(1.0))
      + lit(0.3) * (nStop * 1.0 / nWords)
      + lit(0.3) * (lit(1.0) - nPunct * 1.0 / nChars))

  /** SQL twin of `qualityScore`. */
  private[queries] def qualityScoreSql(nWords: String, nStop: String, nPunct: String,
                                       nChars: String): String =
    s"""round(0.4 * least($nWords / 50.0, 1.0)
       |      + 0.3 * (($nStop * 1.0) / $nWords)
       |      + 0.3 * (1.0 - ($nPunct * 1.0) / $nChars) + 0.00000025, 4)""".stripMargin

  /** The quality-score CTE chain over an (idCol, text) relation `rel`:
    * qt(id, counts) → qscore(id, counts, quality on the r4 grid). ONE
    * definition shared by q_text_quality and q_dedup_keeper_quality —
    * the keeper policy ranks by exactly the score the filter reports.
    */
  private[queries] def qualityChainSql(rel: String, idCol: String): String =
    s"""qt AS (
       |  SELECT $idCol AS id,
       |         length(text) AS n_chars2,
       |         len(${TextOps.wordsSql("text")}) AS n_words,
       |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |         ${stopCountSql(TextOps.wordsSql("text"))} AS n_stop
       |  FROM $rel),
       |qscore AS MATERIALIZED (
       |  SELECT id, n_chars2, n_words, n_punct, n_stop,
       |         ${qualityScoreSql("n_words", "n_stop", "n_punct", "n_chars2")} AS quality
       |  FROM qt)""".stripMargin

  /** Scala twin of qualityChainSql over an (id, text) relation:
    * (id, n_chars2, n_words, n_punct, n_stop, quality). */
  private[queries] def qualityScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("id"),
        length(col("text")).as("n_chars2"),
        size(TextOps.words(col("text"))).as("n_words"),
        // native twin of size(regexp_extract_all(text, "[^A-Za-z0-9\s]"))
        // (AsciiCountsParitySpec; the oracle keeps its regexp form)
        org.apache.spark.sql.graft.ArrayExpressions
          .nonAlnumSpaceCount(col("text")).as("n_punct"),
        stopCount(TextOps.words(col("text"))).as("n_stop"))
      .withColumn("quality",
        qualityScore(col("n_words"), col("n_stop"), col("n_punct"), col("n_chars2")))

  /** The BM25 scoring CTE chain over a `q(qid, term)` relation —
    * ws → tot → w → tf → dft → c → sc(qid, doc_id, score_u) in integer
    * micro-units. ONE definition shared by q_bm25_topk and q_hybrid_rrf's
    * lexical arm (the Bm25Terms lesson: BM25 sites drift silently unless
    * every dialect derives from one place — the Scala twin is bm25TopK).
    */
  private[queries] def bm25ChainSql: String =
    s"""ws AS (
       |  SELECT doc_id, CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS dl
       |  FROM documents),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total
       |  FROM ws),
       |w AS (SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
       |tf AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM w
       |  WHERE w IN (SELECT term FROM q)
       |  GROUP BY doc_id, w),
       |dft AS (SELECT w, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY w),
       |c AS (
       |  SELECT t.doc_id, t.w,
       |         CAST(round((ln(1 + (tot.n - d.dft + 0.5) / (d.dft + 0.5))
       |           * ((t.tf * 2.2)
       |              / (t.tf + 1.2 * (0.25 + 0.75 * ((s.dl * tot.n) / tot.total))))
       |           + 0.00000025) * 10000, 0) AS BIGINT) AS c_u
       |  FROM tf t JOIN dft d USING (w) JOIN ws s ON s.doc_id = t.doc_id, tot),
       |sc AS (
       |  SELECT q.qid, c.doc_id, CAST(sum(c.c_u) AS BIGINT) AS score_u
       |  FROM c JOIN q ON q.term = c.w GROUP BY q.qid, c.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Language ID: score = #words in each language profile; argmax with
    // deterministic tie order (en > es > zh > fr).
    QueryDef(
      "q_lang_id", {
        val scores = profiles.map { case (lang, vocab) =>
          s"len(list_filter(ws, w -> ${inList("w", vocab)})) AS s_$lang"
        }.mkString(",\n        |                ")
        s"""WITH t AS (SELECT doc_id, lang AS lang_actual,
           |                ${TextOps.wordsSql("text")} AS ws FROM documents),
           |s AS (SELECT doc_id, lang_actual,
           |                $scores FROM t)
           |SELECT doc_id, lang_actual,
           |       CASE WHEN s_en >= s_es AND s_en >= s_zh AND s_en >= s_fr THEN 'en'
           |            WHEN s_es >= s_zh AND s_es >= s_fr THEN 'es'
           |            WHEN s_zh >= s_fr THEN 'zh'
           |            ELSE 'fr' END AS lang_pred,
           |       s_en, s_es, s_zh, s_fr
           |FROM s""".stripMargin
      }) { (s, dir) =>
      val ws = TextOps.words(col("text"))
      val withScores = profiles.foldLeft(
        Tables.documents(s, dir).select(
          col("doc_id"), col("lang").as("lang_actual"), ws.as("ws"))) {
        case (df, (lang, vocab)) =>
          df.withColumn(s"s_$lang",
            size(filter(col("ws"), w => vocab.foldLeft(lit(false))((acc, v) => acc || (w === v)))))
      }
      withScores
        .withColumn("lang_pred",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_zh") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_es") >= col("s_zh") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_zh") >= col("s_fr"), "zh")
            .otherwise("fr"))
        .select("doc_id", "lang_actual", "lang_pred", "s_en", "s_es", "s_zh", "s_fr")
    },

    // Quality scoring: length/punctuation/stopword/word-shape signals
    // combined into one score — the standard pre-training filter shape.
    // The scoring formula is the shared qualityChainSql / qualityScored
    // pair (also ranks q_dedup_keeper_quality's per-cluster keeper).
    QueryDef(
      "q_text_quality",
      s"""WITH ${qualityChainSql("documents", "doc_id")}
         |SELECT id AS doc_id, n_words,
         |       round((n_chars2 * 1.0) / n_words + 0.00000025, 4) AS avg_word_len,
         |       round((n_punct * 1.0) / n_chars2 + 0.00000025, 4) AS punct_ratio,
         |       round((n_stop * 1.0) / n_words + 0.00000025, 4) AS stop_ratio,
         |       quality
         |FROM qscore""".stripMargin) { (s, dir) =>
      qualityScored(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("text")))
        .select(col("id").as("doc_id"), col("n_words"),
          Num.r4(col("n_chars2") * 1.0 / col("n_words")).as("avg_word_len"),
          Num.r4(col("n_punct") * 1.0 / col("n_chars2")).as("punct_ratio"),
          Num.r4(col("n_stop") * 1.0 / col("n_words")).as("stop_ratio"),
          col("quality"))
    },

    // Token counting: whitespace tokens + BPE-ish regex tokens + chars per
    // token — the budget arithmetic of a training-data pipeline.
    QueryDef(
      "q_token_count",
      s"""SELECT doc_id,
         |       len(${TextOps.wordsSql("text")}) AS ws_tokens,
         |       len(regexp_extract_all(text, '${TextOps.TokenPattern}')) AS bpe_tokens,
         |       round(length(text) * 1.0 /
         |             len(regexp_extract_all(text, '${TextOps.TokenPattern}')) + 0.00000025, 4)
         |         AS chars_per_token
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextOps.words(col("text"))).as("ws_tokens"),
          // native twin of size(regexp_extract_all(text, TokenPattern))
          // (AsciiCountsParitySpec; the oracle keeps its regexp form)
          org.apache.spark.sql.graft.ArrayExpressions
            .asciiTokenCount(col("text")).as("bpe_tokens"),
          length(col("text")).as("n"))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          Num.r4(col("n") * 1.0 / col("bpe_tokens")).as("chars_per_token"))
    },

    // Winnowing fingerprints (rolling hash): char 8-gram hashes, min per
    // 16-gram window, distinct — the MOSS/content-defined-chunking
    // primitive for plagiarism/near-dup detection.
    QueryDef(
      "q_doc_fingerprint",
      s"""WITH g AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos,
         |         text
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, pos,
         |         ${TextOps.hash64Sql("substr(text, CAST(pos AS INT), 8)")} AS kh
         |  FROM g),
         |w AS (
         |  SELECT doc_id,
         |         min(kh) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS fp
         |  FROM h)
         |SELECT DISTINCT doc_id, fp FROM w""".stripMargin) { (s, dir) =>
      // one codegen'd pass per document (custom Catalyst expression): the
      // per-doc distinct window-min set comes out as an array, so the
      // whole query is a shuffle-free map + explode — the old explode/
      // window/distinct formulation paid two exchanges and a sort
      // (parity-tested against it in WinnowFingerprintsSpec)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.ArrayExpressions
            .winnowFingerprints(col("text"))).as("fp"))
    },

    // Repetition filter (the Gopher-style within-document duplication
    // signals a pre-training curation pass cuts on): fraction of
    // duplicated 3-gram shingles and the most-frequent-word share. One
    // shuffle on doc_id; integer counts, rounded ratios.
    QueryDef(
      "q_repetition_filter", {
        val b = Dedup3B
        s"""WITH wpos AS (
           |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS w
           |  FROM (SELECT doc_id, ${TextOps.wordsSql("text")} AS ws FROM documents)),
           |wh AS (
           |  SELECT doc_id, pos, w, ${TextOps.hash64Sql("w")} % $DedupP AS whash
           |  FROM wpos),
           |g AS (
           |  SELECT doc_id,
           |         ((whash * $b + lead(whash, 1) OVER win) % $DedupP * $b
           |          + lead(whash, 2) OVER win) % $DedupP AS h,
           |         lead(whash, 2) OVER win AS guard
           |  FROM wh WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
           |grams AS (
           |  SELECT doc_id, count(*) AS n_grams,
           |         count(DISTINCT h) AS n_unique
           |  FROM g WHERE guard IS NOT NULL GROUP BY doc_id),
           |words AS (
           |  SELECT doc_id, sum(cnt) AS n_words, max(cnt) AS top_word_n
           |  FROM (SELECT doc_id, w, count(*) AS cnt FROM wpos GROUP BY doc_id, w)
           |  GROUP BY doc_id)
           |SELECT g.doc_id, g.n_grams, g.n_unique,
           |       round(1.0 - g.n_unique * 1.0 / g.n_grams + 0.00000025, 4) AS dup_ratio,
           |       CAST(w.top_word_n AS BIGINT) AS top_word_n,
           |       round(w.top_word_n * 1.0 / w.n_words + 0.00000025, 4) AS top_word_frac
           |FROM grams g JOIN words w ON w.doc_id = g.doc_id""".stripMargin
      }) { (s, dir) =>
      repetitionFilter(Tables.documents(s, dir))
    },

    // Token-rarity scoring: corpus-level word frequencies ranked, then
    // joined back per document — the integer-exact proxy for a unigram-LM
    // quality filter (rare-token-heavy docs score high). Two-pass shape:
    // global dictionary aggregation, then an equijoin back over the corpus
    // (AQE broadcasts the dictionary when it fits; at open-web scale the
    // vocabulary is billions of raw tokens, so no hard broadcast hint).
    // The global rank is computed WITHOUT a single-partition window:
    // range-partition the dictionary on the rank ordering, sort within
    // partitions, and assign contiguous indices with zipWithIndex — the only
    // driver-side data is one row-count per partition. Because `w` is unique
    // after the groupBy, (cnt desc, w) is a total unique ordering, so
    // dense_rank == row_number == this global index, deterministically.
    QueryDef(
      "q_token_rarity",
      s"""WITH wpos AS (
         |  SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
         |vocab AS (
         |  SELECT w, CAST(dense_rank() OVER (ORDER BY count(*) DESC, w) AS BIGINT) AS rnk
         |  FROM wpos GROUP BY w)
         |SELECT doc_id, count(*) AS n_words,
         |       round(avg(rnk) + 0.00000025, 4) AS mean_rank,
         |       min(rnk) AS min_rank, max(rnk) AS max_rank
         |FROM wpos JOIN vocab USING (w)
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      tokenRarity(s, Tables.documents(s, dir))
    },

    // TF-IDF top terms: per doc, the 3 highest tf*ln(N/df) terms — the
    // canonical retrieval / keyword-extraction feature a curation pass
    // attaches to every document. Shape: one (doc_id, w) count, one
    // document-frequency aggregation equijoined back (AQE broadcasts the
    // df table when it fits), rank window partitioned BY DOC — never a
    // global sort. Ranking keys are the ROUNDED score (identical in both
    // engines; ln ulp noise sits 1e-12 below the 4-decimal grid) then the
    // term, so order is deterministic cross-engine.
    QueryDef(
      "q_tfidf_top_terms",
      s"""WITH wpos AS (
         |  SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
         |tf AS (
         |  SELECT doc_id, w, count(*) AS tf FROM wpos GROUP BY doc_id, w),
         |dfreq AS (
         |  SELECT w, count(DISTINCT doc_id) AS dft FROM wpos GROUP BY w),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, w, tf, dft,
         |         round(tf * ln(CAST(n_docs AS DOUBLE) / dft)
         |               + 0.00000025, 4) AS tfidf
         |  FROM tf JOIN dfreq USING (w), n)
         |SELECT doc_id, w, tf, dft, tfidf, CAST(rnk AS INT) AS rnk
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wpos = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      // Single tokenize pass: tf is the only aggregation that reads the
      // token stream. df = count of (doc_id, w) rows per w — tf already
      // dedupes per doc, and counting the tf COLUMN (never null, count >= 1)
      // keeps dfreq's subtree canonically identical to tf's, so AQE reuses
      // the (doc_id, w) shuffle stage and the corpus scan + tokenize runs
      // ONCE (PlanSpec-guarded; counting lit(1) let column pruning strip
      // the partial_count from dfreq's branch and re-tokenize the corpus).
      // n_docs comes straight off documents' parquet row count, and the
      // oracle's n CTE uses the SAME definition (count(*) FROM documents)
      // so the two engines share one n_docs by construction — no reliance
      // on the every-doc-tokenizes invariant (a NULL-text doc would drop
      // from wpos in both engines but still counts as a document here).
      // The third tokenize pass is a metadata-only count either way.
      val tf = wpos.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // dft counts rows of tf per w, but phrased so the tf column survives
      // column pruning (tf > 0 always holds — count(1) >= 1 — yet Catalyst
      // can't prove that statically, so it can't strip the reference the
      // way it does for count(tf) on a non-null column).
      val dfreq = tf.groupBy(col("w"))
        .agg(count(when(col("tf") > 0, lit(1))).as("dft"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "w")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          Num.r4(col("tf") * log(col("n_docs").cast("double") / col("dft"))))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w")))
          .cast("int"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "w", "tf", "dft", "tfidf", "rnk")
    },

    // BM25 retrieval scoring (Robertson-Spärck Jones, k1 = 1.2, b = 0.75)
    // for a fixed query-term set — the corpus-search kernel a data team
    // points at its training store. Cross-engine float discipline: every
    // count stays integer until ONE final mirrored expression per term
    // (idf * (tf·2.2) / (tf + 1.2·(0.25 + 0.75·(dl·N)/total)) — the
    // length ratio is (dl·N)/total so the only divisions are
    // exact-integer-input IEEE ops), and the per-term contributions are
    // added in FIXED textual order (data + value + system) instead of a
    // float sum aggregate, so partial-agg ordering can't fork the
    // engines; r4+eps rounds the result onto the shared grid (the
    // q_tfidf ulp argument). Shape: one tokenize pass, term filter BEFORE
    // the tf groupBy (the stream shrinks to |terms| rows per doc), df and
    // totals are term-/scalar-sized broadcasts, score is map-side.
    QueryDef(
      "q_bm25_search",
      s"""WITH ws AS (
         |  SELECT doc_id, CAST(len(${TextOps.wordsSql("text")}) AS BIGINT) AS dl
         |  FROM documents),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS total
         |  FROM ws),
         |w AS (SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
         |tf AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM w
         |  WHERE w IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY doc_id, w),
         |dft AS (SELECT w, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY w),
         |c AS (
         |  SELECT t.doc_id, t.w,
         |         ln(1 + (tot.n - d.dft + 0.5) / (d.dft + 0.5))
         |           * ((t.tf * 2.2)
         |              / (t.tf + 1.2 * (0.25 + 0.75 * ((s.dl * tot.n) / tot.total))))
         |           AS c
         |  FROM tf t JOIN dft d USING (w) JOIN ws s ON s.doc_id = t.doc_id, tot)
         |SELECT ws.doc_id, ws.dl,
         |       round(${Bm25Terms.map(t =>
              s"COALESCE(sum(CASE WHEN c.w = '$t' THEN c.c END), 0)")
              .mkString("\n         |             + ")}
         |             + 0.00000025, 4) AS bm25
         |FROM ws LEFT JOIN c ON c.doc_id = ws.doc_id
         |GROUP BY ws.doc_id, ws.dl""".stripMargin) { (s, dir) =>
      bm25Search(Tables.documents(s, dir))
    },

    // BM25 generalized to a QUERY RELATION with top-k per query — the
    // retrieval surface over a training store (Robertson et al., BM25;
    // beyond-reference). Cross-engine float discipline differs from
    // q_bm25_search's fixed-order trick (which caps at a literal term
    // list): each per-(doc, term) contribution is rounded onto a 1e-4
    // grid and SCALED TO INTEGER micro-units (the q_identity_pagerank
    // integer-sum precedent), so the per-(query, doc) score is an exact
    // integer sum — commutative, partial-agg-proof, any query length.
    // Shape: two tokenize passes (dl + stream), the term filter is a
    // broadcast semi-join against the query relation's distinct terms
    // (the inverted-index probe — the stream shrinks to |matched terms|
    // rows per doc BEFORE the tf groupBy), df/totals broadcast, and the
    // top-k is rank-limited per query (WindowGroupLimit pushes the k-cut
    // ahead of the shuffle; no global sort — PlanSpec-guarded, the
    // q_weighted_sample shape).
    QueryDef(
      "q_bm25_topk",
      s"""WITH q(qid, term) AS (VALUES
         |  ${Bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
         |$bm25ChainSql,
         |rk AS (
         |  SELECT qid, doc_id, score_u,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY score_u DESC, doc_id) AS rank
         |  FROM sc)
         |SELECT qid, rank, doc_id, score_u FROM rk WHERE rank <= $Bm25TopK""".stripMargin) { (s, dir) =>
      import s.implicits._
      bm25TopK(Tables.documents(s, dir),
        Bm25Queries.toDF("qid", "term"), Bm25TopK)
    },

    // Unigram-LM scoring (the CCNet-style perplexity quality filter, with
    // the corpus's own unigram model standing in for the external KenLM):
    // per doc, mean token log-probability and the perplexity exp(-avg).
    // Shape: one dictionary aggregation, one scalar total, equijoin back
    // over the token stream (AQE broadcasts the LM when it fits; at
    // open-web scale the LM is a capped top-V dictionary with an OOV
    // floor, so the broadcast stays bounded). ln/exp ulp noise sits far
    // below the rounded 4-decimal grid (same argument as q_tfidf).
    QueryDef(
      "q_unigram_logprob",
      s"""WITH wpos AS (
         |  SELECT doc_id, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
         |vocab AS (SELECT w, count(*) AS cnt FROM wpos GROUP BY w),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
         |lm AS (SELECT w, ln(cnt * 1.0 / t) AS logp FROM vocab, tot)
         |SELECT doc_id, count(*) AS n_words,
         |       round(avg(logp) + 0.00000025, 4) AS avg_logp,
         |       round(exp(-avg(logp)) + 0.00000025, 4) AS ppl
         |FROM wpos JOIN lm USING (w)
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      unigramLogprob(Tables.documents(s, dir))
    },

    // Domain-mixture audit (the data-mixing / DoReMi-shaped measurement):
    // per source, KL(P_source || P_corpus) over the unigram distribution —
    // how far each domain's token mix sits from the corpus blend, the
    // number a mixture-reweighting pass consumes. Shape: one (source, w)
    // count feeding three roll-ups, equijoined back on w; never more than
    // dictionary-sized intermediates per source.
    QueryDef(
      "q_source_mix_kl",
      s"""WITH wpos AS (
         |  SELECT source, unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
         |sw AS (SELECT source, w, count(*) AS c FROM wpos GROUP BY source, w),
         |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM sw GROUP BY source),
         |gw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM sw GROUP BY w),
         |g AS (SELECT CAST(sum(cg) AS BIGINT) AS tg FROM gw),
         |terms AS (
         |  SELECT sw.source,
         |         (sw.c * 1.0 / st.ts)
         |           * ln((sw.c * 1.0 / st.ts) / (gw.cg * 1.0 / g.tg)) AS term
         |  FROM sw JOIN st USING (source) JOIN gw USING (w), g),
         |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
         |SELECT t.source, nd.n_docs, st.ts AS n_tokens,
         |       round(sum(t.term) + 0.00000025, 4) AS kl
         |FROM terms t JOIN nd ON nd.source = t.source
         |             JOIN st ON st.source = t.source
         |GROUP BY t.source, nd.n_docs, st.ts""".stripMargin) { (s, dir) =>
      sourceMixKl(Tables.documents(s, dir))
    },

    // DSIR-style importance weights (Xie et al. 2023, data selection via
    // importance resampling): per doc, the log-likelihood ratio of the
    // doc's tokens under an add-one-smoothed unigram model of a TARGET
    // domain (here source = 'src0') vs the RAW corpus model. Positive
    // log-ratio = the doc looks more like the target than like the
    // average corpus — the selection signal a targeted-pretraining pass
    // resamples by. Shape: both models are dictionary-sized count tables
    // (broadcast); scoring is one equijoin of the token stream against
    // the merged model + a per-doc sum — at 100 TB the corpus tokenizes
    // once and nothing ever materializes beyond vocab size. The keep
    // decision derives from the ROUNDED score so the boundary is
    // engine-exact.
    QueryDef(
      "q_dsir_weights",
      s"""WITH wpos AS (
         |  SELECT doc_id, source, unnest(${TextOps.wordsSql("text")}) AS w
         |  FROM documents),
         |raw AS (SELECT w, count(*) AS cr FROM wpos GROUP BY w),
         |tgt AS (
         |  SELECT w, count(*) AS ct FROM wpos WHERE source = '$DsirTarget'
         |  GROUP BY w),
         |tot AS (
         |  SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(count(*) AS BIGINT) AS v
         |  FROM raw),
         |ttot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tgt),
         |lm AS (
         |  SELECT raw.w,
         |         ln((COALESCE(tgt.ct, 0) + 1) * 1.0 / (ttot.tt + tot.v))
         |         - ln((raw.cr + 1) * 1.0 / (tot.tr + tot.v)) AS lr
         |  FROM raw LEFT JOIN tgt ON tgt.w = raw.w, tot, ttot),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_words,
         |         round(sum(lr) + 0.00000025, 4) AS dsir_logratio
         |  FROM wpos JOIN lm ON lm.w = wpos.w GROUP BY doc_id)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, dsir_logratio,
         |       dsir_logratio > 0 AS kept
         |FROM sc""".stripMargin) { (s, dir) =>
      dsirWeights(Tables.documents(s, dir))
    },

    // Heaps-law vocabulary growth (round-13, 132nd query): cumulative
    // distinct-word count vs cumulative token count over 10 corpus
    // prefixes — THE saturation diagnostic a data team reads before
    // scaling a source (a flattening curve means more of the same
    // vocabulary; tokenizer/vocab sizing and dedup-aggressiveness
    // decisions hang off it; Heaps 1978). Shapes: one groupBy(word) for
    // first-appearance steps (map-side combined), one 10-row step table,
    // two 10-row window cumsums — at 100 TB the only corpus-sized
    // exchange is the word groupBy, same as every LM query here. The
    // doc_id->step bucketing is deterministic arithmetic on the dense id
    // space, replayed identically by the oracle.
    QueryDef(
      "q_vocab_growth",
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
         |b AS (
         |  SELECT doc_id, CAST((doc_id * 10) // m AS INT) AS step, text
         |  FROM documents, mx),
         |per_doc AS (
         |  SELECT step, len(${TextOps.wordsSql("text")}) AS n_tok FROM b),
         |toks AS (
         |  SELECT step, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM per_doc GROUP BY step),
         |firstw AS (
         |  SELECT w, min(step) AS fs
         |  FROM (SELECT step, unnest(${TextOps.wordsSql("text")}) AS w FROM b)
         |  GROUP BY w),
         |voc AS (SELECT fs AS step, count(*) AS nv FROM firstw GROUP BY fs)
         |SELECT t.step,
         |       CAST(sum(t.tk) OVER (ORDER BY t.step
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_tokens,
         |       CAST(sum(COALESCE(v.nv, 0)) OVER (ORDER BY t.step
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_vocab
         |FROM toks t LEFT JOIN voc v ON v.step = t.step""".stripMargin) { (s, dir) =>
      vocabGrowth(Tables.documents(s, dir))
    },

    // Novel n-gram rate (round-13, 133rd query): fraction of the test
    // split's distinct n-grams (n = 1, 2, 3) never seen in the train
    // split — the corpus-level generalization-gap metric of the
    // memorization literature (e.g. the novel-n-gram analyses around
    // Pythia/GPT evals), complementing q_train_eval_contamination's
    // per-document overlap with a vocabulary-level rate. Splits come
    // from the ONE shared salted-hash split rule. Shapes per n: two
    // shingle scans (map-only codegen'd rolling hash), one distinct per
    // side, one anti equijoin on the gram hash — occurrence-linear,
    // never doc x doc; at 100 TB the train gram set is a persisted
    // table and the anti-join prunes to the (much smaller) test side.
    QueryDef(
      "q_novel_ngrams", {
        val arms = Seq(1, 2, 3).map { n =>
          s"""${graft.operators.Dedup.shinglePosSql(n, "tr", s"t${n}_")},
             |${graft.operators.Dedup.shinglePosSql(n, "te", s"e${n}_")},
             |r$n AS (
             |  SELECT $n AS n,
             |         (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM e${n}_spans) AS n_test_grams,
             |         (SELECT CAST(count(*) AS BIGINT) FROM
             |            (SELECT DISTINCT h FROM e${n}_spans
             |             EXCEPT SELECT DISTINCT h FROM t${n}_spans)) AS n_novel)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH s AS (
           |  SELECT doc_id AS id, text,
           |         ${CurationQueries.splitSql("doc_id")} AS split
           |  FROM documents),
           |tr AS (SELECT id, text FROM s WHERE split = 'train'),
           |te AS (SELECT id, text FROM s WHERE split = 'test'),
           |$arms
           |SELECT n, n_test_grams, n_novel,
           |       round(n_novel * 1.0 / n_test_grams + 0.00000025, 4) AS novel_rate
           |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |      UNION ALL SELECT * FROM r3)""".stripMargin
      }) { (s, dir) =>
      novelNgrams(Tables.documents(s, dir))
    },

    // Zipf rank-frequency curve (round-14): the top-ZipfTopK words with
    // their frequency rank and the rank*count Zipf product (constant
    // under an ideal Zipf law — the flatness of that column is the
    // corpus's deviation diagnostic, read next to q_vocab_growth's Heaps
    // curve when sizing tokenizer vocabularies). Shapes: one map-side-
    // combined word groupBy, a global top-K (orderBy+limit = Spark's
    // TakeOrderedAndProject, no full sort materialization), then a
    // K-row window for the dense rank — at 100 TB the only corpus-sized
    // exchange is the vocab groupBy. Rank order (cnt DESC, w ASC) is
    // total, so the K-boundary cut is engine-exact.
    QueryDef(
      "q_zipf_curve",
      s"""WITH v AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(${TextOps.wordsSql("text")}) AS w FROM documents)
         |  GROUP BY w),
         |r AS (
         |  SELECT w, cnt,
         |         CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rnk
         |  FROM v)
         |SELECT rnk, w, cnt, rnk * cnt AS zipf_c
         |FROM r WHERE rnk <= $ZipfTopK""".stripMargin) { (s, dir) =>
      zipfCurve(Tables.documents(s, dir))
    },

    // Top-k vocabulary coverage (round-14): the fraction of all token
    // occurrences covered by the k most frequent words, for the fixed
    // ladder CoverageKs — the tokenizer-sizing table (how small can the
    // vocab be before UNK/byte-fallback rates spike) and the long-tail
    // health check of a corpus mix. Integer ppm via BIGINT floor
    // division: deterministic in any accumulation order, exact in both
    // engines (int64 headroom to ~9e12 tokens; the DECIMAL accumulator
    // swap documented at Num.cents applies beyond that). One vocab
    // groupBy + one CoverageKs.max-row ranked slice + one 4-arm
    // conditional agg — map-side combine everywhere.
    QueryDef(
      "q_vocab_coverage", {
        val caseArms = CoverageKs.map(k =>
          s"CAST(sum(CASE WHEN rnk <= $k THEN cnt ELSE 0 END) AS BIGINT) AS c$k")
          .mkString(",\n         |         ")
        val unionArms = CoverageKs.map(k =>
          s"SELECT CAST($k AS BIGINT) AS k, c$k AS covered FROM c")
          .mkString("\n         |      UNION ALL ")
        s"""WITH v AS MATERIALIZED (
           |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(${TextOps.wordsSql("text")}) AS w FROM documents)
           |  GROUP BY w),
           |tot AS (
           |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
           |         CAST(count(*) AS BIGINT) AS n_vocab
           |  FROM v),
           |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM v),
           |c AS MATERIALIZED (
           |  SELECT $caseArms
           |  FROM r WHERE rnk <= ${CoverageKs.max})
           |SELECT k, n_vocab, covered,
           |       covered * 1000000 // total AS coverage_ppm
           |FROM ($unionArms), tot""".stripMargin
      }) { (s, dir) =>
      vocabCoverage(Tables.documents(s, dir))
    },

    // PMI collocations (round-14): the top-PmiTopK bigrams by pointwise
    // mutual information among bigrams seen >= PmiMinCount times — the
    // classic collocation extractor (Church & Hanks 1990), the
    // phrase-mining / tokenizer-merge-candidate pass of a corpus
    // pipeline. PMI = ln(p(w1w2) / (p(w1)p(w2))) with bigram-stream and
    // token-stream denominators; the rank orders by the ROUNDED score
    // (ties broken by w1, w2) so the K-boundary cut is engine-exact.
    // Shapes: the bigram stream is a map-only zip of the word array with
    // its own tail (no positional self-join), then two map-side-combined
    // groupBys and two vocab equijoins (AQE broadcasts the Heaps-bounded
    // vocab at bench scale; the same plan degrades to linear shuffles at
    // 100 TB) and a global top-K.
    QueryDef(
      "q_pmi_collocations",
      s"""WITH t AS MATERIALIZED (
         |  SELECT ${TextOps.wordsSql("text")} AS ws FROM documents),
         |uni AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
         |bgx AS (SELECT unnest(range(1, len(ws))) AS i, ws FROM t),
         |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM bgx),
         |c2 AS MATERIALIZED (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY w1, w2),
         |tot AS (
         |  SELECT (SELECT CAST(sum(c2) AS BIGINT) FROM c2) AS n2,
         |         (SELECT CAST(sum(c1) AS BIGINT) FROM uni) AS n1),
         |sc AS (
         |  SELECT c2.w1, c2.w2, c2.c2,
         |         ${Num.r4Sql(
              "ln((c2.c2 * 1.0 / n2) / ((a.c1 * 1.0 / n1) * (b.c1 * 1.0 / n1)))")} AS pmi
         |  FROM c2
         |  JOIN uni a ON a.w = c2.w1
         |  JOIN uni b ON b.w = c2.w2, tot
         |  WHERE c2.c2 >= $PmiMinCount)
         |SELECT rnk, w1, w2, c2, pmi FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rnk,
         |         w1, w2, c2, pmi
         |  FROM sc)
         |WHERE rnk <= $PmiTopK""".stripMargin) { (s, dir) =>
      pmiCollocations(Tables.documents(s, dir))
    },

    // Boilerplate n-gram mining (round-14): the top cross-document
    // 8-grams with their READABLE text — the C4/RefinedWeb audit table
    // ("most common lines/paragraphs") that feeds hand-curated removal
    // lists, complementing the span machinery (which CUTS duplicated
    // spans but never surfaces what they say). Two passes, both linear:
    // (1) positional rolling-hash scan -> doc-frequency per gram hash
    // (one shuffle, map-side combined); (2) the n_docs >= BpMinDocs
    // survivor set is boilerplate-sized, so the exemplar row_number and
    // the text-slice join run on a broadcast-pruned sliver — gram TEXT
    // is materialized only for the survivors, never for the corpus
    // (8x corpus bytes if done naively).
    QueryDef(
      "q_boilerplate_ngrams", {
        val caseArms = BpSnippets.map { case (r, snip) =>
          s"WHEN doc_id % 9 = $r THEN text || ' $snip'"
        }.mkString("\n           |              ")
        s"""WITH bb AS MATERIALIZED (
           |  SELECT doc_id AS id,
           |         CASE $caseArms
           |              ELSE text END AS text
           |  FROM documents),
           |${graft.operators.Dedup.shinglePosSql(BpN, "bb", "bp_")},
           |bps AS MATERIALIZED (SELECT id, pos, h FROM bp_spans),
           |freq AS (
           |  SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
           |         CAST(count(DISTINCT id) AS BIGINT) AS n_docs
           |  FROM bps GROUP BY h),
           |top AS MATERIALIZED (SELECT * FROM freq WHERE n_docs >= $BpMinDocs),
           |ex AS (
           |  SELECT h, id, pos FROM (
           |    SELECT s.h, s.id, s.pos,
           |           row_number() OVER (PARTITION BY s.h ORDER BY s.id, s.pos) AS rn
           |    FROM bps s JOIN top t ON t.h = s.h)
           |  WHERE rn = 1),
           |gr AS (
           |  SELECT e.h,
           |         array_to_string(
           |           ${TextOps.wordsSql("b.text")}[e.pos:e.pos + ${BpN - 1}], ' ') AS gram
           |  FROM ex e JOIN bb b ON b.id = e.id)
           |SELECT rnk, gram, n_occ, n_docs FROM (
           |  SELECT CAST(row_number()
           |           OVER (ORDER BY n_docs DESC, n_occ DESC, gram) AS BIGINT) AS rnk,
           |         g.gram, t.n_occ, t.n_docs
           |  FROM top t JOIN gr g ON g.h = t.h)
           |WHERE rnk <= $BpTopK""".stripMargin
      }) { (s, dir) =>
      boilerplateNgrams(Tables.documents(s, dir))
    })

  /** Frequency-ranked vocabulary over an arbitrary documents relation:
    * one map-side-combined groupBy — shared by the Zipf, coverage, and
    * (transposed through joins) PMI queries.
    */
  private def rankedVocab(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** q_zipf_curve body over an arbitrary documents relation. */
  def zipfCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = rankedVocab(docs)
    // orderBy+limit = TakeOrderedAndProject (per-partition top-K, one
    // K-row driver merge — never a full vocab sort); the window then
    // ranks only the K surviving rows under the SAME total order
    val byRank = Window.orderBy(col("cnt").desc, col("w"))
    vocab.orderBy(col("cnt").desc, col("w")).limit(ZipfTopK)
      .withColumn("rnk", row_number().over(byRank).cast("long"))
      .select(col("rnk"), col("w"), col("cnt"),
        (col("rnk") * col("cnt")).as("zipf_c"))
  }

  /** q_vocab_coverage body over an arbitrary documents relation. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // vocab feeds the totals AND the ranked slice — cache so the corpus
    // tokenizes once (at scale: persist the vocab table per pass). The
    // coverage grid is aggregate-small → eager SmallResult, vocab
    // unpersists before return.
    val vocab = rankedVocab(docs).cache()
    val tot = vocab.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_vocab"))
    val byRank = Window.orderBy(col("cnt").desc, col("w"))
    val covArms = CoverageKs.map(k =>
      sum(when(col("rnk") <= k, col("cnt")).otherwise(lit(0L))).as(s"c$k"))
    val stackExpr = CoverageKs
      .map(k => s"CAST($k AS BIGINT), c$k").mkString(", ")
    val out = vocab.orderBy(col("cnt").desc, col("w")).limit(CoverageKs.max)
      .withColumn("rnk", row_number().over(byRank))
      .agg(covArms.head, covArms.tail: _*)
      .select(expr(
        s"stack(${CoverageKs.size}, $stackExpr) AS (k, covered)"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_vocab"), col("covered"),
        expr("covered * CAST(1000000 AS BIGINT) div total").as("coverage_ppm"))
    SmallResult(out, vocab)
  }

  /** q_pmi_collocations body over an arbitrary documents relation. */
  def pmiCollocations(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = TextOps.words(col("text"))
    // the bigram stream zips the word array with its own tail where the
    // document row already is — map-only, no positional self-join
    val n1m = greatest(size(ws) - 1, lit(0))
    val bg = docs
      .select(explode(arrays_zip(
        slice(ws, lit(1), n1m), slice(ws, lit(2), n1m))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
    // uni feeds both join sides and the n1 total, c2 feeds the scoring
    // and the n2 total — cache both so the corpus tokenizes once per
    // stream, not once per consumer (at scale: persist the count tables).
    // Top-K result → eager SmallResult, both unpersist before return.
    val uni = rankedVocab(docs).withColumnRenamed("cnt", "c1").cache()
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")).cache()
    val tots = c2.agg(sum(col("c2")).as("n2"))
      .crossJoin(uni.agg(sum(col("c1")).as("n1")))
    // two vocab equijoins: AQE broadcasts the Heaps-bounded vocab at
    // bench scale, the same plan degrades to linear shuffles at 100 TB
    val scored = c2.filter(col("c2") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(tots))
      .select(col("w1"), col("w2"), col("c2"),
        Num.r4(log((col("c2") * 1.0 / col("n2")) /
          ((col("c1a") * 1.0 / col("n1")) * (col("c1b") * 1.0 / col("n1")))))
          .as("pmi"))
    // rank over the ROUNDED score so the K-boundary is engine-exact
    val byScore = Window.orderBy(col("pmi").desc, col("w1"), col("w2"))
    val out = scored.orderBy(col("pmi").desc, col("w1"), col("w2")).limit(PmiTopK)
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .select(col("rnk"), col("w1"), col("w2"), col("c2"), col("pmi"))
    SmallResult(out, uni, c2)
  }

  /** q_boilerplate_ngrams body over an arbitrary documents relation. */
  def boilerplateNgrams(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stamped = BpSnippets.tail.foldLeft(
      when(col("doc_id") % 9 === BpSnippets.head._1,
        concat(col("text"), lit(" " + BpSnippets.head._2)))) {
      case (acc, (r, snip)) =>
        acc.when(col("doc_id") % 9 === r, concat(col("text"), lit(" " + snip)))
    }.otherwise(col("text"))
    // bb feeds the positional scan and the gram-text join; freq feeds the
    // exemplar text join and the final ranking — cache both so the corpus
    // stamps/tokenizes once. Top-K result → eager SmallResult, both
    // unpersist before return.
    val bb = docs.select(col("doc_id").as("id"), stamped.as("text")).cache()
    val sh = graft.operators.Dedup.shingleHashSeq(bb, col("id"), col("text"), BpN)
    // ONE pass over the positional scan instead of two (r18 left this as
    // "frequency + exemplar re-read the corpus"): a manual two-level
    // aggregate computes n_occ, the distinct doc count AND the exemplar
    // occurrence together. Level 1 groups by (h, id) — count(1) there is
    // per-doc occurrences, min(pos) the doc's first position; level 2 sums
    // occurrences, counts rows (== countDistinct(id), each (h, id) is one
    // row, without the distinct-aggregate expand), and min(struct(id, pos))
    // is exactly the (id, pos)-lexicographic first occurrence the old
    // row_number window picked. Both levels partial-aggregate map-side
    // (guide §2.3); the second window pass over the corpus-sized scan and
    // its broadcast prune are gone entirely (§2.4).
    val perDoc = sh.groupBy(col("h"), col("id"))
      .agg(count(lit(1)).as("c"), min(col("pos")).as("mp"))
    val freq = perDoc.groupBy(col("h"))
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"),
        min(struct(col("id"), col("mp"))).as("ex"))
      .filter(col("n_docs") >= BpMinDocs)
      .select(col("h"), col("n_occ"), col("n_docs"),
        col("ex.id").as("id"), col("ex.mp").as("pos"))
      .cache()
    // the survivor set is boilerplate-sized: the gram-text join broadcasts
    val gr = freq.select(col("h"), col("id"), col("pos")).join(bb, "id")
      .select(col("h"),
        concat_ws(" ",
          slice(TextOps.words(col("text")), col("pos"), lit(BpN))).as("gram"))
    val byRank = Window.orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
    val out = freq.select(col("h"), col("n_occ"), col("n_docs")).join(gr, "h")
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram")).limit(BpTopK)
      .withColumn("rnk", row_number().over(byRank).cast("long"))
      .select(col("rnk"), col("gram"), col("n_occ"), col("n_docs"))
    SmallResult(out, bb, freq)
  }

  /** q_vocab_growth body over an arbitrary documents relation. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = docs.agg((max(col("doc_id")) + 1).as("m"))
    // b feeds both the token totals and the word explosion — cache so
    // the corpus scans once per consumer, not once per branch of each
    val b = docs.crossJoin(broadcast(mx))
      .select(col("doc_id"),
        expr("CAST((doc_id * 10) div m AS INT)").as("step"), col("text"))
      .cache()
    val toks = b
      .select(col("step"), size(TextOps.words(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("step")).agg(sum(col("n_tok")).as("tk"))
    val voc = b.select(col("step"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("step")).as("fs"))
      .groupBy(col("fs")).agg(count(lit(1)).as("nv"))
      .select(col("fs").as("step"), col("nv"))
    // a 10-row global window — the step table is bounded by construction
    val cum = Window.orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = toks.join(voc, Seq("step"), "left")
      .select(col("step"),
        sum(col("tk")).over(cum).cast("long").as("cum_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(cum).cast("long").as("cum_vocab"))
    SmallResult(out, b)
  }

  /** q_novel_ngrams body over an arbitrary documents relation. */
  def novelNgrams(docs: DataFrame): DataFrame = {
    val s = docs.select(col("doc_id").as("id"), col("text"),
      CurationQueries.splitCol(col("doc_id")).as("split")).cache()
    val tr = s.filter(col("split") === "train").select("id", "text")
    val te = s.filter(col("split") === "test").select("id", "text")
    val arms = Seq(1, 2, 3).map { n =>
      val trH = graft.operators.Dedup.shingleHashes(tr, col("id"), col("text"), n)
        .select(col("h")).distinct()
      val teH = graft.operators.Dedup.shingleHashes(te, col("id"), col("text"), n)
        .select(col("h")).distinct()
      val novel = teH.join(trH, Seq("h"), "left_anti")
      teH.agg(count(lit(1)).as("n_test_grams"))
        .crossJoin(broadcast(novel.agg(count(lit(1)).as("n_novel"))))
        .select(lit(n).as("n"), col("n_test_grams"), col("n_novel"),
          Num.r4(col("n_novel") * 1.0 / col("n_test_grams")).as("novel_rate"))
    }
    SmallResult(arms.reduce(_ unionAll _), s)
  }

  /** q_unigram_logprob body over an arbitrary documents relation. */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    // wpos feeds both the LM build and the scoring join — cache so the
    // corpus tokenizes once (at scale: persist the token table per pass)
    val wpos = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .cache()
    val vocab = wpos.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val lm = vocab.crossJoin(broadcast(tot))
      .select(col("w"), log(col("cnt") * 1.0 / col("t")).as("logp"))
    wpos.join(lm, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        Num.r4(avg(col("logp"))).as("avg_logp"),
        Num.r4(exp(-avg(col("logp")))).as("ppl"))
  }

  /** q_dsir_weights body over an arbitrary documents relation. */
  def dsirWeights(docs: DataFrame): DataFrame = {
    // wpos feeds the raw model, the target model, and the scoring join —
    // cache so the corpus tokenizes once
    val wpos = docs
      .select(col("doc_id"), col("source"), explode(TextOps.words(col("text"))).as("w"))
      .cache()
    val raw = wpos.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgt = wpos.filter(col("source") === DsirTarget)
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val tot = raw.agg(sum(col("cr")).as("tr"), count(lit(1)).as("v"))
    val ttot = tgt.agg(sum(col("ct")).as("tt"))
    val lm = raw.join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ttot))
      .select(col("w"),
        (log((coalesce(col("ct"), lit(0L)) + 1) * 1.0 / (col("tt") + col("v")))
          - log((col("cr") + 1) * 1.0 / (col("tr") + col("v")))).as("lr"))
    wpos.join(broadcast(lm), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        Num.r4(sum(col("lr"))).as("dsir_logratio"))
      .withColumn("kept", col("dsir_logratio") > 0)
  }

  /** q_source_mix_kl body over an arbitrary documents relation. */
  def sourceMixKl(docs: DataFrame): DataFrame = {
    val (out, sw) = sourceMixKlLazy(docs)
    SmallResult(out, sw)
  }

  /** The kl body's LAZY plan plus its pinned intermediate — PlanSpec
    * asserts the dictionary-join shapes on this relation (the public
    * body materializes through SmallResult, whose checkpoint leaf hides
    * the interior plan from executedPlan).
    */
  private[graft] def sourceMixKlLazy(docs: DataFrame): (DataFrame, DataFrame) = {
    val wpos = docs.select(col("source"), explode(TextOps.words(col("text"))).as("w"))
    // sw is dictionary-sized (n_sources x vocab) and feeds three roll-ups
    // — cache, or the corpus tokenizes once per consumer
    val sw = wpos.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .cache()
    val st = sw.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val gw = sw.groupBy(col("w")).agg(sum(col("c")).as("cg"))
    val g = gw.agg(sum(col("cg")).as("tg"))
    val terms = sw.join(st, "source").join(gw, "w").crossJoin(broadcast(g))
      .select(col("source"),
        ((col("c") * 1.0 / col("ts"))
          * log((col("c") * 1.0 / col("ts")) / (col("cg") * 1.0 / col("tg"))))
          .as("term"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val out = terms.groupBy(col("source"))
      .agg(Num.r4(sum(col("term"))).as("kl"))
      .join(nd, "source").join(st, "source")
      .select(col("source"), col("n_docs"), col("ts").as("n_tokens"), col("kl"))
    (out, sw)
  }
  /** q_bm25_search body over an arbitrary documents relation (probe/spec
    * sharing contract).
    */
  def bm25Search(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // dl feeds THREE plan branches (totals, contrib join, final left
      // join) and its subtree is map-only — no exchange for Spark to
      // reuse, so without the cache the corpus would tokenize once per
      // branch (the unigramLogprob/dsirWeights sibling discipline). The
      // tf explode is the one other tokenize: two passes total, sizes +
      // stream.
      val dl = docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("dl")).cache()
      val tot = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
      val tf = docs
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
        .filter(col("w").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // document frequency: tf rows exist only for docs containing w, so a
      // plain row count per term IS df (matches the oracle's count(*))
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("dft"))
      val contrib = tf.join(broadcast(dft), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(tot))
        .withColumn("c",
          log(lit(1) + (col("n") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5)))
            * ((col("tf") * lit(2.2))
               / (col("tf") + lit(1.2) * (lit(0.25)
                  + lit(0.75) * ((col("dl") * col("n")) / col("total"))))))
      dl.join(contrib.select(col("doc_id"), col("w"), col("c")), Seq("doc_id"), "left")
        .groupBy(col("doc_id"), col("dl"))
        // fixed-order sum over the SAME term sequence the oracle's CASE
        // arms are generated from — reduce is left-associative, so the
        // addition order is the term list's order in both dialects
        .agg(Num.r4(
          Bm25Terms.map(t =>
              coalesce(sum(when(col("w") === t, col("c"))), lit(0.0)))
            .reduce(_ + _))
          .as("bm25"))
  }

  /** q_bm25_topk body over an arbitrary documents relation and (qid, term)
    * query relation (probe/spec sharing contract). Scores every query
    * against the corpus and returns the top `k` docs per query by
    * integer micro-unit BM25 (see the QueryDef comment for the float
    * discipline and the 100 TB shape).
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
               queries: org.apache.spark.sql.DataFrame,
               k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no .cache(): dl is read twice but is one narrow doc-sized scan, and
    // a cache here pins one entry per call in a long-lived session with
    // nobody responsible for unpersisting it (the lazy result outlives
    // this method, so an eager release would defeat the cache anyway)
    val dl = docs.select(col("doc_id"),
      size(TextOps.words(col("text"))).cast("long").as("dl"))
    val tot = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
    val qterms = queries.select(col("term").as("w")).distinct()
    val tf = docs
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .join(broadcast(qterms), Seq("w"), "left_semi")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("dft"))
    val contrib = tf.join(broadcast(dft), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("c",
        log(lit(1) + (col("n") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5)))
          * ((col("tf") * lit(2.2))
             / (col("tf") + lit(1.2) * (lit(0.25)
                + lit(0.75) * ((col("dl") * col("n")) / col("total"))))))
      // onto the 1e-4 grid, then integer micro-units: the per-query score
      // sum below is exact integer addition in both engines
      .withColumn("c_u",
        round((col("c") + lit(graft.operators.Num.Eps)) * 10000, 0).cast("long"))
    val scores = contrib
      .join(broadcast(queries.select(col("qid"), col("term").as("w"))), "w")
      .groupBy(col("qid"), col("doc_id")).agg(sum(col("c_u")).as("score_u"))
    val byScore = Window.partitionBy(col("qid"))
      .orderBy(col("score_u").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("score_u"))
  }

}
