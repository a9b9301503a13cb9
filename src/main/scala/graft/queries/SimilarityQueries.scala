package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Num, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search surface over the `embeddings` table (64-dim float
  * vectors): brute-force cosine pairs, top-k kNN for a query set, and
  * hyperplane-LSH bucketing (the ANN scale path).
  */
object SimilarityQueries {

  /** DuckDB working set: (vec_id, e DOUBLE[], nrm). */
  private val prepSql =
    """prep AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Truncated prefix width for q_embed_truncate_recall (vectors are
    * 64-dim). Declared before `defs` — interpolated into oracle SQL at
    * object-init time.
    */
  private val TruncDims = 32
  private val MaxQueryId = 20
  // probe bound for the leave-one-out kNN accuracy estimate: covers the
  // whole corpus at every verify SF (sf0.1 ships vec_ids 0..1999), fixes
  // the probe sample at larger scales (see q_knn_label_accuracy's note)
  private val KnnLooMax = 2000L

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine near-dup pairs (threshold 0.4). Baseline for the
    // LSH variant; at scale one side must be small/broadcast.
    QueryDef(
      "q_embed_cosine_pairs",
      s"""WITH $prepSql
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) AS cos
         |FROM prep a JOIN prep b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4""".stripMargin) { (s, dir) =>
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      Similarity.bruteForcePairs(s, prep, threshold = 0.4)
        .select(col("a"), col("b"), Num.r4(col("cosv")).as("cos"))
    },

    // Top-5 cosine neighbors for each query vector (vec_id < 20):
    // broadcast the query side, rank with a window — the standard
    // distributed exact-kNN shape. Rank on the rounded cosine with id
    // tie-break so ordering is engine-independent.
    QueryDef(
      "q_knn_topk",
      s"""WITH $prepSql
         |SELECT q, rank, b, cos FROM (
         |  SELECT a.vec_id AS q, b.vec_id AS b,
         |         round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) AS cos,
         |         CAST(row_number() OVER (
         |           PARTITION BY a.vec_id
         |           ORDER BY round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) DESC,
         |                    b.vec_id) AS INT) AS rank
         |  FROM prep a JOIN prep b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < 20)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      val q = prep.filter(col("vec_id") < 20).as("q")
      val b = prep.as("b")
      broadcast(q.select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
        .join(b, col("b.vec_id") =!= col("qid"))
        .select(col("qid").as("q"), col("b.vec_id").as("b"),
          Num.r4(Similarity.cosine(col("qe"), col("b.e"), col("qn"), col("b.nrm"))).as("cos"))
        .withColumn("rank",
          row_number().over(Window.partitionBy(col("q"))
            .orderBy(col("cos").desc, col("b"))))
        .filter(col("rank") <= 5)
        .select("q", "rank", "b", "cos")
    },

    // kNN label accuracy: leave-one-out 5-NN majority vote on the labeled
    // embeddings (ties -> smallest label), scored against the true label
    // per class — the standard embedding-quality eval. Same broadcast+rank
    // shape as q_knn_topk, then a count aggregation. Oracle evaluation
    // shape (r14 100x-tier lesson): the cosine is projected to a SCALAR
    // in `cand` before the rank window, so DuckDB's window sort carries
    // (q, b, cos) rows instead of dragging both 64-dim arrays through
    // the probe x corpus sort — at the 100x tier (2000 x 200k pairs)
    // the array-carrying form spilled past the sandbox disk. Results
    // are unchanged (same expression, same rank order).
    QueryDef(
      "q_knn_label_accuracy",
      s"""WITH $prepSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id AS q, b.vec_id AS b,
         |         round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
         |           + 0.00000025, 4) AS cos
         |  FROM prep a JOIN prep b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $KnnLooMax),
         |nn AS (
         |  SELECT q, b FROM (
         |    SELECT q, b,
         |           row_number() OVER (
         |             PARTITION BY q ORDER BY cos DESC, b) AS rank
         |    FROM cand)
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT nn.q, lb.label, count(*) AS n
         |  FROM nn JOIN lab lb ON lb.vec_id = nn.b
         |  GROUP BY nn.q, lb.label),
         |pred AS (
         |  SELECT q, label AS pred_label FROM (
         |    SELECT q, label,
         |           row_number() OVER (PARTITION BY q ORDER BY n DESC, label) AS r
         |    FROM votes) WHERE r = 1)
         |SELECT la.label, count(*) AS n_vecs,
         |       CAST(sum(CASE WHEN p.pred_label = la.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM pred p JOIN lab la ON la.vec_id = p.q
         |GROUP BY la.label""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      // deliberately NOT cached: the kernel's guard count is column-pruned
      // and each other consumer scans prep exactly once, so a cache would
      // only pin executor memory for the rest of a Verify/Bench run
      val prep = Similarity.prepared(emb)
      val lab = emb.select(col("vec_id"), col("label"))
      // leave-one-out top-5 via the broadcast selection kernel — same
      // (rounded cos desc, b asc) order as the window-rank formulation,
      // but without shuffling the |corpus|^2 pair space. The PROBE side
      // is bounded (vec_id < KnnLooMax, the TrainMax pattern): LOO
      // accuracy is an ESTIMATE, and an unbounded probe set makes both
      // engines pay probes x corpus forever — the 10x-tier oracle run
      // spilled DuckDB past the sandbox disk materializing the 400M-row
      // rank window. At the verify SFs (<= 2000 vecs) the bound is the
      // whole corpus, so results are unchanged; at any larger scale the
      // probe sample is fixed and cost stays linear in the corpus.
      val pairs = Similarity.knnTopK(
        s, prep.filter(col("vec_id") < KnnLooMax), prep, 5)
        .select(col("q"), col("b"))
      val pred = pairs
        .join(lab.select(col("vec_id").as("b"), col("label")), "b")
        .groupBy(col("q"), col("label")).agg(count(lit(1)).as("n"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("q")).orderBy(col("n").desc, col("label"))))
        .filter(col("r") === 1)
        .select(col("q"), col("label").as("pred_label"))
      pred
        .join(lab.select(col("vec_id").as("q"), col("label")), "q")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("pred_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
    },

    // Multi-signal near-dup verification: embedding-cosine candidate pairs
    // (vec_id == doc_id in the testdata) cross-checked against the TEXT
    // Jaccard of the same documents — the "semantic candidates, lexical
    // verify" composition a curation pipeline uses to separate paraphrases
    // from copies. At scale the candidate side comes from LSH/IVF instead
    // of brute force; the verify join shape is unchanged.
    QueryDef(
      "q_multisignal_dedup",
      s"""WITH $prepSql,
         |base AS (SELECT doc_id AS id, text FROM documents),
         |${graft.operators.Dedup.shingleSql(5)},
         |cand AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM prep a JOIN prep b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4),
         |${graft.operators.Dedup.jaccardSql}
         |SELECT j.a, j.b,
         |       round(list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) + 0.00000025, 4) AS cos,
         |       round(j.jaccard + 0.00000025, 4) AS jaccard
         |FROM jac j
         |JOIN prep pa ON pa.vec_id = j.a
         |JOIN prep pb ON pb.vec_id = j.b""".stripMargin) { (s, dir) =>
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      // jaccard references `pairs` twice (inter join + final pair join) —
      // uncached, the brute-force N^2 cosine pass (the dominant stage
      // here) executed TWICE per run. cache() the pair-sized result.
      val pairs = Similarity.bruteForcePairs(s, prep, threshold = 0.4).cache()
      val sh = graft.operators.Dedup.shingleHashes(
        Tables.documents(s, dir).select(col("doc_id").as("id"), col("text")),
        col("id"), col("text"), 5)
      // the verify only reads shingles of docs in a candidate pair —
      // restrict the shingle table before jaccard reads it three times
      // (both join sides + the size agg), so the corpus never tokenizes
      // three times (minhashLsh's discipline; per-doc shingle sets are
      // untouched by the row filter, jaccard values identical)
      val candIds = pairs.select(col("a").as("id"))
        .unionAll(pairs.select(col("b").as("id"))).distinct()
      val shv = sh.join(candIds, Seq("id"), "left_semi").localCheckpoint()
      // one result row per cached pair, so no larger than the cache →
      // eager SmallResult, pairs unpersists before return
      SmallResult(graft.operators.Dedup.jaccard(pairs, shv)
        .select(col("a"), col("b"),
          Num.r4(col("cosv")).as("cos"), Num.r4(col("jaccard")).as("jaccard")), pairs)
    },

    // The 100x-scale twin of q_multisignal_dedup (which stays as the
    // brute-force eval baseline at <=10x): candidates come from MinHash
    // LSH over the TEXT (banded, hot-bucket-capped — the production
    // candidate generator), the exact Jaccard verifies them at the
    // near-dup threshold, and the embedding cosine is joined on as the
    // second signal — "lexical candidates, semantic cross-check", the
    // mirror composition of the baseline. Every stage is an equijoin
    // bounded by the candidate set (LSH bands → capped buckets →
    // candidate-restricted shingle verify → two vec_id joins), so the
    // whole query is linear in the corpus where the baseline is N^2.
    QueryDef(
      "q_multisignal_dedup_lsh",
      s"""WITH $prepSql,
         |base AS (SELECT doc_id AS id, text FROM documents),
         |${graft.operators.Dedup.shingleSql(DedupQueries.ShingleN)},
         |${graft.operators.Dedup.signatureSql},
         |${graft.operators.Dedup.bandsSql},
         |${graft.operators.Dedup.candidateCappedSql(DedupQueries.LshBucketCap)},
         |${graft.operators.Dedup.jaccardSql}
         |SELECT j.a, j.b,
         |       round(list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) + 0.00000025, 4) AS cos,
         |       round(j.jaccard + 0.00000025, 4) AS jaccard
         |FROM jac j
         |JOIN prep pa ON pa.vec_id = j.a
         |JOIN prep pb ON pb.vec_id = j.b
         |WHERE j.jaccard >= ${DedupQueries.JaccardThreshold}""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      // the verified near-dup pairs come from the adaptive
      // band/bucket/verify chain (driver kernel on bounded corpora,
      // integer evidence only — the minhashLsh body with the hot-bucket
      // cap); the embedding cosine joins on as the second signal
      val pairs = DedupQueries.multisignalPairs(s, docs)
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      pairs
        .join(prep.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na")), "a")
        .join(prep.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb")), "b")
        .select(col("a"), col("b"),
          Num.r4(Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb"))).as("cos"),
          Num.r4(col("jaccard")).as("jaccard"))
    },

    // Hyperplane-LSH bucketing: 16 md5-derived hyperplanes → 16-bit sign
    // bucket per vector + same-bucket population (the ANN candidate-set
    // size). At 100 TB the ANN join is an equijoin on bucket.
    QueryDef(
      "q_ann_lsh_buckets",
      s"""WITH $prepSql,
         |${Similarity.planesSql},
         |bits AS (
         |  SELECT prep.vec_id, planes.p,
         |         CASE WHEN list_dot_product(prep.e, planes.w) >= 0
         |              THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END AS bit
         |  FROM prep CROSS JOIN planes),
         |buckets AS (
         |  SELECT vec_id, sum(bit) AS bucket FROM bits GROUP BY vec_id)
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
         |       count(*) OVER (PARTITION BY bucket) AS n_bucket
         |FROM buckets""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      Similarity.lshBuckets(prep, Similarity.planes(s))
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"))
        .withColumn("n_bucket", count(lit(1)).over(Window.partitionBy(col("bucket"))))
    },

    // Multi-probe LSH: candidates = pairs whose 16-bit buckets differ in
    // at most ONE bit — each vector probes its own bucket plus the 16
    // one-bit-flip neighbors, joined against the others' EXACT buckets
    // (an equijoin; matches are unique because exactly one probe can hit
    // a given bucket, so no dedup pass). The standard recall knob when
    // widening the prefix (q_ann_lsh_pairs) is too coarse. Exact-cosine
    // verify on candidates only.
    QueryDef(
      "q_ann_lsh_multiprobe",
      s"""WITH $prepSql,
         |${Similarity.planesSql},
         |bits AS (
         |  SELECT prep.vec_id, planes.p,
         |         CASE WHEN list_dot_product(prep.e, planes.w) >= 0
         |              THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END AS bit
         |  FROM prep CROSS JOIN planes),
         |buckets AS (
         |  SELECT vec_id, sum(bit) AS bucket FROM bits GROUP BY vec_id),
         |probes AS (
         |  SELECT vec_id, bucket AS pb FROM buckets
         |  UNION ALL
         |  SELECT b.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << f.p) AS pb
         |  FROM buckets b CROSS JOIN (SELECT unnest(range(16)) AS p) f),
         |cand AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b
         |  FROM probes x JOIN buckets y
         |    ON y.bucket = x.pb AND x.vec_id < y.vec_id)
         |SELECT c.a, c.b,
         |       round(list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) + 0.00000025, 4) AS cos
         |FROM cand c
         |JOIN prep pa ON pa.vec_id = c.a
         |JOIN prep pb ON pb.vec_id = c.b
         |WHERE list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) >= 0.15""".stripMargin) {
      (s, dir) =>
        val prep = Similarity.prepared(Tables.embeddings(s, dir)).cache()
        val buckets = Similarity.lshBuckets(prep, Similarity.planes(s)).cache()
        val flips = buckets.select(col("vec_id"),
          explode(array((0 until Similarity.NumPlanes).map(p =>
            col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("pb"))
        val probes = buckets.select(col("vec_id"), col("bucket").as("pb"))
          .unionAll(flips)
        val cand = probes.as("x")
          .join(buckets.as("y"),
            col("y.bucket") === col("x.pb") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
        cand
          .join(prep.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na")), "a")
          .join(prep.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb")), "b")
          .withColumn("cosv", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
          .filter(col("cosv") >= 0.15)
          .select(col("a"), col("b"), Num.r4(col("cosv")).as("cos"))
    },

    // ANN end-to-end: candidate pairs sharing the coarse 8-bit bucket
    // prefix (the multi-probe knob: fewer prefix bits = more recall, more
    // candidates), verified by exact cosine. At 100 TB: equijoin on the
    // prefix, exact dot only on candidates.
    QueryDef(
      "q_ann_lsh_pairs",
      s"""WITH $prepSql,
         |${Similarity.planesSql},
         |bits AS (
         |  SELECT prep.vec_id, planes.p,
         |         CASE WHEN list_dot_product(prep.e, planes.w) >= 0
         |              THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END AS bit
         |  FROM prep CROSS JOIN planes),
         |buckets AS (
         |  SELECT vec_id, sum(bit) AS bucket FROM bits GROUP BY vec_id)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       round(list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) + 0.00000025, 4) AS cos
         |FROM buckets x
         |JOIN buckets y ON x.bucket >> 8 = y.bucket >> 8 AND x.vec_id < y.vec_id
         |JOIN prep pa ON pa.vec_id = x.vec_id
         |JOIN prep pb ON pb.vec_id = y.vec_id
         |WHERE list_dot_product(pa.e, pb.e) / (pa.nrm * pb.nrm) >= 0.15""".stripMargin) { (s, dir) =>
      val prep = Similarity.prepared(Tables.embeddings(s, dir)).cache()
      val buckets = Similarity.lshBuckets(prep, Similarity.planes(s))
      val cand = buckets.as("x")
        .join(buckets.as("y"),
          expr("x.bucket >> 8") === expr("y.bucket >> 8") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      cand
        .join(prep.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na")), "a")
        .join(prep.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb")), "b")
        .withColumn("cosv", Similarity.cosine(col("ea"), col("eb"), col("na"), col("nb")))
        .filter(col("cosv") >= 0.15)
        .select(col("a"), col("b"), Num.r4(col("cosv")).as("cos"))
    },

    // Symmetric int8 quantization of the embedding column — the storage
    // form a vector index ships at scale (4x smaller, SIMD-friendly).
    // Per vector: scale = max|x|, q_i = round(x_i * 127 / scale). Checked
    // via a position-weighted integer checksum (hash-exact, no float
    // tolerance) plus the rounded mean reconstruction error. Map-only —
    // one narrow pass over the scan, no shuffle beyond the tiny groupBy.
    QueryDef(
      "q_embed_quantize",
      """WITH ed AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (
        |  SELECT vec_id, e,
        |         list_max(list_transform(e, x -> abs(x))) AS scale
        |  FROM ed),
        |ex AS (
        |  SELECT vec_id, scale,
        |         unnest(range(1, len(e) + 1)) AS pos1, unnest(e) AS x
        |  FROM sc),
        |qq AS (
        |  SELECT vec_id, scale, pos1, x,
        |         CAST(round(x * 127 / scale + 0.00000025, 0) AS BIGINT) AS q
        |  FROM ex)
        |SELECT vec_id, round(max(scale) + 0.00000025, 4) AS scale,
        |       CAST(sum(q * pos1) AS BIGINT) AS qsum,
        |       round(avg(abs(x - q * scale / 127)) + 0.00000025, 4) AS mean_abs_err
        |FROM qq GROUP BY vec_id""".stripMargin) { (s, dir) =>
      quantize(Tables.embeddings(s, dir))
    },

    // Matryoshka-style truncation eval: rank neighbors by the cosine of
    // the FIRST 32 of 64 dimensions and score recall@5 against the
    // full-dimension exact top-5 — the measurement that decides whether a
    // cheaper truncated index is good enough (same eval harness shape as
    // q_ann_ivf_recall, with truncation as the approximation instead of
    // IVF). Rankings use the rounded cosine with id tie-break, so order is
    // engine-exact; both rankings share one broadcast-kernel pass.
    QueryDef(
      "q_embed_truncate_recall",
      s"""WITH $prepSql,
         |tr AS (
         |  SELECT vec_id, e, nrm, e[1:$TruncDims] AS te,
         |         sqrt(list_dot_product(e[1:$TruncDims], e[1:$TruncDims])) AS tnrm
         |  FROM prep),
         |exact AS (
         |  SELECT q, b FROM (
         |    SELECT a.vec_id AS q, b.vec_id AS b,
         |           row_number() OVER (
         |             PARTITION BY a.vec_id
         |             ORDER BY round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) DESC,
         |                      b.vec_id) AS rank
         |    FROM tr a JOIN tr b ON b.vec_id != a.vec_id
         |    WHERE a.vec_id < $MaxQueryId)
         |  WHERE rank <= 5),
         |approx AS (
         |  SELECT q, b FROM (
         |    SELECT a.vec_id AS q, b.vec_id AS b,
         |           row_number() OVER (
         |             PARTITION BY a.vec_id
         |             ORDER BY CASE WHEN a.tnrm * b.tnrm = 0 THEN 0.0
         |                      ELSE round(list_dot_product(a.te, b.te) / (a.tnrm * b.tnrm) + 0.00000025, 4) END DESC,
         |                      b.vec_id) AS rank
         |    FROM tr a JOIN tr b ON b.vec_id != a.vec_id
         |    WHERE a.vec_id < $MaxQueryId)
         |  WHERE rank <= 5)
         |SELECT e.q, round(count(a.b) / 5.0 + 0.00000025, 4) AS recall
         |FROM exact e
         |LEFT JOIN approx a ON a.q = e.q AND a.b = e.b
         |GROUP BY e.q""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tr = Similarity.prepared(Tables.embeddings(s, dir))
        .withColumn("te", slice(col("e"), 1, TruncDims))
        .withColumn("tnrm",
          sqrt(graft.functions.ArrayMath.dot(col("te"), col("te"))))
      val q = tr.filter(col("vec_id") < MaxQueryId)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
          col("te").as("qte"), col("tnrm").as("qtn"))
      val joined = broadcast(q).join(tr.as("b"), col("b.vec_id") =!= col("qid"))
        .select(col("qid").as("q"), col("b.vec_id").as("b"),
          Num.r4(Similarity.cosine(col("qe"), col("b.e"), col("qn"), col("b.nrm"))).as("cos"),
          // zero guard: a vector whose first TruncDims dims are all zero
          // has tnrm = 0; without the branch the cosine is NaN and
          // Spark/DuckDB NaN placement in DESC order differs
          when(col("qtn") * col("b.tnrm") === 0, lit(0.0))
            .otherwise(Num.r4(Similarity.cosine(
              col("qte"), col("b.te"), col("qtn"), col("b.tnrm")))).as("tcos"))
      def top5(byCol: String) = joined
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q")).orderBy(col(byCol).desc, col("b"))))
        .filter(col("rank") <= 5)
        .select(col("q"), col("b"))
      top5("cos")
        .join(top5("tcos").withColumnRenamed("b", "ab").withColumnRenamed("q", "aq"),
          col("aq") === col("q") && col("ab") === col("b"), "left")
        .groupBy(col("q"))
        .agg(Num.r4(count(col("ab")) / 5.0).as("recall"))
    },

    // Hard-negative mining for contrastive/embedding training: for each
    // query vector, the top-5 most-similar vectors whose LABEL differs —
    // the near-misses a retrieval trainer pairs against the positives.
    // Spark side: the `knnTopKDiffLabel` selection kernel — broadcast
    // corpus, partition-local bounded top-k with the label predicate
    // inside the scan, NO pair-space shuffle (the window-rank
    // formulation the ORACLE uses shuffles |queries| × |corpus| rows;
    // the hash match proves the two agree). Rank on the rounded cosine
    // with id tie-break so ordering is engine-independent. Label
    // contract (both sides, ternary logic): a NULL-label query emits
    // zero rows, a NULL-label corpus vector is never a candidate —
    // intentional drop, visible here rather than silent.
    QueryDef(
      "q_hard_negatives",
      s"""WITH $prepSql,
         |lab AS (SELECT vec_id, label FROM embeddings)
         |SELECT q, q_label, rank, b, b_label, cos FROM (
         |  SELECT a.vec_id AS q, la.label AS q_label,
         |         b.vec_id AS b, lb.label AS b_label,
         |         round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) AS cos,
         |         CAST(row_number() OVER (
         |           PARTITION BY a.vec_id
         |           ORDER BY round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) + 0.00000025, 4) DESC,
         |                    b.vec_id) AS INT) AS rank
         |  FROM prep a
         |  JOIN lab la ON la.vec_id = a.vec_id
         |  JOIN prep b ON b.vec_id != a.vec_id
         |  JOIN lab lb ON lb.vec_id = b.vec_id
         |  WHERE a.vec_id < $MaxQueryId AND lb.label != la.label)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val lab = emb.select(col("vec_id"), col("label"))
      // not cached (same reasoning as q_knn_label_accuracy): the guard
      // count is pruned to vec_id and the collect + the q-side mapPartitions
      // each scan this cheap projection+join once — a cache would leak
      // into the rest of the run
      val prep = Similarity.prepared(emb).join(lab, "vec_id")
      val q = prep.filter(col("vec_id") < MaxQueryId)
      Similarity.knnTopKDiffLabel(s, q, prep, 5)
        .select(col("q"), col("q_label"), col("rank"), col("b"),
          col("b_label"), col("cosr").as("cos"))
    })

  /** q_embed_quantize body over an arbitrary embeddings relation. */
  def quantize(embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    embeddings
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e"))
      .withColumn("scale", array_max(transform(col("e"), x => abs(x))))
      .select(col("vec_id"), col("scale"),
        posexplode(col("e")).as(Seq("pos", "x")))
      // x, scale, and x*127/scale are bit-identical doubles in both
      // engines; the Eps bias inside round guards the decimal-vs-binary
      // .5-boundary discrepancy (see Num)
      .withColumn("q",
        round(col("x") * 127 / col("scale") + Num.Eps, 0).cast("long"))
      .groupBy(col("vec_id"))
      .agg(
        Num.r4(max(col("scale"))).as("scale"),
        sum(col("q") * (col("pos") + 1)).as("qsum"),
        Num.r4(avg(abs(col("x") - col("q") * col("scale") / 127)))
          .as("mean_abs_err"))
}
