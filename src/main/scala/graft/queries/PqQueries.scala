package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Ivf, Num, Pq, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization surface (operators/Pq.scala): corpus encoding
  * (the 64x-compressed code table), ADC top-k search over the codes, and
  * recall@5 against the exact full-precision scan — the metric a PQ
  * deployment tunes M/KPq by.
  */
object PqQueries {

  private val MaxQueryId = 20
  private val TopK = 5
  private val IvfK = 16
  private val NProbe = 4

  private def encoded(s: SparkSession, dir: String) = {
    val prep = Similarity.prepared(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("e"))
    // only the TRAINING slice of the subvector explosion is materialized:
    // the corpus pass goes through the map-only encodeRows and never reads
    // sv, so caching subvecs(prep) would pin corpus*M exploded rows for
    // the 512-vector codebook fit and the 20-query qe slice alone
    val sv = Pq.subvecs(prep.filter(col("vec_id") < Pq.TrainMax)).cache()
    val cb = Pq.codebook(sv).cache()
    (prep, sv, cb)
  }

  val defs: Seq[QueryDef] = Seq(

    // The code table: M single-byte codes per vector — what actually
    // lands on disk at 100 TB (64x smaller than the raw float vectors).
    QueryDef(
      "q_pq_codes",
      s"""WITH ${Pq.codesSql}
         |SELECT vec_id, sub, code FROM pcodes""".stripMargin) { (s, dir) =>
      val (prep, _, cb) = encoded(s, dir)
      Pq.encodeRows(s, prep, cb)
    },

    // ADC scan: query full-precision, database vectors via code lookups.
    QueryDef(
      "q_pq_adc_search",
      s"""WITH ${Pq.codesSql},
         |${Pq.adcSql(MaxQueryId, TopK)}
         |SELECT q, rank, b, adc10k FROM pscored""".stripMargin) { (s, dir) =>
      val (prep, sv, cb) = encoded(s, dir)
      val codes = Pq.encodeRows(s, prep, cb)
      val qsv = sv.filter(col("vec_id") < MaxQueryId)
        .select(col("vec_id").as("q"), col("sub"), col("se").as("qe"))
      Pq.adc(Pq.distanceTable(qsv, cb), codes, TopK)
    },

    // Compression quality: recall@5 of the ADC top-5 vs the exact
    // full-precision squared-L2 top-5.
    QueryDef(
      "q_pq_recall",
      s"""WITH ${Pq.codesSql},
         |${Pq.adcSql(MaxQueryId, TopK)},
         |pexact AS (
         |  SELECT q, b FROM (
         |    SELECT a.vec_id AS q, b.vec_id AS b,
         |           row_number() OVER (
         |             PARTITION BY a.vec_id
         |             ORDER BY round(list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, b.e) + list_dot_product(b.e, b.e) + 0.00000025, 4),
         |                      b.vec_id) AS rank
         |    FROM prep a JOIN prep b ON b.vec_id != a.vec_id
         |    WHERE a.vec_id < $MaxQueryId)
         |  WHERE rank <= $TopK)
         |SELECT e.q, round(count(s.b) / $TopK.0 + 0.00000025, 4) AS recall
         |FROM pexact e
         |LEFT JOIN pscored s ON s.q = e.q AND s.b = e.b
         |GROUP BY e.q""".stripMargin) { (s, dir) =>
      val (prep, sv, cb) = encoded(s, dir)
      val codes = Pq.encodeRows(s, prep, cb)
      val qsv = sv.filter(col("vec_id") < MaxQueryId)
        .select(col("vec_id").as("q"), col("sub"), col("se").as("qe"))
      val adcTop = Pq.adc(Pq.distanceTable(qsv, cb), codes, TopK)
        .select(col("q"), col("b"))
      val queries = prep.filter(col("vec_id") < MaxQueryId)
        .select(col("vec_id").as("q"), col("e").as("qe"))
      val exact = broadcast(queries)
        .join(prep.as("b"), col("b.vec_id") =!= col("q"))
        .select(col("q"), col("b.vec_id").as("b"),
          Num.r4(Pq.d2(col("qe"), col("b.e"))).as("d2r"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q")).orderBy(col("d2r"), col("b"))))
        .filter(col("rank") <= TopK)
        .select(col("q"), col("b"))
      exact
        .join(adcTop.withColumnRenamed("b", "sb").withColumnRenamed("q", "sq"),
          col("sq") === col("q") && col("sb") === col("b"), "left")
        .groupBy(col("q"))
        .agg(Num.r4(count(col("sb")) / TopK.toDouble).as("recall"))
    },

    // IVF-PQ: the production ANN composition at 100 TB — IVF probes prune
    // WHERE to look (nProbe of K cells), PQ codes shrink WHAT is scanned
    // (16x). Candidates come from the probed cells only (broadcast probe
    // → cell equijoin), then rank by ADC code lookups — the raw vectors
    // are never touched on the scan path.
    QueryDef(
      "q_ivfpq_search",
      s"""WITH ${Ivf.cellsSql(IvfK)},
         |${Pq.codesChainSql},
         |${Ivf.probeSql(MaxQueryId, NProbe)},
         |${Pq.dtSql(MaxQueryId)},
         |pcand AS (
         |  SELECT p.q, a.vec_id AS b
         |  FROM probe p JOIN assign1 a ON a.cell = p.cid AND a.vec_id != p.q),
         |pivf AS (
         |  SELECT c.q, c.b, CAST(sum(d.di) AS BIGINT) AS adc10k
         |  FROM pcand c
         |  JOIN pcodes p ON p.vec_id = c.b
         |  JOIN pdt d ON d.q = c.q AND d.sub = p.sub AND d.cid = p.code
         |  GROUP BY c.q, c.b)
         |SELECT q, rank, b, adc10k FROM (
         |  SELECT q, b, adc10k,
         |         CAST(row_number() OVER (
         |           PARTITION BY q ORDER BY adc10k, b) AS INT) AS rank
         |  FROM pivf) WHERE rank <= $TopK""".stripMargin) { (s, dir) =>
      val (cand, dt, codes) = ivfPqParts(s, dir)
      Pq.adcOver(cand, dt, codes, TopK)
    },

    // Pruning cost on top of quantization cost: recall@5 vs the exact
    // full-precision scan — compare against q_pq_recall (full-corpus ADC)
    // to read off how much the nProbe cell restriction loses.
    QueryDef(
      "q_ivfpq_recall",
      s"""WITH ${Ivf.cellsSql(IvfK)},
         |${Pq.codesChainSql},
         |${Ivf.probeSql(MaxQueryId, NProbe)},
         |${Pq.dtSql(MaxQueryId)},
         |pcand AS (
         |  SELECT p.q, a.vec_id AS b
         |  FROM probe p JOIN assign1 a ON a.cell = p.cid AND a.vec_id != p.q),
         |pivf AS (
         |  SELECT c.q, c.b, CAST(sum(d.di) AS BIGINT) AS adc10k
         |  FROM pcand c
         |  JOIN pcodes p ON p.vec_id = c.b
         |  JOIN pdt d ON d.q = c.q AND d.sub = p.sub AND d.cid = p.code
         |  GROUP BY c.q, c.b),
         |pivf_top AS (
         |  SELECT q, b FROM (
         |    SELECT q, b, row_number() OVER (
         |             PARTITION BY q ORDER BY adc10k, b) AS rank
         |    FROM pivf) WHERE rank <= $TopK),
         |pexact AS (
         |  SELECT q, b FROM (
         |    SELECT a.vec_id AS q, b.vec_id AS b,
         |           row_number() OVER (
         |             PARTITION BY a.vec_id
         |             ORDER BY round(list_dot_product(a.e, a.e) - 2 * list_dot_product(a.e, b.e) + list_dot_product(b.e, b.e) + 0.00000025, 4),
         |                      b.vec_id) AS rank
         |    FROM prep a JOIN prep b ON b.vec_id != a.vec_id
         |    WHERE a.vec_id < $MaxQueryId)
         |  WHERE rank <= $TopK)
         |SELECT e.q, round(count(s.b) / $TopK.0 + 0.00000025, 4) AS recall
         |FROM pexact e
         |LEFT JOIN pivf_top s ON s.q = e.q AND s.b = e.b
         |GROUP BY e.q""".stripMargin) { (s, dir) =>
      val (cand, dt, codes) = ivfPqParts(s, dir)
      val prep = Similarity.prepared(Tables.embeddings(s, dir))
      val ivfTop = Pq.adcOver(cand, dt, codes, TopK).select(col("q"), col("b"))
      val queries = prep.filter(col("vec_id") < MaxQueryId)
        .select(col("vec_id").as("q"), col("e").as("qe"))
      val exact = broadcast(queries)
        .join(prep.as("b"), col("b.vec_id") =!= col("q"))
        .select(col("q"), col("b.vec_id").as("b"),
          Num.r4(Pq.d2(col("qe"), col("b.e"))).as("d2r"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q")).orderBy(col("d2r"), col("b"))))
        .filter(col("rank") <= TopK)
        .select(col("q"), col("b"))
      exact
        .join(ivfTop.withColumnRenamed("b", "sb").withColumnRenamed("q", "sq"),
          col("sq") === col("q") && col("sb") === col("b"), "left")
        .groupBy(col("q"))
        .agg(Num.r4(count(col("sb")) / TopK.toDouble).as("recall"))
    })

  /** Shared IVF-PQ assembly: probed-cell candidates, the query distance
    * table, and the code table.
    */
  private def ivfPqParts(s: SparkSession, dir: String) = {
    val prepN = Similarity.prepared(Tables.embeddings(s, dir)).cache()
    val cents = Ivf.centroids(prepN, IvfK).cache()
    // map-only cell assignment (no corpus-wide window shuffle); identical
    // results to Ivf.assign by the assignBroadcast parity contract
    val assigned = Ivf.assignBroadcast(s, prepN, cents).cache()
    // training slice only (see encoded()): the corpus meets the codebook
    // in the map-only encodeRows pass, never through this cache
    val sv = Pq.subvecs(prepN.select(col("vec_id"), col("e"))
      .filter(col("vec_id") < Pq.TrainMax)).cache()
    val cb = Pq.codebook(sv).cache()
    val codes = Pq.encodeRows(s, prepN.select(col("vec_id"), col("e")), cb)
    val queries = prepN.filter(col("vec_id") < MaxQueryId)
      .select(col("vec_id").as("q"), col("e").as("qe"), col("nrm").as("qn"))
    val cand = broadcast(Ivf.probe(queries, cents, NProbe)
        .select(col("q"), col("cid")))
      .join(assigned.withColumnRenamed("vec_id", "b"), "cid")
      .filter(col("b") =!= col("q"))
      .select(col("q"), col("b"))
    val qsv = sv.filter(col("vec_id") < MaxQueryId)
      .select(col("vec_id").as("q"), col("sub"), col("se").as("qe"))
    (cand, Pq.distanceTable(qsv, cb), codes)
  }
}
