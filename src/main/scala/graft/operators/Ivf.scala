package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a deterministic k-means-style coarse
  * quantizer — init centroids = the first K vectors (deterministic
  * seeding), one Lloyd iteration (assign by cosine, recompute centroids as
  * element-wise means), final cell assignment — plus the search path:
  * probe the nProbe nearest cells per query and rank candidates by exact
  * cosine inside them.
  *
  * Scale shape: the centroid table is K rows (broadcast everywhere); cell
  * assignment is a broadcast cross-join + per-vector argmax (one narrow
  * pass over the corpus, no shuffle beyond the posexplode mean); search is
  * a broadcast equijoin probe→cell, so the per-query cost is the probed
  * cells' population, never the corpus. At 100 TB the assignment table is
  * written bucketed by cell so the probe join prunes to the probed cells'
  * files only.
  *
  * All rankings are on the 4-decimal-rounded cosine with id tie-breaks, so
  * the argmax/top-k are engine-independent despite float-sum ordering in
  * the centroid means (see Num).
  */
object Ivf {

  /** Coarse-quantizer training sample bound (vec_id < TrainMax): Lloyd's
    * mean-recompute posexplodes Dim values per training vector into a
    * shuffle, which on the full corpus is the one corpus-sized exchange
    * in the family. Same rationale and value as Pq.TrainMax — bounded,
    * deterministic, engine-replayable, constant under replication.
    */
  val TrainMax = 512L

  /** Assign each vector to its nearest centroid by rounded cosine,
    * centroid-id tie-break. cents: (cid, ce, cn), broadcast.
    *
    * Declarative twin of `assignBroadcast`, kept as the parity contract
    * (IvfSpec) and for the sample-sized Lloyd step inside `centroids`.
    * NOT the corpus path: the window argmax shuffles corpus*K rows
    * carrying full Dim-double vectors (probed: 74 s at 100x where the
    * map-only twin stays flat) — every corpus-sized assignment goes
    * through `assignBroadcast`.
    */
  def assign(prep: DataFrame, cents: DataFrame): DataFrame =
    prep.crossJoin(broadcast(cents))
      .withColumn("cosr",
        Num.r4(Similarity.cosine(col("e"), col("ce"), col("nrm"), col("cn"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cosr").desc, col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))

  /** Streaming-capable assignment: the window-rank argmax of `assign`
    * is not available under streaming, so the centroid table (inherently
    * bounded — it IS the index) is collected, broadcast, and each row
    * picks its cell in a tight partition-local loop. Identical results to
    * `assign` (same rounded-cosine + smallest-cid tie-break, reproduced
    * with BigDecimal HALF_UP like Spark's round). Use for continuous
    * ingestion: new vectors join the index without a shuffle.
    */
  def assignBroadcast(spark: SparkSession, prep: DataFrame,
                      cents: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = collectCentroids(spark, cents)
    prep.select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, e0, nrm) =>
          val e = e0.toArray
          (id, nearestCid(cs, e, nrm))
        }
      }
      .toDF("vec_id", "cid")
  }

  /** Fused map-only assignment that KEEPS the vector: (b, cid, be, bn).
    * Same kernel and broadcast as `assignBroadcast`, but the output row
    * carries the embedding, so a downstream search can compute cosines
    * straight off the probe join instead of re-joining `prep` on vec_id
    * — at corpus scale that re-join is a full shuffle of Dim-double
    * vectors, and it was the dominant cost of the probed search path.
    */
  def assignBroadcastFull(spark: SparkSession, prep: DataFrame,
                          cents: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = collectCentroids(spark, cents)
    prep.select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, e0, nrm) =>
          (id, nearestCid(cs, e0.toArray, nrm), e0, nrm)
        }
      }
      .toDF("b", "cid", "be", "bn")
  }

  private def collectCentroids(spark: SparkSession, cents: DataFrame) = {
    import spark.implicits._
    val side: Array[(Long, Array[Double], Double)] = cents
      .select(col("cid").cast("long"), col("ce"), col("cn"))
      .as[(Long, Seq[Double], Double)]
      .collect().sortBy(_._1).map { case (c, e, n) => (c, e.toArray, n) }
    require(side.nonEmpty, "empty centroid table")
    spark.sparkContext.broadcast(side)
  }

  /** Per-row nearest-centroid kernel — THE one implementation of the
    * rounded-cosine + smallest-cid rule, shared by `assignBroadcast` and
    * `streaming.IvfStream` so stream/batch assignment parity cannot
    * drift; `assign`'s window argmax is its declarative twin. `cands`
    * must be cid-sorted (strict > keeps the smallest cid on ties).
    *
    * Strict like the window twin: a zero-norm vector has no cosine (the
    * declarative formulation raises ANSI DIVIDE_BY_ZERO there) and a
    * dimension mismatch is data corruption — both fail loudly here with a
    * named error instead of the old BigDecimal.valueOf(NaN) crash or a
    * silent prefix dot-product. Streaming callers that must not wedge on
    * a poison record VALIDATE AND DROP before calling (see
    * `IvfStream.maintainer`), which keeps the kernel's semantics exact.
    */
  def nearestCid(cands: Array[(Long, Array[Double], Double)],
                 e: Array[Double], nrm: Double): Long = {
    require(nrm > 0.0, "zero-norm vector has no cosine; validate upstream")
    var bestCid = cands(0)._1
    var bestCos = Double.NegativeInfinity
    cands.foreach { case (cid, ce, cn) =>
      require(ce.length == e.length,
        s"dimension mismatch: vector has ${e.length} dims, centroid $cid has ${ce.length}")
      require(cn > 0.0, s"zero-norm centroid $cid has no cosine")
      var s = 0.0
      var i = 0
      while (i < e.length) { s += e(i) * ce(i); i += 1 }
      val c4 = Num.r4Jvm(s / (nrm * cn))
      if (c4 > bestCos) { bestCos = c4; bestCid = cid }
    }
    bestCid
  }

  /** One-Lloyd-iteration centroids: (cid, ce: array<double>, cn).
    * Trains on the bounded sample (vec_id < TrainMax) only — the full
    * corpus meets the index later, in the map-only assignment pass.
    */
  def centroids(prep: DataFrame, k: Int,
                trainMax: Long = TrainMax): DataFrame = {
    // trainMax scales WITH k in production (the FAISS guidance is
    // ~hundreds of samples per centroid): the default fits the oracle-
    // replayed bench tier (k <= 64); a deployment growing k to bound
    // cell population passes a proportionally larger sample — see
    // USAGE.md's k = 4096 example (trainMax = 256 x k)
    // an undersized training bound must fail loudly: seeding takes the
    // first k train vectors, so k > trainMax would silently yield at most
    // trainMax centroids instead of k
    require(k <= trainMax,
      s"k=$k exceeds trainMax=$trainMax: pass trainMax >= k (FAISS guidance" +
        " is ~hundreds of training samples per centroid)")
    // the training slice is BOUNDED by contract (that is TrainMax's whole
    // point), so the Lloyd step runs as a driver kernel off one pushed-
    // down collect instead of the ~4-exchange declarative chain; the
    // declarative twin stays available for parity (IvfSpec) and for an
    // explicitly oversized trainMax
    if (trainMax <= 100000L) centroidsLocal(prep, k, trainMax)
    else centroidsDistributed(prep, k, trainMax)
  }

  /** Declarative Lloyd step — `centroids`' parity twin (IvfSpec holds the
    * routes equal); the corpus never passes through here either way.
    */
  private[graft] def centroidsDistributed(prep: DataFrame, k: Int,
                                          trainMax: Long): DataFrame = {
    val train = prep.filter(col("vec_id") < trainMax)
    val cent0 = train.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val assign0 = assign(train, cent0)
    // element-wise mean per cell: posexplode -> avg -> rebuild ordered array
    train.join(assign0, "vec_id")
      .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("xavg"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("xavg")))),
        s => s.getField("xavg")).as("ce"))
      .withColumn("cn", Similarity.norm(col("ce")))
  }

  /** Driver-local Lloyd step over the bounded training slice: one
    * filter-pushed collect (vec_id < trainMax — at most ~100k narrow
    * rows, in practice TrainMax = 512) replaces the declarative chain's
    * assign-window + posexplode-mean exchanges. Same arithmetic:
    * assignment via `nearestCid` (THE shared rounded-cosine kernel, also
    * under `assignBroadcast`), means accumulated in ascending vec_id
    * order then divided by the cell count (float-order differences vs
    * the declarative avg sit far inside the 1e-4 rounding every consumer
    * applies before ranking — the same tolerance the Spark/DuckDB
    * pairing already rests on), empty cells dropped by construction,
    * cn = sqrt of the left-to-right self-dot like `Similarity.norm`.
    */
  private[graft] def centroidsLocal(prep: DataFrame, k: Int,
                                    trainMax: Long): DataFrame = {
    val spark = prep.sparkSession
    import spark.implicits._
    val train = prep.filter(col("vec_id") < trainMax)
      .select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .collect().sortBy(_._1)
      .map { case (id, e, n) => (id, e.toArray, n) }
    val seed = train.filter(_._1 < k) // cid-sorted (train is id-sorted)
    require(seed.nonEmpty, s"no training vectors below k=$k")
    val dim = seed.head._2.length
    val sums = new scala.collection.mutable.LinkedHashMap[Long, (Array[Double], Array[Long])]()
    train.foreach { case (_, e, nrm) =>
      val cid = nearestCid(seed, e, nrm)
      val (s, cnt) = sums.getOrElseUpdate(cid, (new Array[Double](dim), new Array[Long](1)))
      var i = 0
      while (i < dim) { s(i) += e(i); i += 1 }
      cnt(0) += 1
    }
    val rows = sums.toSeq.sortBy(_._1).map { case (cid, (s, cnt)) =>
      val ce = new Array[Double](dim)
      var i = 0
      while (i < dim) { ce(i) = s(i) / cnt(0); i += 1 }
      var sq = 0.0
      i = 0
      while (i < dim) { sq += ce(i) * ce(i); i += 1 }
      (cid, ce.toSeq, math.sqrt(sq))
    }
    spark.createDataset(rows).toDF("cid", "ce", "cn")
  }

  /** Per-query probed cells: the nProbe nearest centroids by rounded
    * cosine, cid tie-break. Output: (q, qe, qn, cid).
    */
  def probe(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    queries.crossJoin(broadcast(cents))
      .withColumn("cosr",
        Num.r4(Similarity.cosine(col("qe"), col("ce"), col("qn"), col("cn"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("cosr").desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("q"), col("qe"), col("qn"), col("cid"))

  /** Rank the probed cells' population by exact cosine; the query's own
    * vector is excluded. Output: (q, rank, b, cos), rank 1..k.
    */
  def searchRank(probed: DataFrame, prep: DataFrame,
                 assigned: DataFrame, k: Int): DataFrame =
    broadcast(probed)
      .join(assigned.withColumnRenamed("vec_id", "b"), "cid")
      .filter(col("b") =!= col("q"))
      .join(prep.select(col("vec_id").as("b"), col("e").as("be"), col("nrm").as("bn")), "b")
      .withColumn("cos",
        Num.r4(Similarity.cosine(col("qe"), col("be"), col("qn"), col("bn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("cos").desc, col("b"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("b"), col("cos"))

  /** Top-k candidates per query vector via nProbe-cell probing.
    * queries: (q, qe, qn). Output: (q, rank, b, cos), rank 1..k by rounded
    * cosine desc, candidate-id tie-break; the query's own vector is
    * excluded.
    */
  def search(queries: DataFrame, prep: DataFrame, cents: DataFrame,
             assigned: DataFrame, nProbe: Int, k: Int): DataFrame =
    searchRank(probe(queries, cents, nProbe), prep, assigned, k)

  /** Production search: one map-only fused-assignment pass, then the
    * probe equijoin computes cosines immediately and PROJECTS TO SKINNY
    * (q, b, cos) rows before anything wide happens — the top-k window
    * (WindowGroupLimit keeps it partial per partition) shuffles 24-byte
    * rows, not rows dragging two Dim-double vectors. Row-identical to
    * `search` (IvfSpec parity test); probed: the declarative shape paid
    * 92 s at the 100x probe where this one holds the probe-population
    * cosine kernel itself as the only corpus-proportional cost.
    */
  def searchFused(spark: SparkSession, queries: DataFrame, prep: DataFrame,
                  cents: DataFrame, nProbe: Int, k: Int): DataFrame =
    searchRankFused(probe(queries, cents, nProbe),
      assignBroadcastFull(spark, prep, cents), k)

  /** The query path over a PREBUILT fused index relation (b, cid, be, bn)
    * — production searches a persisted index many times per build, so the
    * probe equijoin + skinny rank is exposed separately from the
    * assignment pass (`assignBroadcastFull` is the build). probed:
    * (q, qe, qn, cid) from `probe`.
    */
  def searchRankFused(probed: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    broadcast(probed)
      .join(corpus, "cid")
      .filter(col("b") =!= col("q"))
      .select(col("q"), col("b"),
        Num.r4(Similarity.cosine(col("qe"), col("be"), col("qn"), col("bn"))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("cos").desc, col("b"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("b"), col("cos"))

  // ------------------------------------------- cell-partitioned index layout

  /** Persist the assignment table laid out BY CELL (one partition dir per
    * cid) — the on-disk shape that makes probing prune at the FILE level:
    * a probe touching nProbe of K cells reads nProbe/K of the index, and
    * the other files are never opened. At 100 TB this is the difference
    * between an index scan and an index lookup.
    */
  def writeAssignedByCell(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Read ONLY the probed cells' partitions. `cells` is bounded by K (it
    * is a set of centroid ids), so the IN filter is a literal partition
    * predicate — Catalyst prunes non-probed directories at planning time,
    * before any file is listed into the scan.
    */
  def readAssignedCells(spark: SparkSession, path: String,
                        cells: Seq[Long]): DataFrame =
    spark.read.parquet(path).filter(col("cid").isin(cells: _*))
      // partition-dir values infer as int; restore the long cid AFTER the
      // filter so the partition predicate stays prunable
      .withColumn("cid", col("cid").cast("long"))

  // ------------------------------------------------------------ oracle SQL

  /** CTE chain prep → cent0 → assign0 → dims → cent1 → assign1(vec_id,
    * cell) — the quantizer, identical arithmetic to the Scala path.
    */
  def cellsSql(k: Int): String =
    s"""prep AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |ptrain AS (
       |  SELECT * FROM prep WHERE vec_id < $TrainMax),
       |cent0 AS (
       |  SELECT vec_id AS cid, e AS ce, nrm AS cn FROM ptrain WHERE vec_id < $k),
       |assign0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT p.vec_id, c.cid,
       |           row_number() OVER (
       |             PARTITION BY p.vec_id
       |             ORDER BY round(list_dot_product(p.e, c.ce) / (p.nrm * c.cn) + 0.00000025, 4) DESC,
       |                      c.cid) AS rn
       |    FROM ptrain p CROSS JOIN cent0 c) WHERE rn = 1),
       |dims AS (
       |  SELECT a.cid, unnest(range(1, ${Similarity.Dim + 1})) AS pos, unnest(p.e) AS x
       |  FROM ptrain p JOIN assign0 a ON a.vec_id = p.vec_id),
       |cent1 AS (
       |  SELECT cid, list(xavg ORDER BY pos) AS ce,
       |         sqrt(list_dot_product(list(xavg ORDER BY pos), list(xavg ORDER BY pos))) AS cn
       |  FROM (SELECT cid, pos, avg(x) AS xavg FROM dims GROUP BY cid, pos)
       |  GROUP BY cid),
       |assign1 AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT p.vec_id, c.cid,
       |           row_number() OVER (
       |             PARTITION BY p.vec_id
       |             ORDER BY round(list_dot_product(p.e, c.ce) / (p.nrm * c.cn) + 0.00000025, 4) DESC,
       |                      c.cid) AS rn
       |    FROM prep p CROSS JOIN cent1 c) WHERE rn = 1)""".stripMargin

  /** CTE chain qs → probe(q, qe, qn, cid) on top of cellsSql's
    * prep/cent1 — the probed-cells half of the search, composable with
    * other candidate rankers (exact cosine in searchSql, PQ-ADC in
    * q_ivfpq_search).
    */
  def probeSql(maxQueryId: Int, nProbe: Int): String =
    s"""qs AS (
       |  SELECT vec_id AS q, e AS qe, nrm AS qn FROM prep WHERE vec_id < $maxQueryId),
       |probe AS (
       |  SELECT q, qe, qn, cid FROM (
       |    SELECT qs.q, qs.qe, qs.qn, c.cid,
       |           row_number() OVER (
       |             PARTITION BY qs.q
       |             ORDER BY round(list_dot_product(qs.qe, c.ce) / (qs.qn * c.cn) + 0.00000025, 4) DESC,
       |                      c.cid) AS rn
       |    FROM qs CROSS JOIN cent1 c) WHERE rn <= $nProbe)""".stripMargin

  /** CTE chain qs → probe → scored(q, rank, b, cos) on top of cellsSql's
    * prep/cent1/assign1.
    */
  def searchSql(maxQueryId: Int, nProbe: Int, k: Int): String =
    s"""${probeSql(maxQueryId, nProbe)},
       |scored AS (
       |  SELECT q, rank, b, cos FROM (
       |    SELECT p.q, a.vec_id AS b,
       |           round(list_dot_product(p.qe, bp.e) / (p.qn * bp.nrm) + 0.00000025, 4) AS cos,
       |           CAST(row_number() OVER (
       |             PARTITION BY p.q
       |             ORDER BY round(list_dot_product(p.qe, bp.e) / (p.qn * bp.nrm) + 0.00000025, 4) DESC,
       |                      a.vec_id) AS INT) AS rank
       |    FROM probe p
       |    JOIN assign1 a ON a.cell = p.cid AND a.vec_id != p.q
       |    JOIN prep bp ON bp.vec_id = a.vec_id)
       |  WHERE rank <= $k)""".stripMargin
}
