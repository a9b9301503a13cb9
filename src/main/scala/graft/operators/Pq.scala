package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding compression + ADC search
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011). The reference has no vector surface; this is part of the
  * beyond-reference training-data-pipeline family (SURVEY §2 extension),
  * complementing IVF: IVF prunes WHERE to look, PQ compresses WHAT is
  * scanned — a 64-dim float vector (256 B) becomes M=16 nibble-range codes
  * (16 B packed).
  *
  * Determinism contract (same discipline as operators/Ivf.scala): the
  * per-subspace codebook is seeded from the first KPq vectors' subslices
  * and runs `Iters` Lloyd iterations under rounded squared-L2 with
  * smallest-cid tie-breaks, so the DuckDB oracle replays it bit-for-bit
  * (dots fold left-to-right in double in both engines; each iteration is
  * the same oracle CTE triple repeated).
  *
  * Expected quality on the synthetic corpus: the embeddings are
  * near-isotropic (max pairwise cosine ~0.5), so exact top-5 neighbors
  * are nearly equidistant and ANY quantizer's recall@5 is noise-bound —
  * ~0.35 here. That is the honest PQ behavior on unstructured data, and
  * exactly what q_pq_recall exists to measure; on clustered real
  * corpora the same code/codebook sizes reach 0.8+.
  *
  * ADC (asymmetric distance computation): the query stays full-precision;
  * per query a distance table dt[sub][cid] = d2(q_sub, centroid) is built
  * (Q·M·KPq rows — tiny, broadcast), and each database vector's distance
  * is the sum of M table lookups on its codes. Partial distances are
  * SCALED TO INTEGER (round(d2·10⁴)) before summing so the cross-subspace
  * sum is exact long arithmetic — float-order-independent, hence
  * engine-independent — instead of an order-sensitive double fold.
  *
  * Scale shape: codebook is M·KPq rows (broadcast everywhere); encoding is
  * one narrow pass over the corpus (broadcast join + per-key argmin); ADC
  * scan is a broadcast lookup join + map-side-combined sum — linear in
  * corpus size with no corpus-side shuffle beyond the (q, b) partial
  * aggregation. At 100 TB, compose with IVF: store codes partitioned by
  * IVF cell and ADC-scan only probed cells (IVF-PQ); the code table is
  * 16x smaller than the raw vectors, so even the full scan ships a
  * sixteenth of the bytes.
  */
object Pq {

  val M = 16           // subspaces
  val DSub = Similarity.Dim / M
  val KPq = 16         // codes per subspace
  val Iters = 1        // Lloyd iterations (deterministic, oracle-replayed;
                       // measured recall@5 is flat in Iters on the
                       // near-isotropic synthetic corpus, so pay for one)
  val TrainMax = 512L  // quantizer training sample bound (vec_id < TrainMax).
                       // Training a quantizer on the full corpus is the one
                       // part of this family that breaks at 100 TB: the Lloyd
                       // mean-recompute shuffles corpus*M*DSub exploded rows.
                       // Standard practice (FAISS trains on ~256*K samples)
                       // is a bounded sample; the deterministic id cut keeps
                       // the sample replayable in both engines and constant
                       // under corpus growth (MakeTier replicas carry
                       // offset ids, so the training set never grows with k).

  /** Rounded squared L2, identical expression tree in both engines:
    * d2 = dot(a,a) - 2*dot(a,b) + dot(b,b), folded left-to-right.
    */
  def d2(a: Column, b: Column): Column =
    Similarity.dot(a, a) - lit(2) * Similarity.dot(a, b) + Similarity.dot(b, b)

  private def d2Sql(a: String, b: String): String =
    s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"

  /** (vec_id, sub, se): each vector's M contiguous DSub-wide slices. */
  def subvecs(prep: DataFrame): DataFrame =
    prep.select(col("vec_id"),
        explode(sequence(lit(0), lit(M - 1))).as("sub"), col("e"))
      .select(col("vec_id"), col("sub"),
        slice(col("e"), col("sub") * DSub + 1, lit(DSub)).as("se"))

  /** Per-(vec, sub) nearest codebook entry by rounded d2, cid tie-break.
    * cb: (sub, cid, ce) — M*KPq rows, broadcast. The argmin is
    * min(struct(d2r, cid)) — lexicographic struct ordering gives exactly
    * the (d2r asc, cid asc) rank-1 row, but as a PARTIAL aggregate: the
    * map side combines the KPq-way fan-out away before the shuffle, where
    * a window rank would sort and shuffle every (vec, sub, cid) row.
    */
  def nearest(sv: DataFrame, cb: DataFrame, out: String): DataFrame =
    sv.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"),
        struct(Num.r4(d2(col("se"), col("ce"))).as("d2r"), col("cid")).as("sc"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as(out))

  /** One Lloyd step: assign sv to cb, recompute centroids as per-cell
    * element-wise means. A cell that captures no vectors drops out (both
    * engines agree — the argmin simply never picks it again).
    */
  def lloydStep(sv: DataFrame, cb: DataFrame): DataFrame = {
    val a = nearest(sv, cb, "cid")
    sv.join(a, Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("se")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos")).agg(avg(col("x")).as("xavg"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("xavg")))),
        s => s.getField("xavg")).as("ce"))
  }

  /** Per-subspace codebook after `Iters` Lloyd steps from the
    * deterministic seed (first KPq vectors' subslices): (sub, cid, ce).
    * Trains on the bounded sample (vec_id < TrainMax) ONLY — every Lloyd
    * join/shuffle is sample-sized regardless of corpus size; the full
    * corpus is touched later, by the one map-only encode pass.
    */
  def codebook(sv: DataFrame): DataFrame = codebookLocal(sv)

  /** Declarative codebook trainer — `codebook`'s parity twin (PqSpec
    * holds the routes equal); the corpus never passes through either.
    */
  private[graft] def codebookDistributed(sv: DataFrame): DataFrame = {
    val train = sv.filter(col("vec_id") < TrainMax)
    val cb0 = train.filter(col("vec_id") < KPq)
      .select(col("sub"), col("vec_id").as("cid"), col("se").as("ce"))
    (1 to Iters).foldLeft(cb0)((cb, _) => lloydStep(train, cb))
  }

  /** Driver-local codebook trainer over the bounded training slice (the
    * Ivf.centroidsLocal pattern): one filter-pushed collect of the
    * TrainMax×M subvector rows replaces `Iters` declarative Lloyd steps
    * (each a broadcast-join argmin + posexplode-mean — ~4 exchanges per
    * iteration). Same arithmetic: per-(vec, sub) nearest entry by
    * r4Jvm(d2) with strict < over cid-sorted entries (the encodeBroadcast
    * kernel's tie rule — exactly the declarative min(struct(d2r, cid))),
    * means accumulated in ascending vec_id order then divided by the
    * entry count (float-order deltas vs the declarative avg sit far
    * inside the 1e-4 rounding every consumer applies), empty entries
    * dropped by construction.
    */
  private[graft] def codebookLocal(sv: DataFrame): DataFrame = {
    val spark = sv.sparkSession
    import spark.implicits._
    val train = sv.filter(col("vec_id") < TrainMax)
      .select(col("vec_id"), col("sub").cast("int"), col("se"))
      .as[(Long, Int, Seq[Double])]
      .collect().sortBy(t => (t._2, t._1)) // per sub, ascending vec_id
      .map { case (id, s, e) => (id, s, e.toArray) }
    var cb: Array[(Int, Long, Array[Double])] = train
      .filter(_._1 < KPq)
      .map { case (id, s, e) => (s, id, e) } // cid-sorted within sub
    // mirror Ivf.centroidsLocal's named guard: without it, a training
    // slice with no vec_id < KPq throws a bare NoSuchElementException
    // from bySub(s) deep in the Lloyd loop (the declarative twin
    // degrades to an empty codebook — callers must not reach here with
    // an unseedable slice)
    locally {
      val seeded = cb.map(_._1).toSet
      train.foreach { case (_, s, _) =>
        require(seeded.contains(s),
          s"PQ codebookLocal: subspace $s has no seed entry " +
            s"(no training vector with vec_id < KPq=$KPq)")
      }
    }
    for (_ <- 1 to Iters) {
      // entries for one sub, cid-sorted, with precomputed self-dots
      val bySub = cb.groupBy(_._1).map { case (s, es) =>
        s -> es.sortBy(_._2).map { case (_, cid, ce) =>
          var bb = 0.0
          var j = 0
          while (j < ce.length) { bb += ce(j) * ce(j); j += 1 }
          (cid, ce, bb)
        }
      }
      val sums = new scala.collection.mutable.LinkedHashMap[
        (Int, Long), (Array[Double], Array[Long])]()
      train.foreach { case (_, s, e) =>
        var aa = 0.0
        var i = 0
        while (i < e.length) { aa += e(i) * e(i); i += 1 }
        val entries = bySub(s)
        var bestCid = entries(0)._1
        var bestD = Double.PositiveInfinity
        entries.foreach { case (cid, ce, bb) =>
          var ab = 0.0
          var j = 0
          while (j < ce.length) { ab += e(j) * ce(j); j += 1 }
          val d = Num.r4Jvm(aa - 2 * ab + bb)
          if (d < bestD) { bestD = d; bestCid = cid }
        }
        val (acc, cnt) = sums.getOrElseUpdate((s, bestCid),
          (new Array[Double](e.length), new Array[Long](1)))
        var j = 0
        while (j < e.length) { acc(j) += e(j); j += 1 }
        cnt(0) += 1
      }
      cb = sums.toArray.map { case ((s, cid), (acc, cnt)) =>
        val ce = new Array[Double](acc.length)
        var j = 0
        while (j < acc.length) { ce(j) = acc(j) / cnt(0); j += 1 }
        (s, cid, ce)
      }
    }
    spark.createDataset(
        cb.toSeq.sortBy(t => (t._1, t._2))
          .map { case (s, cid, ce) => (s, cid, ce.toSeq) })
      .toDF("sub", "cid", "ce")
  }

  /** Encode the corpus: (vec_id, sub, code), M rows per vector. */
  def encode(sv: DataFrame, cb: DataFrame): DataFrame =
    nearest(sv, cb, "code")

  /** Streaming-capable encoder: the codebook (bounded — it IS the index)
    * is collected, broadcast, and each vector computes all M codes in one
    * stateless partition-local pass — a pure map with no shuffle and no
    * state, so it runs under Structured Streaming in append mode: the
    * continuous-ingest path that admits new vectors into an IVF-PQ index.
    * Identical codes to `encode` (same left-to-right double fold as the
    * codegen'd dot, same rounded-d2 + smallest-cid tie-break, with
    * BigDecimal HALF_UP replicating Spark's round — the assignBroadcast
    * parity discipline). Output: (vec_id, codes array<long>, sub-indexed).
    */
  def encodeBroadcast(spark: org.apache.spark.sql.SparkSession,
                      vecs: DataFrame, cb: DataFrame): DataFrame = {
    import spark.implicits._
    // centroid self-dot-products precomputed once per codebook entry —
    // recomputing ce·ce inside the per-vector loop would waste
    // M·KPq·DSub multiply-adds on EVERY encoded vector of a stream
    val bySub: Array[Array[(Long, Array[Double], Double)]] = cb
      .select(col("sub").cast("int"), col("cid").cast("long"), col("ce"))
      .as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map { case (_, c, e0) =>
        val e = e0.toArray
        var bb = 0.0
        var j = 0
        while (j < e.length) { bb += e(j) * e(j); j += 1 }
        (c, e, bb)
      })
    require(bySub.length == M, s"codebook must cover all $M subspaces")
    val bc = spark.sparkContext.broadcast(bySub)
    vecs.select(col("vec_id"), col("e")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cbs = bc.value
        it.map { case (id, e0) =>
          val e = e0.toArray
          val codes = new Array[Long](M)
          var s = 0
          while (s < M) {
            val off = s * DSub
            var aa = 0.0
            var i = 0
            while (i < DSub) { val x = e(off + i); aa += x * x; i += 1 }
            var bestCid = cbs(s)(0)._1
            var bestD = Double.PositiveInfinity
            cbs(s).foreach { case (cid, ce, bb) =>
              var ab = 0.0
              var j = 0
              while (j < DSub) { ab += e(off + j) * ce(j); j += 1 }
              val d = Num.r4Jvm(aa - 2 * ab + bb)
              // strict < keeps the smallest cid on ties (cid-sorted)
              if (d < bestD) { bestD = d; bestCid = cid }
            }
            codes(s) = bestCid
            s += 1
          }
          (id, codes.toSeq)
        }
      }.toDF("vec_id", "codes")
  }

  /** Map-only corpus encode in the (vec_id, sub, code) row shape of
    * `encode`: the trained codebook (M*KPq rows — bounded, it IS the
    * index) is collected once and the codes come from the stateless
    * per-partition kernel, so the corpus pass has NO shuffle — where the
    * declarative `encode` pays a broadcast join plus a (vec_id, sub)
    * partial-agg exchange. Code-for-code equal to `encode` (PqSpec's
    * encodeBroadcast parity test); vecs needs (vec_id, e).
    */
  def encodeRows(spark: org.apache.spark.sql.SparkSession,
                 vecs: DataFrame, cb: DataFrame): DataFrame =
    encodeBroadcast(spark, vecs, cb)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))

  /** Scaled-integer partial distance: round(d2 * 10^4) as long. The
    * 0.0025 bias is Num.Eps carried through the 10^4 scaling (see Num's
    * boundary rationale) — applied identically in the oracle.
    */
  private def diScaled(a: Column, b: Column): Column =
    round(d2(a, b) * 10000 + 0.0025, 0).cast("long")

  /** Per-query distance table over the codebook: (q, sub, cid, di). */
  def distanceTable(qsv: DataFrame, cb: DataFrame): DataFrame =
    qsv.join(broadcast(cb), "sub")
      .select(col("q"), col("sub"), col("cid"),
        diScaled(col("qe"), col("ce")).as("di"))

  /** ADC top-k per query: (q, rank, b, adc10k). adc10k is the exact long
    * sum of the M scaled partials — bit-equal across engines by
    * construction. dt: (q, sub, cid, di) broadcast; codes: (vec_id, sub,
    * code). The lookup join is map-side (dt broadcast); the (q, b) sum is
    * partially aggregated before the shuffle.
    */
  def adc(dt: DataFrame, codes: DataFrame, topK: Int): DataFrame = {
    val c = codes.select(col("vec_id").as("b"), col("sub").as("csub"),
      col("code"))
    broadcast(dt)
      .join(c, col("csub") === col("sub") && col("code") === col("cid"))
      .filter(col("b") =!= col("q"))
      .groupBy(col("q"), col("b"))
      .agg(sum(col("di")).as("adc10k"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("adc10k"), col("b"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("q"), col("rank"), col("b"), col("adc10k"))
  }

  /** Candidate-restricted ADC (the IVF-PQ composition): rank only the
    * (q, b) pairs in `cand` — e.g. the probed IVF cells' population —
    * by code lookups. The codes join is a candidate-bounded equijoin on
    * b; the distance table broadcasts; same exact-long-sum contract as
    * the full scan.
    */
  def adcOver(cand: DataFrame, dt: DataFrame, codes: DataFrame,
              topK: Int): DataFrame = {
    val c = codes.select(col("vec_id").as("b"), col("sub").as("csub"),
      col("code"))
    val d = broadcast(dt.select(col("q").as("dq"), col("sub"), col("cid"),
      col("di")))
    cand.join(c, "b")
      .join(d, col("dq") === col("q") && col("sub") === col("csub") &&
        col("cid") === col("code"))
      .groupBy(col("q"), col("b"))
      .agg(sum(col("di")).as("adc10k"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("adc10k"), col("b"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("q"), col("rank"), col("b"), col("adc10k"))
  }

  // A driver-local adaptive ADC kernel (the connectedComponentsAdaptive
  // pattern) was built and A/B-benched here in r12 and REMOVED: the
  // IVF-PQ tail after `encodeRows` is only ~3 stages, so localizing it
  // saved nothing measurable at sf0.1 (recall/search medians within box
  // noise both directions) while splitting the one lazy cache-sharing
  // DAG into eager driver jobs. The adaptive pattern pays when it
  // replaces a LONG stage chain, not a short tail.

  // ------------------------------------------------------------ oracle SQL

  /** subv → pcb0 → (pa_i → pdims_i → pcb_{i+1})×Iters → pcodes: the
    * per-subspace quantizer, identical arithmetic to the Scala path; each
    * Lloyd step is the same CTE triple repeated. Assumes a `prep` CTE
    * with (vec_id, e) already exists — composable on top of
    * Ivf.cellsSql's prep (whose extra nrm column is harmless).
    */
  def codesChainSql: String = {
    def argminSql(src: String, cb: String): String =
      s"""  SELECT vec_id, sub, cid FROM (
         |    SELECT s.vec_id, s.sub, c.cid,
         |           row_number() OVER (
         |             PARTITION BY s.vec_id, s.sub
         |             ORDER BY round(${d2Sql("s.se", "c.ce")} + 0.00000025, 4), c.cid) AS rn
         |    FROM $src s JOIN $cb c ON c.sub = s.sub) WHERE rn = 1""".stripMargin
    val head =
      s"""subv AS (
         |  SELECT vec_id, m.sub,
         |         list_slice(e, m.sub * $DSub + 1, m.sub * $DSub + $DSub) AS se
         |  FROM prep CROSS JOIN (SELECT unnest(range(0, $M)) AS sub) m),
         |subv_train AS (
         |  SELECT * FROM subv WHERE vec_id < $TrainMax),
         |pcb0 AS (
         |  SELECT sub, vec_id AS cid, se AS ce FROM subv_train WHERE vec_id < $KPq)""".stripMargin
    val steps = (0 until Iters).map { i =>
      s"""pa$i AS (
         |${argminSql("subv_train", s"pcb$i")}),
         |pdims$i AS (
         |  SELECT a.sub, a.cid, unnest(range(1, ${DSub + 1})) AS pos, unnest(s.se) AS x
         |  FROM subv_train s JOIN pa$i a ON a.vec_id = s.vec_id AND a.sub = s.sub),
         |pcb${i + 1} AS (
         |  SELECT sub, cid, list(xavg ORDER BY pos) AS ce
         |  FROM (SELECT sub, cid, pos, avg(x) AS xavg FROM pdims$i GROUP BY sub, cid, pos)
         |  GROUP BY sub, cid)""".stripMargin
    }
    val codes =
      s"""pcodes AS (
         |  SELECT vec_id, sub, cid AS code FROM (
         |${argminSql("subv", s"pcb$Iters")}))""".stripMargin
    (Seq(head) ++ steps :+ codes).mkString(",\n")
  }

  /** Standalone quantizer chain: prep straight off the embeddings table +
    * codesChainSql.
    */
  def codesSql: String =
    s"""prep AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$codesChainSql""".stripMargin

  /** pqs → pdt: the per-query subspace distance table over the final
    * codebook, scaled-integer partials.
    */
  def dtSql(maxQueryId: Int): String =
    s"""pqs AS (
       |  SELECT vec_id AS q, sub, se AS qe FROM subv WHERE vec_id < $maxQueryId),
       |pdt AS (
       |  SELECT q, s.sub, c.cid,
       |         CAST(round((${d2Sql("s.qe", "c.ce")}) * 10000 + 0.0025) AS BIGINT) AS di
       |  FROM pqs s JOIN pcb$Iters c ON c.sub = s.sub)""".stripMargin

  /** CTE chain pqs → pdt → padc → pscored(q, rank, b, adc10k) on top of
    * codesSql's subv/pcb$Iters/pcodes — the full-corpus ADC scan.
    */
  def adcSql(maxQueryId: Int, topK: Int): String =
    s"""${dtSql(maxQueryId)},
       |padc AS (
       |  SELECT d.q, p.vec_id AS b, CAST(sum(d.di) AS BIGINT) AS adc10k
       |  FROM pdt d
       |  JOIN pcodes p ON p.sub = d.sub AND p.code = d.cid
       |  WHERE p.vec_id != d.q
       |  GROUP BY d.q, p.vec_id),
       |pscored AS (
       |  SELECT q, rank, b, adc10k FROM (
       |    SELECT q, b, adc10k,
       |           CAST(row_number() OVER (
       |             PARTITION BY q ORDER BY adc10k, b) AS INT) AS rank
       |    FROM padc) WHERE rank <= $topK)""".stripMargin
}
