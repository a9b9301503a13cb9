package pbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.serve.CurationPipeline

/** `corpus_ingest`: closed-loop curation admits. A synthetic corpus index
  * is seeded through the bulk path and `CurationPipeline.compact` (the
  * layout ServeMain serves from); then 1000-doc batches (80% fresh, 10%
  * exact duplicates, 10% near duplicates of indexed docs) go through
  * `CurationPipeline.admitBatch` from a MemoryStream-fed query, as
  * ServeMain's `/corpus/ingest` does, each admit appending to the index.
  */
object CorpusIngest {

  val IndexDocs = 20000
  val BatchDocs = 1000
  val FreshBase = 10000000L

  val DocWords = 40

  /** Bulk path: md5 hash log and `Dedup` band log of `docs` synthetic
    * docs, folded by one `CurationPipeline.compact` into the key-slot
    * layout ServeMain serves from.
    */
  def seedIndex(ctx: Harness.Ctx, spark: SparkSession, root: String, docs: Int): Unit = {
    val corpus = seedCorpus(spark, ctx.seed, docs)
    ctx.tracer("serve.curation.hash_log") {
      corpus.select(md5(col("text")).as("text_hash"))
        .write.mode("overwrite").parquet(s"$root/hash_tail")
    }
    ctx.tracer("operators.dedup.bulk_bands") {
      Dedup.bandKeys(Dedup.minhashSignatures(Dedup.shingleHashes(
          corpus, col("doc_id"), col("text"), CurationPipeline.ShingleN)))
        .write.mode("overwrite").parquet(s"$root/band_tail")
    }
    ctx.tracer("serve.curation.compact")(CurationPipeline.compact(spark, root))
    ()
  }

  /** Words carry the doc id, so distinct ids share no shingle; a near
    * duplicate (one extra word) keeps a shingle Jaccard of 36/37.
    */
  def text(id: Long, seed: Long): String =
    (0 until DocWords).map(j => s"w${id}s${seed}q$j").mkString(" ")

  /** Docs 0 until `docs` with their [[text]], built in Spark. */
  def seedCorpus(spark: SparkSession, seed: Long, docs: Int): DataFrame =
    spark.range(docs).toDF("doc_id")
      .select(col("doc_id"), concat_ws(" ", (0 until DocWords).map(j =>
        concat(lit("w"), col("doc_id"), lit(s"s${seed}q$j"))): _*).as("text"))

  type Doc = (Long, Timestamp, String)

  /** Expected decision counts per admitted batch, replayed in the harness
    * in admit order from the docs' texts and the band keys the program's
    * own `Dedup` MinHash/LSH functions give them: a second copy of a text
    * in the batch is a batch duplicate, a copy of an indexed text an
    * exact duplicate, a band key shared with a smaller id of the batch a
    * batch near duplicate, a band key shared with an indexed doc a near
    * duplicate; the rest is admitted and joins the index. A near
    * duplicate that LSH does not catch is thus expected to be admitted.
    */
  def expectedCounts(spark: SparkSession, seed: Long,
                     batches: Seq[Seq[Doc]]): Seq[Map[String, Long]] = {
    import spark.implicits._
    def bandsOf(df: DataFrame): Map[Long, Seq[(Int, String)]] =
      Dedup.bandKeys(df).as[(Long, Int, String)].collect().toSeq
        .groupMap(_._1)(r => (r._2, r._3))
    val seedBands = bandsOf(Dedup.minhashSignatures(Dedup.shingleHashes(
      seedCorpus(spark, seed, IndexDocs), col("doc_id"), col("text"), CurationPipeline.ShingleN)))
    val docBands = bandsOf(Dedup.minhashSignaturesRowwise(batches.flatten.toDF("doc_id", "ts", "text"),
      col("doc_id"), col("text"), CurationPipeline.ShingleN))
    val texts = mutable.HashSet.empty[String] ++ (0L until IndexDocs).map(text(_, seed))
    val keys = mutable.HashSet.empty[(Int, String)] ++ seedBands.values.flatten
    batches.map { batch =>
      val seen = mutable.HashSet.empty[String]
      val batchKeys = mutable.HashSet.empty[(Int, String)]
      val decided = batch.sortBy(_._1).map { case (id, _, t) =>
        val b = docBands.getOrElse(id, Nil)
        val d =
          if (!seen.add(t)) "rejected_other"
          else if (texts(t)) "rejected_exact"
          else {
            val near = if (b.exists(batchKeys)) "rejected_other"
              else if (b.exists(keys)) "rejected_near" else "admitted"
            batchKeys ++= b
            near
          }
        (d, t, b)
      }
      decided.filter(_._1 == "admitted").foreach { case (_, t, b) => texts += t; keys ++= b }
      Seq("admitted", "rejected_exact", "rejected_near", "rejected_other")
        .map(k => k -> decided.count(_._1 == k).toLong).toMap
    }
  }

  final class Ingest(val spark: SparkSession, val collector: Option[Collector],
                     val root: String, ctx: Harness.Ctx) {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stats = new CurationPipeline.Stats
    private val rng = new SplittableRandom(ctx.seed * 31L + 7L)
    private var batchNo = 0L
    /** Every admitted batch, in admit order. */
    val admitted = mutable.ArrayBuffer.empty[Seq[Doc]]

    seedIndex(ctx, spark, root, IndexDocs)

    val in = MemoryStream[(Long, Timestamp, String)]
    val query: StreamingQuery = in.toDF().toDF("doc_id", "ts", "text")
      .writeStream.queryName("corpus").outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        ctx.tracer("serve.curation.admit", "streaming.corpus") {
          CurationPipeline.admitBatch(spark, b, root, stats)
        }
      }
      .start()

    /** Next batch: 800 fresh docs, 100 exact and 100 near duplicates of
      * distinct indexed docs (from disjoint halves of the index).
      */
    def nextBatch(): Seq[Doc] = {
      val b = batchNo
      batchNo += 1
      val ts = new Timestamp(Logs.BaseMs + b * 1000L)
      def pick(lo: Int, n: Int): Seq[Long] = {
        val s = mutable.LinkedHashSet.empty[Long]
        while (s.size < n) s += (lo + rng.nextInt(IndexDocs / 2)).toLong
        s.toSeq
      }
      val fresh = (0 until BatchDocs * 8 / 10).map { i =>
        val id = FreshBase + b * BatchDocs + i
        (id, ts, text(id, ctx.seed))
      }
      val exact = pick(0, BatchDocs / 10).zipWithIndex.map { case (src, i) =>
        (2 * FreshBase + b * BatchDocs + i, ts, text(src, ctx.seed))
      }
      val near = pick(IndexDocs / 2, BatchDocs / 10).zipWithIndex.map { case (src, i) =>
        (3 * FreshBase + b * BatchDocs + i, ts, text(src, ctx.seed) + " padword")
      }
      fresh ++ exact ++ near
    }

    /** The layer calls inside an admit, timed one by one on a batch that
      * is not admitted (a traced run, after its measured admits).
      */
    def probe(batch: Seq[Doc]): Unit = {
      val df = batch.toDF("doc_id", "ts", "text")
      val bands = ctx.tracer("operators.dedup.signature") {
        Dedup.bandKeys(Dedup.minhashSignatures(Dedup.shingleHashes(
          df, col("doc_id"), col("text"), CurationPipeline.ShingleN))).localCheckpoint()
      }
      ctx.tracer("serve.curation.exact_probe") {
        CurationPipeline.corpusHashHits(spark, root,
          df.select(md5(col("text")).as("text_hash"))).count()
      }
      ctx.tracer("serve.curation.band_probe") {
        CurationPipeline.corpusBandHits(spark, root, bands).count()
      }
      ()
    }

    def admit(batch: Seq[Doc]): Double = {
      admitted += batch
      val t0 = System.nanoTime()
      in.addData(batch)
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }

    /** Decisions so far, by the benchmark's four kinds. */
    def counts: Map[String, Long] = Map(
      "admitted" -> stats.admitted.get,
      "rejected_exact" -> stats.rejectedExactCorpus.get,
      "rejected_near" -> stats.rejectedNearDup.get,
      "rejected_other" -> (stats.rejectedExactBatch.get +
        stats.rejectedNearDupBatch.get + stats.rejectedContained.get))

    def close(): Unit = { query.stop(); spark.stop() }
  }

  /** Batches a traced run probes after its measured admits. */
  val ProbeBatches = 2

  def run(ctx: Harness.Ctx): Map[String, Any] = {
    var rep = 0
    val (ing, setups) = Harness.repeatedSetup(Harness.SetupReps) {
      val spark = Harness.session(ctx)
      val collector = if (ctx.trace) Some(new Collector().attach(spark)) else None
      rep += 1
      new Ingest(spark, collector, ctx.file(s"corpus-$rep").getPath, ctx)
    }(_.close())
    val spark = ing.spark
    // an untimed admit lets lazy set-up and JIT finish before timing
    ing.admit(ing.nextBatch())
    val warm = ing.counts

    ctx.tracer.reset()
    ing.collector.foreach(_.resetSkew())
    Harness.mark("warm admit")
    val sinceMs = System.currentTimeMillis()
    val isAdmit = (k: String) => k == "serve.curation.admit"
    val before = ing.collector.map(c => (Harness.snapshot(c), Harness.snapshot(c, isAdmit)))
    // a fixed number of admits, sized so the measured phase takes about
    // `seconds` on a 4-core box
    val n = math.max(3, ctx.seconds / 3)
    val admitMs = (0 until n).map(_ => ing.admit(ing.nextBatch()))
    val untilMs = System.currentTimeMillis()
    Harness.mark("measured")
    val ops = (n * BatchDocs).toDouble
    val engine: Map[String, Any] = ing.collector match {
      case Some(c) =>
        c.flush(spark)
        val (all, admit) = before.get
        val afterAdmit = Harness.snapshot(c, isAdmit)
        def perBatch(k: String) = Harness.per((afterAdmit(k) - admit(k)).toDouble, n)
        Harness.sparkPerOp(c, all, Harness.snapshot(c), ops, ctx.cores) ++ Map(
          "curation.jobs_per_batch" -> perBatch("jobs"),
          "curation.stages_per_batch" -> perBatch("stages"),
          "curation.index_bytes_per_doc" -> Harness.per(Harness.dirBytes(ing.root).toDouble,
            (IndexDocs + ing.stats.admitted.get).toDouble))
      case None => Map.empty
    }
    val retained = Harness.retainedHeapMb()
    val counts = ing.counts.map { case (k, v) => k -> (v - warm(k)) }
    val expected = ctx.tracer("check.lsh_replay") {
      expectedCounts(spark, ctx.seed, ing.admitted.toSeq).drop(ing.admitted.size - n)
        .reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    }
    Harness.mark("checked")

    val layers: Map[String, Any] = ing.collector match {
      case Some(c) =>
        def spanMean(name: String) = ctx.tracer.table.find(_._1 == name)
          .map(t => t._3 / t._2).getOrElse(0.0)
        // the admit spans nest in their micro-batches
        Harness.progressOf(c, "corpus", sinceMs, untilMs).foreach(p => ctx.tracer.record(
          "streaming.corpus", "", p.startNs, p.startNs + p.triggerMs * 1000000L))
        val measured = engine ++ Harness.selfPerOp(ctx, ops) ++
          Map("curation.admit_ms" -> spanMean("serve.curation.admit"))
        (0 until ProbeBatches).foreach(_ => ing.probe(ing.nextBatch()))
        measured ++ Map(
          "curation.exact_probe_ms" -> spanMean("serve.curation.exact_probe"),
          "curation.band_probe_ms" -> spanMean("serve.curation.band_probe"),
          "operators.dedup.signature_ms" -> spanMean("operators.dedup.signature"))
      case None => Map.empty
    }
    ing.close()
    Harness.mark("closed")
    Map("setup_s" -> setups, "retained_heap_mb" -> retained, "admit_ms" -> admitMs,
      "batch_docs" -> BatchDocs, "counts" -> counts, "expected_counts" -> expected,
      "seeded_mix" -> Map("admitted" -> n * BatchDocs * 8L / 10,
        "rejected_exact" -> n * BatchDocs / 10L, "rejected_near" -> n * BatchDocs / 10L,
        "rejected_other" -> 0L),
      "layers" -> layers)
  }
}
