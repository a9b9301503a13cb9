package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.serve.CurationPipeline

/** Serving-path latency envelope for the live curation ingest
  * (`POST /corpus/ingest` → `CurationPipeline.admitBatch`): per-batch wall
  * time and admitted docs/sec for B-doc batches against an N-doc corpus
  * index, measured on BOTH index layouts the pipeline serves from —
  * the append tail (what a freshly started or bulk-seeded corpus looks
  * like) and a compacted generation (what the corpus looks like after
  * `compact()` folds the tail into a few flat files).
  *
  * What this measures: how per-batch admit cost splits between the BATCH
  * and the corpus. Neither layout reads the index per batch. A compacted
  * generation is read once, at its first probe, into resident sorted
  * key partitions that each admit binary-searches in one Spark job; tail
  * files are read once onto the driver, in one job, and each admit
  * searches them there. So `first_ms` carries the one-time load (the
  * generation build, or the read of a bulk-seeded tail), and the drift
  * of `p50_ms` with N is the O(batch × log N) search plus the resident
  * partitions' memory.
  *
  * `runMain graft.IngestBench [indexDocs] [batchSize] [nBatches] [cores]`
  * — prints one JSON line. Workload per batch: 80% fresh docs, 10% exact
  * duplicates of corpus docs, 10% near-duplicates (corpus text + one
  * word), so every guard is exercised at its production mix.
  *
  * SPARK_GRAFT_INGEST_CORPUS=<dir with documents.parquet> seeds the index
  * from a REAL corpus (a MakeTier tier) instead of the synthetic
  * generator, and draws the duplicate batch slices from that corpus —
  * the corpus ≫ batch regime. `indexDocs` is ignored in this mode (the corpus row
  * count is reported instead).
  */
object IngestBench {

  /** Deterministic pairwise-shingle-disjoint text for doc `id`: every
    * word carries the id, so distinct ids share no 5-gram.
    */
  private def textExpr(id: org.apache.spark.sql.Column) =
    concat_ws(" ", (0 until 14).map(j =>
      concat(lit("w"), id, lit(s"q$j"))): _*)

  private def docs(spark: SparkSession, ids: DataFrame): DataFrame =
    ids.select(col("id").as("doc_id"), textExpr(col("id")).as("text"))

  def main(args: Array[String]): Unit = {
    val indexDocs = if (args.length > 0) args(0).toInt else 100000
    val batchSize = if (args.length > 1) args(1).toInt else 1000
    val nBatches = if (args.length > 2) args(2).toInt else 12
    val cores = if (args.length > 3) args(3).toInt else 16
    val corpusDir = sys.env.get("SPARK_GRAFT_INGEST_CORPUS")
    // the dup/near-dup batch slices draw from seeded ids < 3100, and the
    // steady-state stats drop the first (warm-up) batch: smaller args
    // would silently bench a 90/10/0 mix, or crash pct() on an empty set
    require(corpusDir.nonEmpty || indexDocs >= 3100,
      s"indexDocs=$indexDocs < 3100: the exact/near-dup slices would miss the corpus")
    require(nBatches >= 2, s"nBatches=$nBatches: need >= 2 (first batch is warm-up)")
    val spark = Sessions.batch("graft-ingest-bench", cores)
    spark.sparkContext.setLogLevel("ERROR")

    // ---- seed the corpus index ONCE via the offline bulk path (the
    // compaction target's input shape), then copy per layout
    val root = java.nio.file.Files.createTempDirectory("graft_ingestbench").toString
    val corpus = corpusDir match {
      case Some(dir) => spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).cache()
      case None => docs(spark, spark.range(indexDocs).toDF("id")).cache()
    }
    val corpusN = corpus.count()
    // duplicate-slice pool for the real-corpus mode: a bounded, cheap,
    // deterministic sample collected once — tier doc_ids are strided
    // (1e9 per replica), so the synthetic mode's dense id ranges can't
    // address them
    val dupPool: Array[(Long, String)] = corpusDir.map { _ =>
      corpus.orderBy(col("doc_id")).limit(4000)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }.getOrElse(Array.empty)
    corpus.select(md5(col("text")).as("text_hash"))
      .write.mode("overwrite").parquet(s"$root/tail/hash_tail")
    Dedup.bandKeys(Dedup.minhashSignatures(Dedup.shingleHashes(
        corpus, col("doc_id"), col("text"), CurationPipeline.ShingleN)))
      .write.mode("overwrite").parquet(s"$root/tail/band_tail")
    // compacted twin: same rows, folded into a committed generation
    val src = java.nio.file.Paths.get(s"$root/tail")
    val dst = java.nio.file.Paths.get(s"$root/compacted")
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    val gen = CurationPipeline.compact(spark, s"$root/compacted")
    println(s"seeded index_docs=$corpusN gen=${gen.version}")

    // ---- the per-batch workload: 80% fresh / 10% exact dup / 10% near dup
    def batchDf(b: Int): DataFrame = {
      import spark.implicits._
      val base = 10000000L + b.toLong * batchSize
      val fresh = docs(spark,
        spark.range(base, base + (batchSize * 8L) / 10).toDF("id"))
      // duplicate slices: dense generator ids in synthetic mode, rotating
      // windows of the collected pool in real-corpus mode (same 10/10 mix)
      def dupSlice(off: Int, tag: Long, mutate: String => String): DataFrame =
        if (dupPool.nonEmpty) {
          val n = batchSize / 10
          // doc_id derives from the unique (b, i) pair alone — folding the
          // pool entry's id in could collide two rows of one slice when
          // the rotating window wraps; the pool entry contributes only
          // its TEXT (the duplicate payload being measured)
          val rows = (0 until n).map { i =>
            val (_, t) = dupPool((off + b * 131 + i) % dupPool.length)
            (tag + b.toLong * batchSize + i, mutate(t))
          }
          rows.toDF("doc_id", "text")
        } else if (off == 0)
          docs(spark,
            spark.range((b * 31L) % 1000, (b * 31L) % 1000 + batchSize / 10).toDF("id"))
            .withColumn("doc_id", col("doc_id") + tag + b.toLong * batchSize)
        else
          docs(spark,
            spark.range((b * 17L) % 1000 + 2000, (b * 17L) % 1000 + 2000 + batchSize / 10).toDF("id"))
            .withColumn("text", concat(col("text"), lit(" padword")))
            .withColumn("doc_id", col("doc_id") + tag + b.toLong * batchSize)
      val exactDup = dupSlice(0, 20000000L, identity)
      val nearDup = dupSlice(2000, 30000000L, _ + " padword")
      fresh.unionAll(exactDup).unionAll(nearDup)
        .withColumn("ts", current_timestamp())
        .localCheckpoint() // materialized: the clock must time ADMISSION
    }

    def pct(v: Seq[Double], p: Double): Double = {
      val s = v.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

    def run(layout: String): String = {
      val stats = new CurationPipeline.Stats
      val times = (0 until nBatches).map { b =>
        val batch = batchDf(b)
        val t0 = System.nanoTime()
        CurationPipeline.admitBatch(spark, batch, s"$root/$layout", stats)
        (System.nanoTime() - t0) / 1e6
      }
      // batch 0 pays JIT/plan warmup; report it separately, stats on the rest
      val steady = times.drop(1).map(_.toDouble)
      val totalDocs = (nBatches - 1).toLong * batchSize
      val docsPerSec = totalDocs / (steady.sum / 1000.0)
      // Locale.ROOT: the default-locale f-interpolator renders a decimal
      // comma on e.g. de_DE JVMs — malformed JSON
      def f0(d: Double) = String.format(java.util.Locale.ROOT, "%.0f", Double.box(d))
      s"""{"first_ms":${f0(times.head)},"p50_ms":${f0(pct(steady, 0.5))},"p95_ms":${f0(pct(steady, 0.95))},"docs_per_sec":${f0(docsPerSec)},"admitted":${stats.admitted.get},"rejected_exact":${stats.rejectedExactCorpus.get},"rejected_near":${stats.rejectedNearDup.get},"rejected_near_batch":${stats.rejectedNearDupBatch.get}}"""
    }

    val tailJson = run("tail")
    val compactedJson = run("compacted")
    val srcJson = corpusDir.map(d => s""""$d"""").getOrElse("null")
    println(s"""{"metric":"ingest_latency","index_docs":$corpusN,"corpus":$srcJson,"batch_size":$batchSize,"batches":$nBatches,"tail":$tailJson,"compacted":$compactedJson}""")
    spark.stop()
  }
}
