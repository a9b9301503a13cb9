package graft.serve

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayExpressions
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, Route}
import graft.queries.PiiQueries

/** Live corpus-curation ingest: the batch funnel's guards — PII scrub,
  * exact dedup, near-dup LSH admit, intra-batch containment — composed
  * into ONE running Structured Streaming pipeline behind
  * `POST /corpus/ingest`.
  *
  * Per micro-batch (`foreachBatch`, batch semantics — the any-band OR of
  * the near-dup admit needs a per-doc aggregation append mode cannot
  * express without state), an admit runs
  * one fetch and two index probes (together in one map-only stage) as
  * Spark work — at most 5 jobs, none of which writes — and two
  * driver-written appends:
  *   1. fetch: ONE projection per doc scrubs it (`PiiQueries.redactExpr` —
  *      map-only, no injection: real arrivals carry their own PII, and the
  *      redacted text is what gets admitted) and brings back its md5
  *      content hash, redacted-char count, length, shingle hashes and the
  *      `Dedup` band keys computed from those same shingle hashes. The
  *      batch is first repartitioned to `defaultParallelism` (an explicit
  *      count, which AQE does not coalesce), so this runs on every core
  *      even when the micro-batch is one partition, as a `MemoryStream`
  *      batch is; the price is one tiny shuffle-map stage (~16 ms), which
  *      a 1-doc HTTP batch pays too;
  *   2. exact dedup: first occurrence per hash inside the batch wins (min
  *      doc_id, `exact_dup_batch`), then arrivals whose hash exists in the
  *      PERSISTED corpus hash index are rejected (`exact_dup_corpus`,
  *      probe 1: `corpusHashHits`);
  *   3. near-dup guard over the exact survivors, two layers:
  *      a. INTRA-BATCH: any doc sharing a band key with a smaller-id
  *         survivor of the same batch is rejected (`near_dup_batch`),
  *         regardless of that smaller doc's own fate (deterministic,
  *         stricter-never-looser). Without this, back-to-back near-dup
  *         posts — the common scrape pattern — would batch together and
  *         both pass;
  *      b. CORPUS: band keys probed against the persisted band index —
  *         any band hit rejects (`near_dup_corpus`, probe 2:
  *         `corpusBandHits`);
  *   4. containment guard (INTRA-BATCH, over the near-dup SURVIVORS —
  *      the batch funnel's stage order): a survivor whose cool shingles
  *      are >=80% inside a LARGER surviving doc of the same batch is
  *      rejected (`contained_batch`) — the quote-inclusion shape the
  *      symmetric LSH guard misses at Jaccard ~0.2, and the common scrape
  *      burst (article + its excerpt posted together). Corpus-wide
  *      containment is deliberately NOT guarded here: it would need a
  *      persisted shingle-level inverted index (band rows cannot answer
  *      asymmetric overlap), so cross-batch excerpts are the batch
  *      funnel's d_containment stage's job — a documented bounded posture,
  *      stricter-never-looser within each batch;
  *   5. admitted docs EXTEND both indexes (hash + band rows appended as
  *      one parquet file each, written on the driver — no Spark job), so
  *      later batches are guarded against earlier ones — true corpus
  *      extension, not a static snapshot.
  *
  * Only the two probes read corpus-sized data; every intra-batch rule is
  * decided on the driver from the fetched facts, and the appends are
  * written there too. At micro-batch size each Spark job's fixed cost
  * (scheduling plus one AQE stage materialization, and for a write its
  * commit: tens to a hundred-odd ms) outweighs its data work, so a rule
  * expressed as a self-join, groupBy or broadcast join, or a write of a
  * batch's few KB of index rows, costs more than the batch it serves; the
  * driver already holds one row per doc for the decision log.
  *
  * INDEX MEMBERSHIP IS SCAN-ONLY, NEVER SHUFFLE: the exact-dup corpus
  * check is `index ⋉ broadcast(batch hashes)` (left semi with the
  * micro-batch side broadcast), and the band probe is
  * `index ⋈ broadcast(batch band rows)`. The corpus-sized side is read in
  * place — no distinct(), no HashAggregate, no Exchange over it or over
  * the hits, per batch (CompactionSpec asserts the shape); admitBatch
  * folds the hits into sets. The direction matters: a batch-side-left
  * semi join would have to BUILD the index (broadcast or shuffle it);
  * putting the index on the left keeps it streaming through the join.
  *
  * INDEX LAYOUT + COMPACTION (`indexRoot`):
  *   hash_tail/   append-only (text_hash) parquet — one file per
  *                admitting batch (Spark-written files from a bulk seed
  *                are read alike)
  *   band_tail/   append-only (id, band, key) parquet
  *   gen_<v>/     a compacted generation: `hash/` (distinct hashes),
  *                `bands/` (distinct band rows, flat files — see
  *                `compact`), and a `_COMMITTED` marker recording the
  *                tail files the generation absorbed.
  * Readers resolve latest committed generation ∪ non-absorbed tail files
  * per batch; `compact()` folds gen + tail snapshot into gen_{v+1} and
  * retires the absorbed tail files with a one-generation grace window
  * (IdentityStream's generation-retire pattern: files a concurrent reader
  * may still hold are excluded from new reads immediately but deleted only
  * at the NEXT compaction). Appends racing a compaction land in new tail
  * files outside the snapshot and stay visible. Membership semantics make
  * the gen/tail overlap during the grace window harmless: both indexes are
  * probed for EXISTENCE (semi-join / band hit), so a row present in both a
  * generation and a not-yet-deleted tail file changes no decision.
  * `admitBatch` auto-compacts every `CompactEveryBatches` admitting
  * batches; serving cost per batch stays ∝ batch size between compactions
  * because tail probes are also broadcast-batch joins.
  *
  * Docs shorter than the shingle width (n=5 words) produce no band keys:
  * they pass the near-dup guards trivially but are still exact-dedup'd by
  * content hash — same contract as the batch funnel.
  */
object CurationPipeline {

  val ShingleN = 5
  val MaxDecisions = 200

  /** Auto-compaction cadence: every this-many admitting batches the tail
    * logs fold into a new generation. Between compactions the tail holds
    * at most this many batches' rows, so its file count stays
    * micro-batch-scale while the corpus bulk lives in a few generation
    * files.
    */
  val CompactEveryBatches = 64

  private[serve] val HashSchema = "text_hash STRING"
  private[serve] val BandSchema = "id BIGINT, band INT, key STRING"

  final case class Decision(docId: Long, decision: String, reason: String,
                            charsRedacted: Long)

  /** Size of the live admitted-corpus priority sample served at
    * `GET /corpus/sample`.
    */
  val SampleK = 10
  private val SampleSalt = "corpus"

  /** Driver-side counters + a bounded recent-decision log for the REST
    * surface (the reference's in-memory stats pattern).
    */
  final class Stats {
    val received = new AtomicLong
    val admitted = new AtomicLong
    val rejectedExactBatch = new AtomicLong
    val rejectedExactCorpus = new AtomicLong
    val rejectedNearDupBatch = new AtomicLong
    val rejectedNearDup = new AtomicLong
    val rejectedContained = new AtomicLong
    val charsRedacted = new AtomicLong
    val batches = new AtomicLong
    val compactions = new AtomicLong
    private val decisions = new ConcurrentLinkedDeque[Decision]()

    def record(d: Decision): Unit = {
      d.decision match {
        case "admitted" => admitted.incrementAndGet()
        case _ => d.reason match {
          case "exact_dup_batch"  => rejectedExactBatch.incrementAndGet()
          case "exact_dup_corpus" => rejectedExactCorpus.incrementAndGet()
          case "near_dup_batch"   => rejectedNearDupBatch.incrementAndGet()
          case "near_dup_corpus"  => rejectedNearDup.incrementAndGet()
          case "contained_batch"  => rejectedContained.incrementAndGet()
        }
      }
      charsRedacted.addAndGet(d.charsRedacted)
      decisions.addFirst(d)
      while (decisions.size > MaxDecisions) decisions.pollLast()
      ()
    }

    def recent: Seq[Decision] = decisions.iterator().asScala.toSeq

    /** Live weight-proportional sample of the ADMITTED corpus: the shared
      * DLT sketch kernel (`operators.PrioritySketch` — the SAME code the
      * streaming twin folds, so parity with `CurationQueries
      * .prioritySample` cannot drift) with a single global key, weight =
      * admitted text length. K+1 entries — a k-bounded kernel exactly
      * like the decision log above, not corpus state. Durable: admitBatch
      * persists the candidates next to the dedup indexes and loadSample
      * restores them on attach, so the equals-the-batch-operator claim
      * survives a pipeline restart, same as the guard state.
      */
    private var sketch = graft.operators.PrioritySketch(SampleK, SampleSalt)

    def offerSample(docId: Long, nChars: Long): Unit = synchronized {
      sketch = sketch.offer(docId, nChars)
    }

    /** Full candidate set (K+1), for persistence. */
    def sampleCandidates: Vector[(Long, Long)] = synchronized {
      sketch.cands.map(t => (t._1, t._2))
    }

    def restoreSample(cands: Seq[(Long, Long)]): Unit = synchronized {
      sketch = cands.foldLeft(
        graft.operators.PrioritySketch(SampleK, SampleSalt)) {
        case (s, (id, w)) => s.offer(id, w)
      }
    }

    // Locale.ROOT: default-locale %.4f renders a decimal COMMA on e.g.
    // de_DE JVMs, which is malformed JSON
    private def f4(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

    def sampleJson: String = synchronized {
      val tau = sketch.tau
      val rows = sketch.sample.map { case (id, w, p) =>
        s"""{"docId":$id,"nChars":$w,"priority":${f4(p)},"wHat":${f4(math.max(w.toDouble, tau))}}"""
      }.mkString("[", ",", "]")
      s"""{"k":$SampleK,"tau":${f4(tau)},"sample":$rows}"""
    }

    def json: String = {
      val recentJson = recent.take(50).map { d =>
        s"""{"docId":${d.docId},"decision":"${d.decision}","reason":"${d.reason}","charsRedacted":${d.charsRedacted}}"""
      }.mkString("[", ",", "]")
      s"""{"received":${received.get},"admitted":${admitted.get},"rejected_exact_batch":${rejectedExactBatch.get},"rejected_exact_corpus":${rejectedExactCorpus.get},"rejected_near_dup_batch":${rejectedNearDupBatch.get},"rejected_near_dup":${rejectedNearDup.get},"rejected_contained_batch":${rejectedContained.get},"chars_redacted":${charsRedacted.get},"batches":${batches.get},"compactions":${compactions.get},"decisions":$recentJson}"""
    }
  }

  // ------------------------------------------------------------ index I/O

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data part files of a flat parquet append directory (no markers). */
  private def partFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted
  }

  /** Latest committed generation marker, parsed. The marker is written
    * LAST, so a half-written generation (crash mid-compaction) is invisible
    * — readers fall back to the previous generation + the full tail, which
    * is stricter-never-looser (nothing absorbed, nothing lost).
    */
  final case class Generation(version: Long, dir: String,
                              absorbedHash: Set[String], absorbedBand: Set[String])

  private val marker = new ObjectMapper()

  private def genDirs(spark: SparkSession, root: String): Seq[Path] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("gen_"))
  }

  def currentGeneration(spark: SparkSession, root: String): Option[Generation] = {
    val f = fs(spark, root)
    val committed = genDirs(spark, root)
      .filter(d => f.exists(new Path(d, "_COMMITTED")))
      .map(d => (d.getName.stripPrefix("gen_").toLong, d))
    committed.sortBy(-_._1).headOption.map { case (v, d) =>
      val in = f.open(new Path(d, "_COMMITTED"))
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val node = marker.readTree(body)
      def files(field: String): Set[String] =
        node.path(field).elements().asScala.map(_.asText).toSet
      Generation(v, d.toString, files("absorbedHash"), files("absorbedBand"))
    }
  }

  private def emptyDf(spark: SparkSession, schemaDdl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(schemaDdl))

  /** Generation reads cached by directory: a committed generation is
    * IMMUTABLE, so its DataFrame (and the file listing inside its
    * FileIndex) is reused across micro-batches instead of re-listing the
    * generation per batch. Superseded generations are evicted when a newer
    * one resolves for the same root.
    */
  private val genReads =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The cache key carries the owning SparkContext's identity: a pipeline
    * restarted in the same JVM (new session, same indexRoot) must NOT be
    * served a DataFrame whose plan and FileIndex belong to the STOPPED
    * context — every micro-batch would fail on 'stopped SparkContext'
    * until the next compaction happened to change the key. Touching a
    * root evicts both superseded generations and stale-session entries
    * for it.
    */
  private def cachedGenRead(spark: SparkSession, root: String, genDir: String,
                            kind: String, mk: => DataFrame): DataFrame = {
    val sess = System.identityHashCode(spark.sparkContext)
    genReads.keySet().removeIf(k =>
      k.startsWith(root + "|") && !k.startsWith(s"$root|$genDir|$sess|"))
    genReads.computeIfAbsent(s"$root|$genDir|$sess|$kind", _ => mk)
  }

  /** Read a set of tail part files with an EXPLICIT schema: an empty file
    * list and a _SUCCESS-only directory both yield an empty frame without
    * schema inference, while genuine read failures (corrupt file,
    * transient FS error) PROPAGATE and fail the micro-batch — the guard
    * must get stricter on failure, never looser.
    */
  private def readFiles(spark: SparkSession, files: Seq[String],
                        schemaDdl: String): DataFrame =
    if (files.isEmpty) emptyDf(spark, schemaDdl)
    else spark.read.schema(StructType.fromDDL(schemaDdl)).parquet(files: _*)

  /** Append `rows` to the tail directory `dir` as ONE snappy parquet file
    * written on the driver: an admit's hashes and band rows are already in
    * driver memory, and a Spark write job would cost its scheduling and
    * commit floor for a file of a few KB. The file is written under a
    * `_`-prefixed name, which `partFiles` and Spark's listing both skip,
    * and renamed to `part-<uuid>.snappy.parquet` once closed, so a reader
    * never sees a half-written file; a failed rename fails the micro-batch
    * (stricter, never looser). The file schema is `schemaDdl` as Spark's
    * own parquet writer converts it.
    */
  private def appendTail[T](spark: SparkSession, dir: String, schemaDdl: String,
                            rows: Seq[T])(fill: (Group, T) => Group): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = new SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(StructType.fromDDL(schemaDdl))
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(dir, s"_$name")
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach(r => out.write(fill(groups.newGroup(), r))) finally out.close()
    if (!fs(spark, dir).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"tail append: could not rename $tmp into $dir")
  }

  /** Tail files not yet absorbed by the current generation. */
  private def liveTail(spark: SparkSession, dir: String,
                       absorbed: Set[String]): Seq[String] =
    partFiles(spark, dir).filterNot(absorbed.contains)

  /** A generation's `sub` (hash or bands) rows. Reading with the index
    * schema and projecting it also serves a generation written in the
    * older key-slot layout (bands under `kp=` directories): the
    * discovered `kp` column is dropped, and the next `compact` rewrites
    * the generation flat.
    */
  private def genFiles(spark: SparkSession, genDir: String, sub: String,
                       schemaDdl: String): DataFrame = {
    val schema = StructType.fromDDL(schemaDdl)
    spark.read.schema(schema).parquet(s"$genDir/$sub")
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** One index as a batch sees it: generation rows ∪ live tail files.
    * admitBatch resolves the (immutable) marker ONCE per micro-batch and
    * feeds both probes — resolving per probe doubled the gen-dir listing
    * + marker read, fixed driver-side FS RPC latency on every batch.
    */
  private def index(spark: SparkSession, root: String, gen: Option[Generation],
                    sub: String, tailDir: String, absorbed: Generation => Set[String],
                    schemaDdl: String): DataFrame = {
    val tail = readFiles(spark,
      liveTail(spark, s"$root/$tailDir", gen.map(absorbed).getOrElse(Set.empty)),
      schemaDdl)
    gen match {
      case Some(g) =>
        cachedGenRead(spark, root, g.dir, sub, genFiles(spark, g.dir, sub, schemaDdl))
          .unionAll(tail)
      case None => tail
    }
  }

  /** Corpus exact-dup hits for a batch's content hashes:
    * `index ⋉ broadcast(batch hashes)` — a left-semi join with the
    * micro-batch side broadcast, so the corpus-sized index STREAMS through
    * the join (scan-only: no distinct, no HashAggregate, no Exchange;
    * CompactionSpec asserts the shape on the executed plan). A hash held
    * by both a generation and a tail file still inside the grace window
    * comes back twice; callers fold hits into a set.
    */
  def corpusHashHits(spark: SparkSession, root: String,
                     batchHashes: DataFrame): DataFrame =
    corpusHashHits(spark, root, batchHashes, currentGeneration(spark, root))

  private[serve] def corpusHashHits(spark: SparkSession, root: String,
                                    batchHashes: DataFrame,
                                    gen: Option[Generation]): DataFrame =
    index(spark, root, gen, "hash", "hash_tail", _.absorbedHash, HashSchema)
      .join(broadcast(batchHashes), Seq("text_hash"), "left_semi")

  /** Corpus band-collision hits for a batch's (id, band, key) rows:
    * `index ⋈ broadcast(batch band rows)` over generation ∪ live tail,
    * projected to the probe-side id `b` — one map-only stage, one row per
    * colliding index row (callers fold them into a set). This is THE
    * production probe; CompactionSpec runs it directly and asserts its
    * executed plan has no Exchange.
    */
  def corpusBandHits(spark: SparkSession, root: String,
                     probeBands: DataFrame): DataFrame =
    corpusBandHits(spark, root, probeBands, currentGeneration(spark, root))

  private[serve] def corpusBandHits(spark: SparkSession, root: String,
                                    probeBands: DataFrame,
                                    gen: Option[Generation]): DataFrame =
    index(spark, root, gen, "bands", "band_tail", _.absorbedBand, BandSchema)
      .join(broadcast(probeBands.select(col("id").as("b"), col("band"), col("key"))),
        Seq("band", "key"))
      .select(col("b"))

  /** One doc's facts, fetched once per admit. */
  private final case class Doc(id: Long, hash: String, charsRedacted: Long,
                               nChars: Long, shingles: Seq[Long])

  /** Admit one micro-batch (columns doc_id, ts, text) through the full
    * funnel; records a Decision per doc and appends admitted docs' hash
    * and band rows to the tail logs. Auto-compacts every
    * `CompactEveryBatches` admitting batches.
    */
  def admitBatch(spark: SparkSession, batch: DataFrame,
                 indexRoot: String, stats: Stats): Unit = {
    import spark.implicits._
    // chars_redacted clamps at 0: a redaction token longer than the matched
    // PII ('a@b.co' -> '<EMAIL>') would otherwise record a NEGATIVE delta
    // and corrupt the cumulative counter. The repartition spreads the fetch
    // over every core (step 1 of the scaladoc).
    val scrubbed = batch.repartition(spark.sparkContext.defaultParallelism)
      .withColumn("redacted", PiiQueries.redactExpr(col("text")))
      .select(col("doc_id"), col("redacted").as("text"),
        greatest(lit(0L),
          (length(col("text")) - length(col("redacted"))).cast("long"))
          .as("chars_redacted"))
    // 1. the fetch: one projection per doc, so the scrub and the shingle
    // hashing run once; the band keys come from the same shingle array
    // (each step its own projection: the optimizer does not inline an
    // expensive column into a consumer that reads it more than once)
    val fetched = scrubbed.select(col("doc_id"), md5(col("text")).as("text_hash"),
        col("chars_redacted"), length(col("text")).cast("long").as("n_chars"),
        ArrayExpressions.shingleHashes(col("text"), ShingleN).as("hs"))
      .withColumn("rs", ArrayExpressions.minhashRegisters(col("hs")))
      .select(col("doc_id"), col("text_hash"), col("chars_redacted"), col("n_chars"),
        col("hs"), Dedup.bandKeyArray(col("rs")).as("keys"))
      .collect()
    if (fetched.isEmpty) return
    val docs = fetched.map(r =>
      Doc(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getSeq[Long](4)))
      .sortBy(_.id).toSeq
    val bands = fetched.toSeq.flatMap(r =>
      r.getSeq[String](5).zipWithIndex.map { case (k, b) => (r.getLong(0), b, k) })
    val keeper = docs.groupMapReduce(_.hash)(_.id)(math.min)

    // 2. the two corpus probes, each run once, as the two branches of one
    // map-only action: index ⋉ broadcast(batch hashes), and every doc's
    // band keys against generation + tail (a doc's band hits are read
    // only if it passes the exact guards). The (immutable) generation
    // marker is resolved once for both.
    val gen = currentGeneration(spark, indexRoot)
    val hashHits = corpusHashHits(spark, indexRoot, keeper.keys.toSeq.toDF("text_hash"), gen)
      .select(col("text_hash"), lit(null).cast("long").as("b"))
    val hits =
      if (bands.isEmpty) hashHits
      else hashHits.unionAll(
        corpusBandHits(spark, indexRoot, bands.toDF("id", "band", "key"), gen)
          .select(lit(null).cast("string").as("text_hash"), col("b")))
    val (hashRows, bandHitRows) = hits.collect().partition(_.isNullAt(1))
    val inCorpus = hashRows.map(_.getString(0)).toSet
    val nearCorpus = bandHitRows.map(_.getLong(1)).toSet
    val survivors = docs.filter(d => keeper(d.hash) == d.id && !inCorpus(d.hash))

    // 3. intra-batch near-dup: a band collision with a SMALLER-id exact
    // survivor rejects the larger id, whatever the smaller doc's own fate
    val survivorIds = survivors.map(_.id).toSet
    val probeBands = bands.filter(t => survivorIds(t._1))
    val bucketMin = probeBands.groupMapReduce(t => (t._2, t._3))(_._1)(math.min)
    val nearBatch = probeBands.collect { case (id, b, k) if bucketMin((b, k)) < id => id }.toSet

    // 4. intra-batch containment: same contract as the batch funnel's
    // d_containment stage (hot cut relative to the BATCH — the df<=8
    // absolute floor is what carries the excerpt signal at micro-batch
    // sizes), and in the funnel's stage ORDER: over the near-dup
    // SURVIVORS. Running it before the band collapse would let a
    // one-word-longer near-dup pair lose BOTH members (the larger to the
    // band guard, the smaller to mutual containment) — after it, the
    // kept member of every near-dup pair is immune and only genuine
    // excerpt inclusions fall. The driver-local kernel reads the fetched
    // shingle hashes; a batch past `Route.Docs` survivors falls back to the
    // distributed operator, same contract, parity held by
    // SamplingContainmentSpec.
    val nearSurvivors = survivors.filterNot(d => nearBatch(d.id) || nearCorpus(d.id))
    val contained =
      if (Route.admits("CurationPipeline.admitBatch", Route.Docs, nearSurvivors.size))
        graft.queries.DedupQueries.containmentDropIdsLocal(
          nearSurvivors.map(d => (d.id, d.shingles)))
      else
        graft.queries.DedupQueries.containmentDrops(scrubbed
            .join(broadcast(nearSurvivors.map(_.id).toDF("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id").as("id"), col("text")))
          .collect().map(_.getLong(0)).toSet

    val decided = docs.map { d =>
      val reason =
        if (keeper(d.hash) != d.id) "exact_dup_batch"
        else if (inCorpus(d.hash)) "exact_dup_corpus"
        else if (nearBatch(d.id)) "near_dup_batch"
        else if (nearCorpus(d.id)) "near_dup_corpus"
        else if (contained(d.id)) "contained_batch"
        else ""
      (d, reason)
    }
    val admitted = decided.collect { case (d, "") => d }
    // 5. extend the indexes with the admissions BEFORE recording decisions
    // (a crash between the two leaves the guard stricter, never looser);
    // one driver-written file per append keeps the per-batch tail probe's
    // file count down
    if (admitted.nonEmpty) {
      appendTail(spark, s"$indexRoot/hash_tail", HashSchema, admitted)(
        (g, d) => g.append("text_hash", d.hash))
      val admittedIds = admitted.map(_.id).toSet
      val newBands = probeBands.filter(t => admittedIds(t._1))
      // all-short-doc batches produce no band rows, and no band file
      if (newBands.nonEmpty)
        appendTail(spark, s"$indexRoot/band_tail", BandSchema, newBands)(
          (g, t) => g.append("id", t._1).append("band", t._2).append("key", t._3))
      if (stats.batches.incrementAndGet() % CompactEveryBatches == 0) {
        compact(spark, indexRoot)
        stats.compactions.incrementAndGet()
      }
    }
    for ((d, reason) <- decided) {
      if (reason.isEmpty) stats.offerSample(d.id, d.nChars)
      stats.record(Decision(d.id, if (reason.isEmpty) "admitted" else "rejected",
        reason, d.charsRedacted))
    }
    if (admitted.nonEmpty) persistSample(spark, indexRoot, stats)
  }

  /** Persist the serving sample's candidate set next to the dedup
    * indexes (tmp-write + rename), so `loadSample` on a restarted
    * pipeline restores the sketch and the served sample keeps equalling
    * the batch operator over ALL admissions — durability matching the
    * guard state's. K+1 rows, so the write is trivially small.
    */
  def persistSample(spark: SparkSession, root: String, stats: Stats): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(s"$root/sample.json.tmp")
    val dst = new Path(s"$root/sample.json")
    val body = stats.sampleCandidates
      .map { case (id, w) => s"[$id,$w]" }
      .mkString("""{"cands":[""", ",", "]}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    f.delete(dst, false)
    f.rename(tmp, dst)
    ()
  }

  /** Restore the serving sample on pipeline attach. The sample is an
    * OBSERVABILITY surface, not a guard: a missing or unreadable file
    * restores an empty sketch (it refills from new admissions) instead of
    * failing the pipeline — unlike the index reads, where failure must
    * fail the batch.
    */
  def loadSample(spark: SparkSession, root: String, stats: Stats): Unit =
    scala.util.Try {
      val dst = new Path(s"$root/sample.json")
      val f = fs(spark, root)
      if (f.exists(dst)) {
        val in = f.open(dst)
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val cands = marker.readTree(body).path("cands").elements().asScala
          .map(e => (e.get(0).asLong, e.get(1).asLong)).toSeq
        stats.restoreSample(cands)
      }
    }.getOrElse(())

  /** Startup compaction — the serve path's DEFAULT: fold any pre-existing
    * tail bulk into a generation BEFORE the first served batch. A corpus
    * bulk-seeded into the append tail (an offline loader's natural output
    * shape) would otherwise be probed as however many files the loader
    * wrote on EVERY batch until the 64-batch auto-compaction cadence
    * first fires; measured at the 5M-doc corpus a compacted generation
    * won p50 outright (INGEST_1000X: -17% p50, -21% p95, -42% first
    * batch), and corpus ≫ batch is the production regime.
    * No-op when the live tail is empty: compacting then would only
    * rewrite the current generation.
    */
  def compactOnStart(spark: SparkSession, root: String): Option[Generation] = {
    val gen = currentGeneration(spark, root)
    val live =
      liveTail(spark, s"$root/hash_tail",
        gen.map(_.absorbedHash).getOrElse(Set.empty)) ++
      liveTail(spark, s"$root/band_tail",
        gen.map(_.absorbedBand).getOrElse(Set.empty))
    if (live.isEmpty) gen else Some(compact(spark, root))
  }

  /** Compact the append logs into a new committed generation:
    * gen_{v+1} = current generation ∪ a snapshot of the live tail files,
    * hashes and band rows each distinct'd into a few flat parquet files.
    * The marker commits LAST (readers never see a partial generation);
    * the absorbed tail files and the superseded generation directory are
    * excluded from reads immediately but PHYSICALLY deleted only by the
    * NEXT compaction (grace window for a reader that resolved the old
    * generation just before the commit). Safe to run concurrently with
    * appends: files appended after the snapshot stay live tail.
    *
    * The band files are FLAT, not partitioned by key slot, so every probe
    * reads the whole band generation: a slot layout prunes only when a
    * batch's keys miss most slots, and a 1000-doc batch's 6000 band keys
    * reach every slot of a layout of a few hundred slots, which then
    * costs a directory per slot on every scan and a slot-collect job per
    * admit. The trade-off: a batch of a few dozen docs against a
    * multi-million-doc index reads the whole band generation where slots
    * would let it read its own (it reads the whole hash generation
    * either way). A generation written in the older `kp=` slot layout is
    * still read correctly (see `genFiles`) and comes out flat here.
    */
  def compact(spark: SparkSession, root: String): Generation = {
    val f = fs(spark, root)
    val prev = currentGeneration(spark, root)

    // grace-window reclamation FIRST (single compacting writer — the
    // admitting thread): anything only a pre-`prev` reader could still
    // reference has had a full compaction interval of grace. Readers at
    // `prev` never touch these — prev's marker excludes its absorbed tail
    // files from liveTail, and older/uncommitted generation dirs are
    // invisible to resolution. Their CONTENT is already folded into prev's
    // data, so nothing is lost.
    prev.foreach { g =>
      (g.absorbedHash ++ g.absorbedBand).foreach(p => f.delete(new Path(p), false))
      genDirs(spark, root)
        .filter(d => d.toString != g.dir)
        .filter { d =>
          d.getName.stripPrefix("gen_").toLong < g.version ||
            !f.exists(new Path(d, "_COMMITTED")) // crashed half-compaction
        }
        .foreach(d => f.delete(d, true))
    }

    val nextVer = genDirs(spark, root)
      .map(_.getName.stripPrefix("gen_").toLong).foldLeft(-1L)(math.max) + 1L
    val dir = s"$root/gen_$nextVer"

    // snapshot of what this generation absorbs; prev's absorbed files are
    // gone from disk by now, so the new marker stays bounded (it lists one
    // compaction interval's worth of tail files, never the full history)
    val hashSnap = liveTail(spark, s"$root/hash_tail",
      prev.map(_.absorbedHash).getOrElse(Set.empty))
    val bandSnap = liveTail(spark, s"$root/band_tail",
      prev.map(_.absorbedBand).getOrElse(Set.empty))

    // distinct belongs HERE, in the offline compaction, not the serving
    // path: the tail is unique by construction, but gen ∪ tail may overlap
    // within a grace window and a rewrite is the one place to fold it
    for ((sub, snap, schemaDdl) <- Seq(("hash", hashSnap, HashSchema),
                                       ("bands", bandSnap, BandSchema)))
      (prev.map(g => genFiles(spark, g.dir, sub, schemaDdl)).toSeq :+
          readFiles(spark, snap, schemaDdl))
        .reduce(_ unionAll _)
        .distinct().write.mode("overwrite").parquet(s"$dir/$sub")

    // commit marker LAST; the absorbed-file lists make the new generation
    // self-describing (a restarted process resolves them from disk). The
    // previous generation DIRECTORY stays on disk until the next
    // compaction's reclamation pass — a reader that resolved it just
    // before this commit keeps working through the grace window.
    val body = marker.createObjectNode()
    val ah = body.putArray("absorbedHash")
    hashSnap.sorted.foreach(ah.add)
    val ab = body.putArray("absorbedBand")
    bandSnap.sorted.foreach(ab.add)
    val out = f.create(new Path(s"$dir/_COMMITTED"), true)
    try out.write(marker.writeValueAsBytes(body)) finally out.close()
    Generation(nextVer, dir, hashSnap.toSet, bandSnap.toSet)
  }
}

/** POST /corpus/ingest body handling: `{"docId":<long>,"text":"..."}` →
  * validated, stamped with arrival time, handed to the pipeline's source.
  * Driver-thread-local jackson, same as CdpIngest — one POST must not
  * cost a Spark job.
  */
final class CorpusIngest(sink: (Long, Timestamp, String) => Boolean,
                         stats: CurationPipeline.Stats) {

  private val mapper = new ObjectMapper()

  def handle(body: String): Either[String, Long] = {
    val root =
      try mapper.readTree(body)
      catch { case e: Exception => return Left(s"malformed JSON: ${e.getMessage}") }
    val idNode = root.path("docId")
    if (!idNode.canConvertToLong) return Left("docId must be an integer")
    val text = root.path("text").asText("")
    if (text.trim.isEmpty) return Left("text must not be blank")
    if (sink(idNode.asLong, new Timestamp(System.currentTimeMillis()), text)) {
      stats.received.incrementAndGet() // count only what was truly enqueued
      Right(idNode.asLong)
    } else Left(CdpIngest.Overloaded)
  }
}
