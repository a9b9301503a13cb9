package graft.serve

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayExpressions
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Route}
import graft.queries.PiiQueries
import graft.streaming.LocalCheckpointFileManager

/** Live corpus-curation ingest: the batch funnel's guards — PII scrub,
  * exact dedup, near-dup LSH admit, intra-batch containment — composed
  * into ONE running Structured Streaming pipeline behind
  * `POST /corpus/ingest`.
  *
  * Per micro-batch (`foreachBatch`, batch semantics — the any-band OR of
  * the near-dup admit needs a per-doc aggregation append mode cannot
  * express without state), an admit runs
  * one fetch and one probe of the resident index (both index probes in
  * one job) as Spark work — at most 3 jobs, none of which writes — and
  * two driver-written appends:
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
  *      the probe's hash keys);
  *   3. near-dup guard over the exact survivors, two layers:
  *      a. INTRA-BATCH: any doc sharing a band key with a smaller-id
  *         survivor of the same batch is rejected (`near_dup_batch`),
  *         regardless of that smaller doc's own fate (deterministic,
  *         stricter-never-looser). Without this, back-to-back near-dup
  *         posts — the common scrape pattern — would batch together and
  *         both pass;
  *      b. CORPUS: band keys probed against the persisted band index —
  *         any band hit rejects (`near_dup_corpus`, the probe's band
  *         keys);
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
  * Only the probe reads corpus-sized data; every intra-batch rule is
  * decided on the driver from the fetched facts, and the appends are
  * written there too. At micro-batch size each Spark job's fixed cost
  * (scheduling plus one AQE stage materialization, and for a write its
  * commit: tens to a hundred-odd ms) outweighs its data work, so a rule
  * expressed as a self-join, groupBy or broadcast join, or a write of a
  * batch's few KB of index rows, costs more than the batch it serves; the
  * driver already holds one row per doc for the decision log.
  *
  * THE INDEX IS RESIDENT, PROBED BY BINARY SEARCH: the first probe of a
  * committed generation builds it once into a persisted
  * (`MEMORY_AND_DISK`) RDD of sorted primitive `long` arrays, one
  * `KeySet` per partition, partitioned by key (`Keys` packs a content
  * hash into two longs and a band key into one, exactly). An admit packs
  * its batch keys on the driver, runs ONE job of binary-search tasks over
  * those partitions (no Catalyst plan, no broadcast, no generation file
  * read), and searches the live tail on the driver: the keys of the live
  * tail files not yet held are read in one job, once per file name, and
  * `appendTail` adds the file it writes. Per admit the work is O(batch ×
  * log index), plus a fixed job cost. A generation too large for memory
  * reads its disk-backed blocks: still one job, with no planning. Membership is all
  * either side answers, so the hits are the same as a join's.
  *
  * The resident generation is keyed by root, generation directory and
  * `SparkContext`: a superseded generation is unpersisted when a newer
  * one first resolves for its root, an entry whose context has stopped
  * is dropped without being called into, and a tail file leaves the
  * driver tail once a generation absorbs it.
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
  * probed for EXISTENCE (hash or band key present), so a key present in
  * both a generation and a not-yet-deleted tail file changes no decision.
  * `admitBatch` auto-compacts every `CompactEveryBatches` admitting
  * batches, which bounds the driver tail at that many batches' keys.
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
  private[serve] val SampleSalt = "corpus"

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
    /** Size and build time of the last resident generation an admit
      * probed (`admitBatch`); 0 before the first generation.
      */
    val indexResidentKeys = new AtomicLong
    val indexResidentBytes = new AtomicLong
    val indexBuildMs = new AtomicLong
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
      * DLT sketch kernel (`operators.PrioritySketch`, so parity with
      * `CurationQueries.prioritySample` cannot drift) with a single
      * global key, weight = admitted text length. K+1 entries — a
      * k-bounded kernel exactly like the decision log above, not corpus
      * state. Durable: admitBatch persists the candidates next to the
      * dedup indexes and loadSample restores them on attach, so the
      * equals-the-batch-operator claim survives a pipeline restart, same
      * as the guard state.
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
      s"""{"received":${received.get},"admitted":${admitted.get},"rejected_exact_batch":${rejectedExactBatch.get},"rejected_exact_corpus":${rejectedExactCorpus.get},"rejected_near_dup_batch":${rejectedNearDupBatch.get},"rejected_near_dup":${rejectedNearDup.get},"rejected_contained_batch":${rejectedContained.get},"chars_redacted":${charsRedacted.get},"batches":${batches.get},"compactions":${compactions.get},"index_resident_keys":${indexResidentKeys.get},"index_resident_bytes":${indexResidentBytes.get},"index_build_ms":${indexBuildMs.get},"decisions":$recentJson}"""
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

  /** The file system the driver writes `dir`'s files through. On a local
    * path it is the checkpoint manager's checksummed `LocalFileSystem`,
    * which sets permissions in-process, so writing a file and its `.crc`
    * starts no `chmod`; any other scheme gets its own file system.
    */
  private def writeFs(spark: SparkSession, dir: String): FileSystem =
    fs(spark, dir) match {
      case local: LocalFileSystem =>
        LocalCheckpointFileManager.nioPermissionsFs(local.getUri,
          spark.sparkContext.hadoopConfiguration)
      case other => other
    }

  /** `p` on `f` as a parquet `OutputFile`. */
  private def outputFile(f: FileSystem, p: Path): OutputFile = new OutputFile {
    override def create(blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(f.create(p, false))
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(f.create(p, true))
    override def supportsBlockSize: Boolean = false
    override def defaultBlockSize: Long = 0L
    override def getPath: String = p.toString
  }

  /** Append `rows` to the tail directory `dir` as ONE snappy parquet file
    * written on the driver: an admit's hashes and band rows are already in
    * driver memory, and a Spark write job would cost its scheduling and
    * commit floor for a file of a few KB. The file is written under a
    * `_`-prefixed name, which `partFiles` and Spark's listing both skip,
    * and renamed to `part-<uuid>.snappy.parquet` once closed, so a reader
    * never sees a half-written file; a failed rename fails the micro-batch
    * (stricter, never looser). The file schema is `schemaDdl` as Spark's
    * own parquet writer converts it. Returns the file's qualified path,
    * as `partFiles` lists it.
    */
  private def appendTail[T](spark: SparkSession, dir: String, schemaDdl: String,
                            rows: Seq[T])(fill: (Group, T) => Group): String = {
    val f = writeFs(spark, dir)
    val schema = new SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(StructType.fromDDL(schemaDdl))
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(dir, s"_$name")
    val out = ExampleParquetWriter.builder(outputFile(f, tmp))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach(r => out.write(fill(groups.newGroup(), r))) finally out.close()
    val dst = new Path(dir, name)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"tail append: could not rename $tmp into $dir")
    f.makeQualified(dst).toString
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

  // ------------------------------------------------------ the resident probe

  /** Exact primitive packings of the index keys (the parquet files keep
    * the strings):
    *  - a content hash, 32 lowercase hex chars (an md5), is two longs, its
    *    chars 0-15 and 16-31 as unsigned 64-bit values; compared unsigned,
    *    `hi` first (`compareHash`), the pairs order as the strings do;
    *  - a band key `"r0_r1"`, two canonical decimal MinHash registers each
    *    below `Dedup.P` = 2^31 - 1, is one long, `(r0 << 31) | r1`.
    * Both packings are one-to-one on well-formed keys, so membership of
    * the packed key is membership of the string. A key that is not well
    * formed throws, and fails the probe: it is never read as a miss.
    */
  private[serve] object Keys {

    private def malformed(kind: String, s: String): Nothing =
      throw new IllegalArgumentException(s"corpus index: malformed $kind key '$s'")

    private def hex64(s: String, from: Int): Long = {
      if (s == null || s.length != 32) malformed("content hash", s)
      var v = 0L
      var i = from
      while (i < from + 16) {
        val c = s.charAt(i)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else malformed("content hash", s)
        v = (v << 4) | d
        i += 1
      }
      v
    }

    def hashHi(s: String): Long = hex64(s, 0)
    def hashLo(s: String): Long = hex64(s, 16)

    /** The register in `s(from until until)`: decimal digits, no sign, no
      * leading zero, below `Dedup.P`.
      */
    private def register(s: String, from: Int, until: Int): Long = {
      val n = until - from
      if (n < 1 || n > 10 || (n > 1 && s.charAt(from) == '0')) malformed("band", s)
      var v = 0L
      var i = from
      while (i < until) {
        val c = s.charAt(i)
        if (c < '0' || c > '9') malformed("band", s)
        v = v * 10 + (c - '0')
        i += 1
      }
      if (v >= Dedup.P) malformed("band", s)
      v
    }

    def band(s: String): Long = {
      val u = if (s == null) -1 else s.indexOf('_')
      if (u < 0) malformed("band", s)
      (register(s, 0, u) << 31) | register(s, u + 1, s.length)
    }

    def compareHash(hi: Long, lo: Long, hi2: Long, lo2: Long): Int = {
      val c = java.lang.Long.compareUnsigned(hi, hi2)
      if (c != 0) c else java.lang.Long.compareUnsigned(lo, lo2)
    }

    /** Sorts interleaved (hi, lo) pairs in place into `compareHash` order
      * (a heapsort: primitive, in place).
      */
    def sortPairs(a: Array[Long]): Unit = {
      def less(i: Int, j: Int): Boolean =
        compareHash(a(2 * i), a(2 * i + 1), a(2 * j), a(2 * j + 1)) < 0
      def swap(i: Int, j: Int): Unit = {
        val hi = a(2 * i)
        val lo = a(2 * i + 1)
        a(2 * i) = a(2 * j)
        a(2 * i + 1) = a(2 * j + 1)
        a(2 * j) = hi
        a(2 * j + 1) = lo
      }
      def sift(from: Int, end: Int): Unit = {
        var root = from
        var child = 2 * root + 1
        while (child < end) {
          if (child + 1 < end && less(child, child + 1)) child += 1
          if (!less(root, child)) return
          swap(root, child)
          root = child
          child = 2 * root + 1
        }
      }
      val n = a.length / 2
      var i = n / 2 - 1
      while (i >= 0) { sift(i, n); i -= 1 }
      var end = n - 1
      while (end > 0) { swap(0, end); sift(0, end); end -= 1 }
    }

    /** The resident partition of a packed key, by multiplicative hashing. */
    def partOf(key: Long, parts: Int): Int =
      ((key * 0x9E3779B97F4A7C15L) >>> 33).toInt % parts
  }

  /** Packed keys of one part of the index, sorted for binary search:
    * content hashes as interleaved (hi, lo) pairs in `Keys.compareHash`
    * order, and band keys per band (`bands(b)`, ascending).
    */
  private[serve] final class KeySet(val hashes: Array[Long], val bands: Array[Array[Long]])
      extends Serializable {

    def hasHash(hi: Long, lo: Long): Boolean = {
      var l = 0
      var h = hashes.length / 2 - 1
      while (l <= h) {
        val m = (l + h) >>> 1
        val c = Keys.compareHash(hashes(2 * m), hashes(2 * m + 1), hi, lo)
        if (c == 0) return true
        if (c < 0) l = m + 1 else h = m - 1
      }
      false
    }

    def hasBand(band: Int, key: Long): Boolean =
      java.util.Arrays.binarySearch(bands(band), key) >= 0

    /** Positions i of the (hi, lo) pairs of `q` held here, among the pairs
      * whose `hi` is `mine`.
      */
    def hashHits(q: Array[Long], mine: Long => Boolean): Array[Int] = {
      val out = new mutable.ArrayBuilder.ofInt
      var i = 0
      while (i < q.length / 2) {
        if (mine(q(2 * i)) && hasHash(q(2 * i), q(2 * i + 1))) out += i
        i += 1
      }
      out.result()
    }

    /** Positions i of the (band, key) pairs of `q` held here, among the
      * pairs whose key is `mine`.
      */
    def bandHits(q: Array[Long], mine: Long => Boolean): Array[Int] = {
      val out = new mutable.ArrayBuilder.ofInt
      var i = 0
      while (i < q.length / 2) {
        if (mine(q(2 * i + 1)) && hasBand(q(2 * i).toInt, q(2 * i + 1))) out += i
        i += 1
      }
      out.result()
    }

    def size: Long = hashes.length / 2 + bands.map(_.length.toLong).sum
    def bytes: Long = 8L * (hashes.length + bands.map(_.length.toLong).sum)
  }

  /** Collects packed keys into a [[KeySet]]. */
  private[serve] final class KeyBuilder {
    private val hashes = new mutable.ArrayBuilder.ofLong
    private val bands = Array.fill(Dedup.Bands)(new mutable.ArrayBuilder.ofLong)

    def hash(hi: Long, lo: Long): Unit = { hashes += hi; hashes += lo; () }
    def hash(s: String): Unit = hash(Keys.hashHi(s), Keys.hashLo(s))

    def band(b: Int, key: Long): Unit = {
      if (b < 0 || b >= Dedup.Bands)
        throw new IllegalArgumentException(s"corpus index: band $b out of range")
      bands(b) += key
      ()
    }

    def addAll(ks: KeySet): Unit = {
      hashes.addAll(ks.hashes)
      ks.bands.indices.foreach(b => bands(b).addAll(ks.bands(b)))
    }

    /** The keys; `sorted = false` leaves them in arrival order (a chunk
      * another builder sorts).
      */
    def result(sorted: Boolean = true): KeySet = {
      val hs = hashes.result()
      val bs = bands.map(_.result())
      if (sorted) {
        Keys.sortPairs(hs)
        bs.foreach(java.util.Arrays.sort)
      }
      new KeySet(hs, bs)
    }
  }

  /** A generation built into one [[KeySet]] per partition. */
  private final class Resident(val sc: SparkContext, val genDir: String,
                               val keys: RDD[KeySet], val size: Long,
                               val bytes: Long, val buildMs: Long)

  /** The driver tail of one root: each live tail file's keys. */
  private final class Tail(val sc: SparkContext) {
    val files = mutable.HashMap.empty[String, KeySet]
  }

  private val residents = new java.util.concurrent.ConcurrentHashMap[String, Resident]()
  private val tails = new java.util.concurrent.ConcurrentHashMap[String, Tail]()
  private val residentLock = new Object
  private val log = org.slf4j.LoggerFactory.getLogger("graft.serve.CurationPipeline")

  /** `root`'s resident generation for `gen` on this session's context,
    * built at its first probe. Entries of a stopped context are dropped
    * without being called into (a pipeline restarted in the same JVM must
    * not reach a stopped context); a superseded generation of the live
    * context is unpersisted here, where the newer one first resolves.
    */
  private def resident(spark: SparkSession, root: String,
                       gen: Option[Generation]): Option[Resident] =
    residentLock.synchronized {
      residents.values.removeIf(_.sc.isStopped)
      tails.values.removeIf(_.sc.isStopped)
      val sc = spark.sparkContext
      Option(residents.get(root))
        .filter(r => (r.sc eq sc) && gen.exists(_.dir == r.genDir))
        .orElse {
          Option(residents.remove(root)).filter(_.sc eq sc)
            .foreach(_.keys.unpersist(blocking = false))
          gen.map { g =>
            val r = build(spark, g)
            residents.put(root, r)
            r
          }
        }
    }

  /** Drops `root`'s resident generation and driver tail, as a stopped
    * pipeline does; the generation is unpersisted if its context runs.
    */
  def release(root: String): Unit = residentLock.synchronized {
    Option(residents.remove(root)).filterNot(_.sc.isStopped)
      .foreach(_.keys.unpersist(blocking = false))
    tails.remove(root)
    ()
  }

  private def string(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Packs index rows into [[KeySet]] chunks on the executors, one chunk
    * per (partition, slot), `sorted` or in arrival order: `hashes` rows
    * lead with `text_hash`, `bands` rows with `band, key`, and `slot`
    * picks the chunk of a row from the row and its packed key (a hash's
    * `hi`). The one parser of index key files: `build` slots keys by
    * resident partition, `readTail` by file.
    */
  private def packKeys(hashes: DataFrame, bands: DataFrame, sorted: Boolean)(
      slot: (InternalRow, Long) => Int): RDD[(Int, KeySet)] = {
    def chunks(df: DataFrame)(add: (InternalRow, Long => KeyBuilder) => Unit) =
      df.queryExecution.toRdd.mapPartitions { rows =>
        val parts = mutable.LongMap.empty[KeyBuilder]
        rows.foreach(r => add(r, k => parts.getOrElseUpdate(slot(r, k), new KeyBuilder)))
        parts.iterator.map { case (s, b) => (s.toInt, b.result(sorted)) }
      }
    chunks(hashes) { (r, to) =>
      val s = string(r, 0)
      val hi = Keys.hashHi(s)
      to(hi).hash(hi, Keys.hashLo(s))
    }.union(chunks(bands) { (r, to) =>
      val k = Keys.band(string(r, 1))
      to(k).band(if (r.isNullAt(0)) -1 else r.getInt(0), k)
    })
  }

  /** Builds generation `g` into a persisted RDD of one sorted [[KeySet]]
    * per partition (`defaultParallelism` partitions, by `Keys.partOf`):
    * one job that packs each generation file's keys into a chunk per
    * target partition, shuffles the chunks (primitive arrays, a few
    * records per task) and sorts each partition's keys.
    */
  private def build(spark: SparkSession, g: Generation): Resident = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    val keys = packKeys(genFiles(spark, g.dir, "hash", HashSchema),
        genFiles(spark, g.dir, "bands", BandSchema).select("band", "key"), sorted = false)(
        (_, k) => Keys.partOf(k, n))
      .partitionBy(new HashPartitioner(n))
      .mapPartitions({ cs =>
        val b = new KeyBuilder
        cs.foreach(c => b.addAll(c._2))
        Iterator(b.result())
      }, preservesPartitioning = true)
      .setName(s"corpus index ${g.dir}")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes =
      try keys.map(ks => (ks.size, ks.bytes)).collect()
      catch { case e: Throwable => keys.unpersist(blocking = false); throw e }
    val r = new Resident(sc, g.dir, keys, sizes.map(_._1).sum, sizes.map(_._2).sum,
      (System.nanoTime() - t0) / 1000000L)
    log.info(s"corpus index resident: generation ${g.dir} keys=${r.size} " +
      s"bytes=${r.bytes} build_ms=${r.buildMs}")
    r
  }

  /** The keys of tail files, one sorted [[KeySet]] per file: one job that
    * reads and sorts every file on the executors, each row keyed by its
    * file.
    */
  private def readTail(spark: SparkSession, hashFiles: Seq[String],
                       bandFiles: Seq[String]): Map[String, KeySet] = {
    val files = hashFiles ++ bandFiles
    // a scan names a row's file by its URI, as `Path.toUri` spells it
    val slots = files.map(f => UTF8String.fromString(new Path(f).toUri.toString))
      .zipWithIndex.toMap
    def read(fs: Seq[String], ddl: String, cols: String*) = spark.read
      .schema(StructType.fromDDL(ddl)).parquet(fs: _*)
      .select((cols :+ "_metadata.file_path").map(col): _*)
    val chunks = packKeys(read(hashFiles, HashSchema, "text_hash"),
        read(bandFiles, BandSchema, "band", "key"), sorted = true) { (r, _) =>
      val f = r.getUTF8String(r.numFields - 1)
      slots.getOrElse(f, throw new IllegalStateException(s"corpus index: row of unread file $f"))
    }.collect().groupMap(_._1)(_._2)
    // a file read as one split is sorted already; one read in several is merged
    files.indices.map(i => files(i) -> (chunks.getOrElse(i, Array.empty[KeySet]) match {
      case Array(ks) => ks
      case parts =>
        val b = new KeyBuilder
        parts.foreach(b.addAll)
        b.result()
    })).toMap
  }

  /** `root`'s live tail as driver-held keys: files `gen` absorbed leave,
    * files not yet held are read, all in one job; none runs when every
    * live file is held.
    */
  private def tailKeys(spark: SparkSession, root: String,
                       gen: Option[Generation]): Seq[KeySet] =
    residentLock.synchronized {
      val sc = spark.sparkContext
      val t = Option(tails.get(root)).filter(_.sc eq sc).getOrElse {
        val t = new Tail(sc)
        tails.put(root, t)
        t
      }
      val hashes =
        liveTail(spark, s"$root/hash_tail", gen.map(_.absorbedHash).getOrElse(Set.empty))
      val bands =
        liveTail(spark, s"$root/band_tail", gen.map(_.absorbedBand).getOrElse(Set.empty))
      val live = (hashes ++ bands).toSet
      t.files.filterInPlace((f, _) => live(f))
      if (!live.forall(t.files.contains))
        t.files ++= readTail(spark, hashes.filterNot(t.files.contains),
          bands.filterNot(t.files.contains))
      t.files.values.toSeq
    }

  /** Adds the keys of a tail file `appendTail` just wrote to `root`'s
    * driver tail.
    */
  private def addTail(spark: SparkSession, root: String, file: String, keys: KeySet): Unit =
    residentLock.synchronized {
      Option(tails.get(root)).filter(_.sc eq spark.sparkContext).foreach(_.files(file) = keys)
    }

  private final case class Hits(hash: Array[Boolean], band: Array[Boolean],
                                resident: Option[Resident])

  /** Which batch keys the index holds, as flags aligned with `hashes`
    * ((hi, lo) pairs) and `bands` ((band, key) pairs), both packed by
    * `Keys`: one Spark job of binary searches over the resident
    * generation, each task searching the keys of its own partition, then
    * the driver tail.
    */
  private def probe(spark: SparkSession, root: String, gen: Option[Generation],
                    hashes: Array[Long], bands: Array[Long]): Hits = {
    val hits = Hits(new Array[Boolean](hashes.length / 2),
      new Array[Boolean](bands.length / 2), resident(spark, root, gen))
    def mark(h: Array[Int], b: Array[Int]): Unit = {
      h.foreach(hits.hash(_) = true)
      b.foreach(hits.band(_) = true)
    }
    hits.resident.foreach { r =>
      val n = r.keys.getNumPartitions
      spark.sparkContext.runJob(r.keys, (ctx: TaskContext, it: Iterator[KeySet]) => {
        val p = ctx.partitionId()
        val ks = it.next()
        (ks.hashHits(hashes, Keys.partOf(_, n) == p), ks.bandHits(bands, Keys.partOf(_, n) == p))
      }).foreach { case (h, b) => mark(h, b) }
    }
    tailKeys(spark, root, gen).foreach(ks =>
      mark(ks.hashHits(hashes, _ => true), ks.bandHits(bands, _ => true)))
    hits
  }

  private def packHashes(hs: Seq[String]): Array[Long] = {
    val q = new Array[Long](2 * hs.size)
    hs.iterator.zipWithIndex.foreach { case (h, i) =>
      q(2 * i) = Keys.hashHi(h)
      q(2 * i + 1) = Keys.hashLo(h)
    }
    q
  }

  private def packBands(rows: Seq[(Int, String)]): Array[Long] = {
    val q = new Array[Long](2 * rows.size)
    rows.iterator.zipWithIndex.foreach { case ((b, k), i) =>
      q(2 * i) = b
      q(2 * i + 1) = Keys.band(k)
    }
    q
  }

  /** Corpus exact-dup hits for a batch's content hashes (column
    * `text_hash`): the batch side is collected, probed against the
    * resident generation and the driver tail as an admit probes it, and
    * each hashing row comes back once, as a local frame.
    */
  def corpusHashHits(spark: SparkSession, root: String,
                     batchHashes: DataFrame): DataFrame = {
    import spark.implicits._
    val hs = batchHashes.select("text_hash").collect().map(_.getString(0)).toSeq
    val hit = probe(spark, root, currentGeneration(spark, root), packHashes(hs),
      Array.emptyLongArray).hash
    hs.indices.filter(hit(_)).map(hs).toDF("text_hash")
  }

  /** Corpus band-collision hits for a batch's (id, band, key) rows: the
    * probe-side id `b` of every band row whose (band, key) the index holds,
    * probed as an admit probes them, as a local frame.
    */
  def corpusBandHits(spark: SparkSession, root: String,
                     probeBands: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = probeBands.select(col("id"), col("band"), col("key")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val hit = probe(spark, root, currentGeneration(spark, root), Array.emptyLongArray,
      packBands(rows.map(t => (t._2, t._3)))).band
    rows.indices.filter(hit(_)).map(i => rows(i)._1).toDF("b")
  }

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

    // 2. the corpus probe: the batch's distinct hashes and every doc's
    // band keys, packed here, against the resident generation (one job)
    // and the driver tail (a doc's band hits are read only if it passes
    // the exact guards). The (immutable) generation marker is resolved
    // once per batch.
    val gen = currentGeneration(spark, indexRoot)
    val batchHashes = keeper.keys.toSeq
    val hits = probe(spark, indexRoot, gen, packHashes(batchHashes),
      packBands(bands.map(t => (t._2, t._3))))
    hits.resident.foreach { r =>
      stats.indexResidentKeys.set(r.size)
      stats.indexResidentBytes.set(r.bytes)
      stats.indexBuildMs.set(r.buildMs)
    }
    val inCorpus = batchHashes.indices.filter(hits.hash(_)).map(batchHashes).toSet
    val nearCorpus = bands.indices.filter(hits.band(_)).map(bands(_)._1).toSet
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
      val hashKeys = new KeyBuilder
      admitted.foreach(d => hashKeys.hash(d.hash))
      addTail(spark, indexRoot,
        appendTail(spark, s"$indexRoot/hash_tail", HashSchema, admitted)(
          (g, d) => g.append("text_hash", d.hash)),
        hashKeys.result())
      val admittedIds = admitted.map(_.id).toSet
      val newBands = probeBands.filter(t => admittedIds(t._1))
      // all-short-doc batches produce no band rows, and no band file
      if (newBands.nonEmpty) {
        val bandKeys = new KeyBuilder
        newBands.foreach(t => bandKeys.band(t._2, Keys.band(t._3)))
        addTail(spark, indexRoot,
          appendTail(spark, s"$indexRoot/band_tail", BandSchema, newBands)(
            (g, t) => g.append("id", t._1).append("band", t._2).append("key", t._3)),
          bandKeys.result())
      }
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
    val f = writeFs(spark, root)
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
    * shape) would otherwise be held as driver tail keys, every admit
    * searching all of them on the driver, until the 64-batch
    * auto-compaction cadence first fires; a generation spreads the same
    * keys over the resident partitions, built by one parallel job, and
    * corpus ≫ batch is the production regime.
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
    * The band files are FLAT, not partitioned by key slot: no probe reads
    * them. A generation's files are read once, when its first probe builds
    * it into the resident key partitions, so their layout costs one build,
    * not a scan per admit. That build is not done here: `compact` stays a
    * pure write, and the admit after it pays the build (one job over the
    * generation's files, about one scan). A generation written in the
    * older `kp=` slot layout is still read correctly (see `genFiles`) and
    * comes out flat here.
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
          spark.read.schema(StructType.fromDDL(schemaDdl)).parquet(snap: _*))
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
    val out = writeFs(spark, root).create(new Path(s"$dir/_COMMITTED"), true)
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
