package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH banding, n-gram Jaccard (inverted-index
  * join), and SimHash with chunk blocking.
  *
  * Scale design (the point of each shape):
  *  - exact: one shuffle on md5(text) with partial aggregation — the
  *    canonical 100 TB dedup; never collects, never compares texts pairwise.
  *  - MinHash/LSH: shingle explode → one shuffle to build per-doc
  *    signatures → band bucket self-join. Candidate generation cost is
  *    bounded by bucket sizes (collision probability), NOT n²; the exact
  *    Jaccard verify runs only on candidates.
  *  - n-gram Jaccard: the inverted-index equijoin on shingle hash — pairs
  *    that share no shingle are never materialized.
  *  - SimHash: 60-bit signature from one groupBy; pair generation via
  *    4×15-bit chunk blocking (pigeonhole: hamming ≤ 3 ⇒ some chunk equal),
  *    so the join is an equijoin, again never n².
  *
  * All hashing is md5-prefix based (TextOps.hash64) so the DuckDB oracle
  * replays the identical integers; the `*Sql` builders emit that oracle
  * from the same constants.
  */
object Dedup {

  /** MinHash parameters: 12 permutations = 6 bands x 2 rows. LSH s-curve
    * threshold (1/bands)^(1/rows) = (1/6)^(1/2) ~= 0.41.
    */
  val P: Long = 2147483647L
  val NumHashes = 12
  val Bands = 6
  val RowsPerBand = 2
  def hashA(i: Int): Long = 101L + 37L * i
  def hashB(i: Int): Long = 1234567L + 999331L * i

  /** SimHash: 60 bits (hash64 is 60-bit), 4 chunks x 15 bits. */
  val SimBits = 60
  val SimChunks = 4
  val ChunkBits = 15

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by content hash, keep the smallest id.
    * Input: (id, text). Output: (text_hash, keep_id, n_copies).
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  // -------------------------------------------------------------- minhash

  /** Base for positional rolling-hash composition of shingles. */
  val ShingleB: Long = 1000003L

  /** Distinct (id, shingle-hash mod P) pairs — the input to signatures and
    * to the exact-Jaccard verify.
    *
    * Computed by the custom codegen'd `ShingleHashArray` expression: the
    * per-doc distinct shingle set comes out as an array where the document
    * row already is, so this is a shuffle-free map + explode. The previous
    * posexplode + lead()-window formulation paid a shuffle + sort on
    * (id, pos) plus a distinct shuffle in every consumer (parity-tested in
    * ShingleHashArraySpec). All intermediates stay under 2^51 (wh < P ~
    * 2^31, B ~ 2^20), so the same arithmetic is exact in DuckDB; docs with
    * < n words yield no shingles, mirrored in shinglesSql.
    */
  def shingleHashes(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"),
      explode(org.apache.spark.sql.graft.ArrayExpressions.shingleHashes(text, n)).as("h"))

  /** Ordered (id, pos, shingle-hash) rows, pos = 1-based start word of the
    * n-gram, multiplicity preserved — the positional input the
    * duplicated-span coverage operator needs. Same map-side codegen'd
    * shape as `shingleHashes` via the `ShingleHashSeq` expression.
    */
  def shingleHashSeq(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"),
      posexplode(org.apache.spark.sql.graft.ArrayExpressions.shingleHashSeq(text, n))
        .as(Seq("pos0", "h")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("h"))

  /** Per-id MinHash signature columns m0..m{NumHashes-1}; one shuffle with
    * map-side partial min.
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map { i =>
      min((col("h") * hashA(i) + hashB(i)) % P).as(s"m$i")
    }
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Band `b`'s key: its `RowsPerBand` registers joined by '_', with
    * register i read by `m(i)`.
    */
  private def bandKey(b: Int, m: Int => Column): Column =
    concat_ws("_", (0 until RowsPerBand).map(r => m(b * RowsPerBand + r)): _*)

  /** (id, band, key) — one row per band, key = concat of that band's rows. */
  def bandKeys(sig: DataFrame): DataFrame = {
    val bandRows = (0 until Bands).map { b =>
      struct(lit(b).as("band"), bandKey(b, i => col(s"m$i")).as("key"))
    }
    sig.select(col("id"), explode(array(bandRows: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** A doc's band keys as one array (element b = band b's `bandKeys` key)
    * from its `MinhashRegisters` array; a doc without shingles (empty
    * registers) gets an empty array.
    */
  def bandKeyArray(registers: Column): Column =
    when(size(registers) === 0, array().cast("array<string>"))
      .otherwise(array((0 until Bands).map(b => bandKey(b, i => registers.getItem(i))): _*))

  /** Distinct candidate pairs (a < b) sharing at least one band bucket. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val l = bands.as("l"); val r = bands.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** Candidate pairs with a HOT-BUCKET cap: band buckets holding more than
    * `maxBucket` ids are dropped from candidate generation entirely. A
    * bucket's pair count grows quadratically in its size, and oversized
    * buckets are almost always a shared-boilerplate artifact (many docs
    * agreeing on a band because a common passage dominates their minhash
    * registers) — their pairs overwhelmingly FAIL the Jaccard verify while
    * costing |bucket|² to check. Genuine near-dup pairs keep colliding in
    * other, cooler bands (each of the `Bands` bands is an independent
    * chance), so the recall cost is small and bounded. This is the
    * standard production mitigation for LSH candidate explosion at scale.
    */
  def candidatePairsCapped(bands: DataFrame, maxBucket: Int): DataFrame = {
    // ONE aggregation enumerates every kept bucket's pairs (r19): the old
    // shape paid a bucket-count groupBy, a broadcast of the cool bucket
    // list, a semi-join pass over the band table, a second broadcast of
    // the whole band relation for the self-join, and the pair distinct —
    // five stages and two driver-built hashed relations. Here the SAME
    // exchange that counted the bucket also carries its (capped) member
    // list: `capped_collect_long` bounds every aggregation buffer at
    // ~8*(maxBucket+2) bytes regardless of bucket skew, and the exact
    // `bn <= maxBucket` filter reads the list only when it is complete —
    // the CappedCollectLong lossless-cap argument (disjoint partial
    // buffers), the same construction the containment index uses. Pair
    // enumeration is then a per-bucket double explode over <= maxBucket
    // ids; the cross-bucket `.distinct()` is unchanged. Same pairs as the
    // self-join formulation (VerifiedClustersAdaptiveSpec /
    // DedupRouteParitySpec hold the chain equal to the kernel).
    bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bn"),
        org.apache.spark.sql.graft.ArrayExpressions
          .cappedCollectLong(col("id"), maxBucket).as("ids"))
      .filter(col("bn") <= maxBucket)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(filter(col("ids"), b => b > col("a"))).as("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Driver-local kernel computing EXACTLY the
    * minhashSignaturesRowwise → bandKeys → candidatePairs[Capped] chain
    * over an in-memory (id, shingle hashes) batch — the
    * containmentDropIdsLocal pattern. A bounded corpus should not pay
    * ~5 AQE stage materializations (band cache, bucket count, semi-join,
    * pair self-join, distinct) for a few thousand docs. Same integers:
    * register i = min over the doc's shingle hashes of
    * (h * hashA(i) + hashB(i)) % P in 64-bit arithmetic (identical
    * two's-complement overflow and sign-preserving % on the JVM and in
    * Spark SQL), a bucket per (band, RowsPerBand register slice) — the
    * SQL side's `concat_ws("_")` key is injective for a fixed slice
    * width, so tuple equality IS key equality — the same `bn <= cap`
    * hot-bucket cut, the same a < b orientation, and cross-bucket pair
    * dedup matching `.distinct()`. Docs with zero shingles are skipped
    * exactly like the rowwise signature's `size(hs) > 0` filter.
    * VerifiedClustersAdaptiveSpec holds the full chain equal to the
    * DataFrame route on randomized corpora.
    *
    * Returns None when the kept buckets would enumerate more than
    * `pairBudget` raw pairs (sum of n*(n-1)/2 over kept buckets,
    * counted BEFORE enumeration): without a cap (the standalone dedup
    * queries pass maxBucket = None) one boilerplate-dominated 5k-doc
    * bucket alone is 12.5M driver tuples — the caller must fall back to
    * the distributed route, which the old pair-probe bound used to
    * guarantee.
    */
  def candidatePairsLocal(docShingles: Seq[(Long, Seq[Long])],
                          maxBucket: Option[Int],
                          pairBudget: Long = Long.MaxValue): Option[Seq[(Long, Long)]] = {
    val buckets = bandBucketsLocal(docShingles)
    val kept = buckets.valuesIterator
      .filter(ids => maxBucket.forall(ids.size <= _)).toSeq
    val rawPairs = kept.iterator
      .map(ids => ids.size.toLong * (ids.size - 1) / 2).sum
    if (rawPairs > pairBudget) return None
    // primitive-encoded enumeration (rank pairs packed into one Long,
    // sort + adjacent-dedup) instead of a boxed (Long, Long) hash set —
    // at the 1M-raw-pair budget the boxed set allocated ~3 objects per
    // raw pair and dominated the kernel's cost
    val ranks = idRanks(docShingles)
    val enc = new scala.collection.mutable.ArrayBuilder.ofLong
    for (ids <- kept) {
      val arr = ids.toArray
      var x = 0
      while (x < arr.length) {
        var y = x + 1
        while (y < arr.length) {
          if (arr(x) != arr(y)) enc += encodePair(ranks, arr(x), arr(y))
          y += 1
        }
        x += 1
      }
    }
    Some(decodeDistinctPairs(ranks, enc.result()))
  }

  /** Dense ranks over the batch's ids, assigned in ID ORDER so rank
    * comparisons reproduce id comparisons — the (a < b) orientation
    * survives the encoding. Shared by the pair kernels.
    */
  private def idRanks(docShingles: Seq[(Long, Seq[Long])])
      : (Array[Long], java.util.HashMap[Long, Int]) = {
    val sorted = docShingles.map(_._1).distinct.sorted.toArray
    val rank = new java.util.HashMap[Long, Int](sorted.length * 2)
    var i = 0
    while (i < sorted.length) { rank.put(sorted(i), i); i += 1 }
    (sorted, rank)
  }

  /** One Long per (min, max)-oriented rank pair. n <= a few hundred
    * thousand ids per bounded batch, so rank * n + rank fits easily.
    */
  private def encodePair(ranks: (Array[Long], java.util.HashMap[Long, Int]),
                         a: Long, b: Long): Long = {
    val n = ranks._1.length.toLong
    val ra = ranks._2.get(a).toLong
    val rb = ranks._2.get(b).toLong
    if (ra < rb) ra * n + rb else rb * n + ra
  }

  /** Sort + adjacent-dedup of encoded pairs back to (a, b) with a < b. */
  private def decodeDistinctPairs(
      ranks: (Array[Long], java.util.HashMap[Long, Int]),
      enc: Array[Long]): Seq[(Long, Long)] = {
    java.util.Arrays.sort(enc)
    val n = ranks._1.length.toLong
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < enc.length) {
      if (i == 0 || enc(i) != enc(i - 1))
        out += ((ranks._1((enc(i) / n).toInt), ranks._1((enc(i) % n).toInt)))
      i += 1
    }
    out.result()
  }

  /** Band buckets of a collected (id, shingle hashes) batch — the shared
    * front of the driver-local LSH kernels: register i = min over the
    * doc's shingle hashes of (h * hashA(i) + hashB(i)) % P in 64-bit
    * arithmetic (identical two's-complement overflow and sign-preserving
    * % on the JVM and in Spark SQL), bucket key = (band, RowsPerBand
    * register slice) — the SQL side's concat_ws("_") key is injective
    * for a fixed slice width, so tuple equality IS key equality. Docs
    * with zero shingles are skipped exactly like the rowwise signature's
    * `size(hs) > 0` filter.
    */
  private def bandBucketsLocal(docShingles: Seq[(Long, Seq[Long])])
      : scala.collection.mutable.HashMap[
        (Int, Seq[Long]), scala.collection.mutable.ArrayBuffer[Long]] = {
    val buckets = new scala.collection.mutable.HashMap[
      (Int, Seq[Long]), scala.collection.mutable.ArrayBuffer[Long]]()
    for ((id, hs0) <- docShingles if hs0.nonEmpty) {
      // primitive array once per doc: the register loop reads every
      // element NumHashes times, and Seq#apply pays boxing + dispatch on
      // each read (measured ~3x on the whole kernel)
      val hs = hs0 match {
        case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
        case other => other.toArray
      }
      val regs = new Array[Long](NumHashes)
      var i = 0
      while (i < NumHashes) {
        val a = hashA(i); val b = hashB(i)
        var m = Long.MaxValue
        var j = 0
        while (j < hs.length) {
          val v = (hs(j) * a + b) % P
          if (v < m) m = v
          j += 1
        }
        regs(i) = m
        i += 1
      }
      var band = 0
      while (band < Bands) {
        val key = (band,
          (0 until RowsPerBand).map(r => regs(band * RowsPerBand + r)))
        buckets.getOrElseUpdate(key,
          new scala.collection.mutable.ArrayBuffer[Long]) += id
        band += 1
      }
    }
    buckets
  }

  /** Driver-local twin of `candidatePairsAcross` over collected index /
    * probe (id, shingle hashes) batches: distinct (index id, probe id)
    * pairs sharing a band bucket — the INCREMENTAL kernel. Bucket keys
    * for both sides come from the same register arithmetic as
    * `bandBucketsLocal`; the raw cross-bucket product is counted BEFORE
    * enumeration and None past `pairBudget` (the candidatePairsLocal
    * bound), sending the caller to the distributed route.
    */
  def candidatePairsAcrossLocal(index: Seq[(Long, Seq[Long])],
                                probe: Seq[(Long, Seq[Long])],
                                pairBudget: Long = Long.MaxValue)
      : Option[Seq[(Long, Long)]] = {
    val idxBuckets = bandBucketsLocal(index)
    val probeBuckets = bandBucketsLocal(probe)
    var raw = 0L
    for ((k, pids) <- probeBuckets; iids <- idxBuckets.get(k))
      raw += pids.length.toLong * iids.length
    if (raw > pairBudget) return None
    // DIRECTED primitive encoding (a = index id, b = probe id — no
    // min/max orientation), sort + adjacent-dedup; same no-boxing
    // rationale as candidatePairsLocal
    val ranks = idRanks(index ++ probe)
    val n = ranks._1.length.toLong
    val enc = new scala.collection.mutable.ArrayBuilder.ofLong
    for ((k, pids) <- probeBuckets; iids <- idxBuckets.get(k);
         b <- pids; a <- iids)
      enc += ranks._2.get(a).toLong * n + ranks._2.get(b).toLong
    val e = enc.result()
    java.util.Arrays.sort(e)
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < e.length) {
      if (i == 0 || e(i) != e(i - 1))
        out += ((ranks._1((e(i) / n).toInt), ranks._1((e(i) % n).toInt)))
      i += 1
    }
    Some(out.result())
  }

  /** Driver-local twin of `invertedCandidatePairs` over a collected
    * (id, DISTINCT shingle hashes) batch: undirected pairs (a < b)
    * sharing >= `minShared` shingles, with the shared count. Same
    * posting-list enumeration the inverted-index equijoin performs; the
    * aggregate pair space (sum over shingles of df*(df-1)/2) is counted
    * BEFORE enumeration and None past `pairBudget` — the Σ df² shape is
    * exactly why the distributed route exists.
    */
  def invertedPairsLocal(docShingles: Seq[(Long, Seq[Long])], minShared: Int,
                         pairBudget: Long = Long.MaxValue)
      : Option[Seq[(Long, Long, Long)]] = {
    val postings = new scala.collection.mutable.HashMap[
      Long, scala.collection.mutable.ArrayBuffer[Long]]()
    for ((id, hs) <- docShingles; h <- hs)
      postings.getOrElseUpdate(h,
        new scala.collection.mutable.ArrayBuffer[Long]) += id
    var raw = 0L
    for (ids <- postings.valuesIterator)
      raw += ids.length.toLong * (ids.length - 1) / 2
    if (raw > pairBudget) return None
    // primitive-encoded enumeration + sort + run-length count (see
    // candidatePairsLocal): the shared-shingle count of a pair is its
    // encoded multiplicity — no boxed tuple-keyed hash map
    val ranks = idRanks(docShingles)
    val enc = new scala.collection.mutable.ArrayBuilder.ofLong
    for (ids <- postings.valuesIterator if ids.length >= 2) {
      val arr = ids.toArray
      var x = 0
      while (x < arr.length) {
        var y = x + 1
        while (y < arr.length) {
          enc += encodePair(ranks, arr(x), arr(y))
          y += 1
        }
        x += 1
      }
    }
    val e = enc.result()
    java.util.Arrays.sort(e)
    val n = ranks._1.length.toLong
    val out = Seq.newBuilder[(Long, Long, Long)]
    var i = 0
    while (i < e.length) {
      var j = i + 1
      while (j < e.length && e(j) == e(i)) j += 1
      if (j - i >= minShared)
        out += ((ranks._1((e(i) / n).toInt), ranks._1((e(i) % n).toInt),
          (j - i).toLong))
      i = j
    }
    Some(out.result())
  }

  /** Sorted primitive shingle arrays keyed by id — the evidence kernel's
    * input shape (two-pointer intersections instead of boxed-set
    * membership tests).
    */
  def sortedShingleMap(docShingles: Seq[(Long, Seq[Long])])
      : Map[Long, Array[Long]] =
    docShingles.iterator.map { case (id, hs) =>
      val a = hs.toArray
      java.util.Arrays.sort(a)
      id -> a
    }.toMap

  /** Exact-intersection EVIDENCE for given pairs over collected distinct
    * shingle sets (as SORTED primitive arrays — see sortedShingleMap):
    * (a, b, inter, sza, szb) — integers only, so the jaccard/containment
    * RATIOS (and their r4 rounding) are computed by the SAME Column
    * expressions the distributed route uses; the kernel cannot introduce
    * float drift. Pairs whose side has no shingle set are dropped,
    * mirroring `jaccard`'s inner join against the per-id size table
    * (candidates never reference such docs — both generators require
    * shingles).
    */
  def intersectionEvidenceLocal(shMap: Map[Long, Array[Long]],
                                pairs: Seq[(Long, Long)])
      : Seq[(Long, Long, Long, Long, Long)] =
    pairs.flatMap { case (a, b) =>
      (shMap.get(a), shMap.get(b)) match {
        case (Some(sa), Some(sb)) =>
          var i = 0; var j = 0; var inter = 0L
          while (i < sa.length && j < sb.length) {
            if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
            else if (sa(i) < sb(j)) i += 1
            else j += 1
          }
          Some((a, b, inter, sa.length.toLong, sb.length.toLong))
        case _ => None
      }
    }

  /** SQL twin of `candidatePairsCapped` -> CTE `cand(a, b)` (drop-in for
    * `candidateSql`).
    */
  def candidateCappedSql(maxBucket: Int): String =
    s"""cool AS (
       |  SELECT b.id, b.band, b.key FROM bands b
       |  JOIN (SELECT band, key FROM bands GROUP BY band, key
       |        HAVING count(*) <= $maxBucket) ok
       |    ON ok.band = b.band AND ok.key = b.key),
       |cand AS (
       |  SELECT DISTINCT l.id AS a, r.id AS b
       |  FROM cool l JOIN cool r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id)""".stripMargin

  /** Cross-set candidates: distinct (a = index id, b = probe id) sharing
    * a band bucket — the INCREMENTAL shape. `index` is the persisted
    * corpus band table; `probe` is a new batch's bands. Cost is the
    * probe's band rows joined against the index — ∝ the new batch, never
    * a re-pass over the corpus.
    */
  def candidatePairsAcross(index: DataFrame, probe: DataFrame): DataFrame = {
    val l = index.as("l"); val r = probe.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** Exact Jaccard for given pairs, from the shingle-hash sets. */
  def jaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.as("x"), col("a") === col("x.id"))
      .join(sh.as("y"), col("b") === col("y.id") && col("x.h") === col("y.h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        col("inter") * 1.0 / (col("sza") + col("szb") - col("inter")))
  }

  // ------------------------------------------------ rowwise signatures

  /** Per-ROW minhash signatures — the stateless twin of
    * `shingleHashes` → `minhashSignatures`: the per-doc distinct shingle
    * set comes out of the codegen'd ShingleHashArray expression where the
    * row already is, and each register m_i = array_min of (h*a_i+b_i) % P
    * over that array. Same integers as the groupBy path (parity asserted
    * in StreamNearDupSpec), but computed entirely map-side with no
    * shuffle — the shape a per-micro-batch admit (`CurationPipeline`)
    * and a probe batch's band keys need. Docs with < n words have no
    * shingles and are excluded, mirroring the batch path (they produce no
    * shingle rows there).
    */
  def minhashSignaturesRowwise(docs: DataFrame, id: Column, text: Column,
                               n: Int): DataFrame = {
    // all NumHashes registers come out of ONE native pass over the shingle
    // array (MinhashRegisters) instead of 12 interpreted
    // array_min(transform(...)) HOF columns — HOFs are CodegenFallback, so
    // the old shape paid 12 interpreted sweeps + 12 array allocations per
    // row (measured: it made the rowwise path LOSE to the groupBy+shuffle
    // path at bench scale, the r18 negative result).
    //
    // The zero-shingle filter tests the WORD COUNT, not size(rs): a filter
    // on the projected register array gets pushed below its projection and
    // the optimizer duplicates the whole md5-per-word hash chain into the
    // Filter — every row paid shingle_hashes + registers TWICE (observed
    // in the 10x executed plan; the guide §4.4 duplication, JVM flavor).
    // size(words(text)) >= n is exactly "the shingle set is non-empty"
    // (ShingleHashArray returns empty iff word count < n) and costs one
    // split instead of a second hash pass.
    val regs = (0 until NumHashes).map(i => col("rs").getItem(i).as(s"m$i"))
    docs.filter(size(TextOps.words(text)) >= n)
      .select(id.as("id"),
        org.apache.spark.sql.graft.ArrayExpressions.minhashRegisters(
          org.apache.spark.sql.graft.ArrayExpressions.shingleHashes(text, n))
          .as("rs"))
      .select(col("id") +: regs: _*)
  }

  // ---------------------------------------------------- minhash oracle SQL

  /** Positional shingle CTEs: `spans(id, pos, h)` with pos = 1-based
    * start word, multiplicity preserved (no DISTINCT) — replays
    * `shingleHashSeq` exactly. `shingleSql` derives the distinct set from
    * this, so tokenization and the rolling-hash composition live in ONE
    * string.
    */
  def shinglePosSql(n: Int): String = shinglePosSql(n, "base", "")

  /** Same positional-shingle CTE chain over an arbitrary (id, text)
    * relation, with a CTE-name prefix so a composed query (e.g. the
    * curation funnel) can shingle a SECOND corpus stage without name
    * collisions — one place for the rolling-hash formula.
    */
  def shinglePosSql(n: Int, from: String, prefix: String): String = {
    val ws = TextOps.wordsSql("text")
    val h = (0 until n).map(j => if (j == 0) "wh" else s"lead(wh, $j) OVER win")
      .reduce((acc, whj) => s"(($acc) * $ShingleB + $whj) % $P")
    s"""${prefix}wpos AS (
       |  SELECT id, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS w
       |  FROM (SELECT id, $ws AS ws FROM $from)),
       |${prefix}wh AS (
       |  SELECT id, pos, ${TextOps.hash64Sql("w")} % $P AS wh FROM ${prefix}wpos),
       |${prefix}spans AS (
       |  SELECT id, pos, h FROM (
       |    SELECT id, pos, $h AS h, lead(wh, ${n - 1}) OVER win AS g
       |    FROM ${prefix}wh WINDOW win AS (PARTITION BY id ORDER BY pos))
       |  WHERE g IS NOT NULL)""".stripMargin
  }

  /** Window-free twin of `shinglePosSql` for oracle chains that must
    * scale past the window sort: the rolling hash is recomposed per
    * position directly from the word array (`ws[pos + j]`, 1-based list
    * indexing), so the oracle engine streams unnest → next consumer with
    * NO partitioned sort over a corpus-sized word-position table — at the
    * 5M-doc tier the windowed form's `PARTITION BY id ORDER BY pos` sort
    * over ~1e9 positions is what spilled the staged NEARDUP oracle past
    * the sandbox disk. Same tokenization (`wordsSql`), same per-word hash
    * (`hash64Sql % P`), same fold (`(acc * ShingleB + wh) % P` over n
    * words), same validity rule (pos ∈ [1, len-n+1]): emits
    * `<prefix>spans(id, pos, h)` row-for-row equal to the windowed form
    * (each word hashed n times instead of once — the right trade when the
    * alternative is an external sort).
    */
  def shingleFlatSql(n: Int, from: String, prefix: String): String = {
    val ws = TextOps.wordsSql("text")
    val h = (0 until n)
      .map(j => s"(${TextOps.hash64Sql(s"ws[pos + $j]")} % $P)")
      .reduce((acc, whj) => s"(($acc) * $ShingleB + $whj) % $P")
    s"""${prefix}wsx AS (
       |  SELECT id, $ws AS ws FROM $from),
       |${prefix}spans AS (
       |  SELECT id, pos, $h AS h
       |  FROM (SELECT id, ws, unnest(range(1, len(ws) - ${n - 1} + 1)) AS pos
       |        FROM ${prefix}wsx))""".stripMargin
  }

  /** Distinct (id, h) shingle set as CTE `sh` — the set `shingleHashes`
    * computes, derived from the positional CTEs above.
    */
  // AS MATERIALIZED on the multiply-referenced chain CTEs (sh/cand/
  // sizes/inter/jac/vpairs): DuckDB inlines plain CTEs per reference,
  // and the recursive clustering references vpairs EVERY iteration — at
  // the materialized 10x tier that re-expanded the whole shingle+verify
  // chain per CC step until q_dedup_keeper_quality's oracle spilled past
  // the sandbox disk (78 GB) and died. Purely an evaluation hint:
  // results are unchanged (the funnel oracle learned the same lesson in
  // r7 with its corpus/base/surv2 CTEs).
  def shingleSql(n: Int): String =
    s"""${shinglePosSql(n)},
       |sh AS MATERIALIZED (SELECT DISTINCT id, h FROM spans)""".stripMargin

  def signatureSql: String = signatureSql("sh")

  /** Same register layout over an arbitrary (id, h) CTE — ONE place for
    * the register formula; a second inline copy would let a future change
    * fork the oracle from `minhashSignatures`.
    */
  def signatureSql(from: String): String = {
    val mins = (0 until NumHashes)
      .map(i => s"min((h * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i")
      .mkString(",\n       |         ")
    s"""sig AS (
       |  SELECT id,
       |         $mins
       |  FROM $from GROUP BY id)""".stripMargin
  }

  def bandsSql: String = {
    val rows = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"m${b * RowsPerBand + r}")
        .mkString("concat_ws('_', ", ", ", ")")
      s"SELECT id, $b AS band, $key AS key FROM sig"
    }.mkString("\n       |  UNION ALL ")
    s"""bands AS (
       |  $rows)""".stripMargin
  }

  /** Inverted-index candidate pairs: docs sharing >= minShared shingles
    * (no LSH) — the truth-set definition shared by q_dedup_ngram_jaccard
    * and q_dedup_lsh_recall. ONE definition per engine; a second inline
    * copy would let a future threshold change fork the recall query's
    * truth set from the emission it claims to equal.
    */
  def invertedCandidatePairs(sh: DataFrame, minShared: Int): DataFrame =
    sh.as("x")
      .join(sh.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("nsh")).filter(col("nsh") >= minShared)
      .select(col("a"), col("b"))

  /** SQL twin of `invertedCandidatePairs` under an arbitrary CTE name. */
  def invertedCandSqlAs(name: String, minShared: Int): String =
    s"""$name AS (
       |  SELECT x.id AS a, y.id AS b
       |  FROM sh x JOIN sh y ON x.h = y.h AND x.id < y.id
       |  GROUP BY x.id, y.id HAVING count(*) >= $minShared)""".stripMargin

  /** Band-bucket candidate pairs under an arbitrary CTE name — ONE place
    * for the band-join logic; q_dedup_lsh_recall needs it alongside an
    * inverted-index `cand` in the same WITH chain.
    */
  def candidateSqlAs(name: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT DISTINCT l.id AS a, r.id AS b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id)""".stripMargin

  val candidateSql: String = candidateSqlAs("cand")

  // `interx` forces the candidate-bounded join ORDER with a
  // materialization boundary (r14 100x-tier lesson): written as one
  // 3-way join, DuckDB's optimizer can pick sh x sh ON h first — and a
  // boilerplate-hot shingle shared by n docs contributes n^2 rows
  // BEFORE the candidate filter (the funnel's oracle spilled past the
  // 77 GB sandbox disk exactly this way at 500k docs, while the keyed
  // order is candidate-bounded: |cand| x shingles-per-doc). `candm`
  // materializes the caller's candidate CTE once: jaccardSql cannot
  // assume its `cand` input is MATERIALIZED (the funnel's capped
  // variant is plain), and a re-inlined cand lets the optimizer re-mix
  // the band self-join into jac's 4-way join. Pure evaluation hints;
  // the join/group semantics are unchanged.
  val jaccardSql: String =
    """sizes AS MATERIALIZED (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |candm AS MATERIALIZED (SELECT a, b FROM cand),
      |interx AS MATERIALIZED (
      |  SELECT c.a, c.b, x.h
      |  FROM candm c JOIN sh x ON x.id = c.a),
      |inter AS MATERIALIZED (
      |  SELECT ix.a, ix.b, count(*) AS inter
      |  FROM interx ix JOIN sh y ON y.id = ix.b AND y.h = ix.h
      |  GROUP BY ix.a, ix.b),
      |jac AS MATERIALIZED (
      |  SELECT c.a, c.b,
      |         coalesce(i.inter, 0) * 1.0 /
      |           (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jaccard
      |  FROM candm c
      |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      |  JOIN sizes sa ON sa.id = c.a
      |  JOIN sizes sb ON sb.id = c.b)""".stripMargin

  /** Verified pairs CTE `vpairs(a, b)` from `jac` at `threshold` —
    * MATERIALIZED because the recursive clustering reads it per
    * iteration (see shingleSql's note).
    */
  def vpairsSql(threshold: Double): String =
    s"vpairs AS MATERIALIZED (SELECT a, b FROM jac WHERE jaccard >= $threshold)"

  /** Recursive min-label clustering over `vpairs` -> CTE
    * `clusters(id, cluster)` (cluster = numerically-smallest member).
    * The one place the clustering contract lives for oracle SQL — shared
    * by q_dedup_clusters and q_dedup_survivors, mirroring
    * `Identity.connectedComponents*` on the Spark side.
    */
  val clustersSql: String =
    """reach AS (
      |  SELECT id, id AS r FROM (
      |    SELECT a AS id FROM vpairs UNION SELECT b FROM vpairs)
      |  UNION
      |  SELECT e.b AS id, reach.r
      |  FROM reach JOIN (
      |    SELECT a, b FROM vpairs
      |    UNION SELECT b AS a, a AS b FROM vpairs) e ON e.a = reach.id),
      |clusters AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)""".stripMargin

  // -------------------------------------------------------------- simhash

  /** Per-id 60-bit SimHash from the word multiset, computed entirely
    * map-side by the native `SimhashBits` expression — no explode, no
    * `SimBits`-sum groupBy, no shuffle (the expression's scaladoc carries
    * the exact-equivalence argument; SimhashParitySpec holds it equal to
    * the explode + groupBy formulation `simhashSql` replays).
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame =
    // null text has no words: no row, as in the explode+groupBy contract
    docs.filter(text.isNotNull).select(id.as("id"),
      org.apache.spark.sql.graft.ArrayExpressions
        .simhashBits(text, SimBits).as("simhash"))

  def simhashSql: String = {
    val sums = (0 until SimBits)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s$j")
      .mkString(",\n       |         ")
    val sig = (0 until SimBits)
      .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""wr AS (
       |  SELECT id, ${TextOps.hash64Sql("w")} AS h
       |  FROM (SELECT id, unnest(${TextOps.wordsSql("text")}) AS w FROM base)),
       |ss AS (
       |  SELECT id,
       |         $sums
       |  FROM wr GROUP BY id),
       |sim AS (SELECT id, $sig AS simhash FROM ss)""".stripMargin
  }

  /** Pairs with hamming distance <= maxHam via chunk blocking: any pair
    * with ham <= SimChunks-1 must agree on >= 1 chunk (pigeonhole), so an
    * equijoin on (chunk_idx, chunk_value) finds all of them without n².
    */
  def simhashPairs(sim: DataFrame, maxHam: Int): DataFrame = {
    require(maxHam <= SimChunks - 1, "chunk blocking only complete for ham <= chunks-1")
    val chunks = sim.select(col("id"), col("simhash"),
        explode(array((0 until SimChunks).map { c =>
          struct(lit(c).as("c"),
            shiftright(col("simhash"), c * ChunkBits).bitwiseAND((1 << ChunkBits) - 1).as("v"))
        }: _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.c").as("c"), col("ck.v").as("v"))
    val l = chunks.as("l"); val r = chunks.as("r")
    l.join(r, col("l.c") === col("r.c") && col("l.v") === col("r.v") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        bit_count(expr("l.simhash ^ r.simhash")).cast("long").as("ham"))
      .distinct()
      .filter(col("ham") <= maxHam)
  }

  def simhashPairsSql(maxHam: Int): String = {
    val chunkRows = (0 until SimChunks)
      .map(c => s"SELECT id, simhash, $c AS c, (simhash >> ${c * ChunkBits}) & ${(1 << ChunkBits) - 1} AS v FROM sim")
      .mkString("\n       |  UNION ALL ")
    s"""chunks AS (
       |  $chunkRows),
       |simpairs AS (
       |  SELECT DISTINCT l.id AS a, r.id AS b,
       |         CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS ham
       |  FROM chunks l JOIN chunks r
       |    ON l.c = r.c AND l.v = r.v AND l.id < r.id
       |  WHERE bit_count(xor(l.simhash, r.simhash)) <= $maxHam)""".stripMargin
  }
}
