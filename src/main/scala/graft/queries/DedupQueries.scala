package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Num, Route, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup query surface over `documents`. The corpus is fully distinct, so
  * each query derives a deterministic variant input from the table itself
  * (same derivation in the oracle SQL):
  *  - exact:  + verbatim copies of every 10th doc (id + 100000)
  *  - near:   + first-half-words truncations of every 5th doc (Jaccard vs
  *            the original ~0.5, far above random-pair overlap ~0)
  *  - light:  + first-word-replaced copies of every 5th doc (SimHash
  *            hamming distance small)
  */
object DedupQueries {

  private val IdOffset = 100000L

  /** Shingle width. 5 words: with the corpus's ~30-word vocabulary,
    * 3-word shingles collide across unrelated docs (the inverted index
    * degenerates toward n^2 candidates); 5-word shingles make random
    * collisions rare while truncated near-dups keep Jaccard ~0.5.
    * (private[queries]: the curation funnel composes the same pipeline.)
    */
  private[queries] val ShingleN = 5

  /** Word n-gram width for q_dedup_spans. 6: long enough that a repeat is
    * a copied passage, not a small-vocabulary collision (4-grams mark 70%+
    * of this corpus; 6-grams mark the ~10% of docs that genuinely share
    * text). Declared before `defs` — the oracle SQL interpolates it at
    * object-init time.
    */
  private[queries] val SpanN = 6

  /** Verified-pair Jaccard cut for the clustering queries (before `defs`
    * for the same init-order reason).
    */
  private[queries] val JaccardThreshold = 0.35

  /** ExactSubstr cut threshold: a verbatim shared run of >= this many
    * tokens gets removed from the doc (Lee et al. 2021 use 50). Shared by
    * q_dedup_span_runs (`cut50` evidence) and q_dedup_span_survivors (the
    * materialized cut).
    */
  private[queries] val CutTokens = 50

  /** A doc trimmed below this many remaining tokens is dropped outright
    * rather than kept as a fragment.
    */
  private[queries] val MinKeepTokens = 20

  /** Verified near-dup clusters over an arbitrary (id, text) corpus —
    * (node, component), shared by q_dedup_clusters / q_dedup_survivors /
    * the curation funnel so the clustering contract lives in one place on
    * BOTH sides (SQL twin: `Dedup.vpairsSql` + `Dedup.clustersSql`).
    * Adaptive CC: verified
    * near-dup pairs are sparse, so the common case is the driver-local
    * union-find kernel; a pair set past the bound falls back to
    * distributed propagation.
    */
  /** LSH hot-bucket cap for the curation funnel (see
    * `Dedup.candidatePairsCapped`): its boilerplate-sharing docs would
    * otherwise funnel into giant band buckets whose candidate pairs all
    * fail the verify. The standalone dedup queries stay uncapped — their
    * variant corpora have no shared-boilerplate class.
    */
  private[queries] val LshBucketCap = 50

  /** Hot-shingle cut for the composed containment stage: a shingle in more
    * than this percent of the corpus is boilerplate, not evidence of
    * quote-inclusion — excluded from the containment measure (and from the
    * candidate equijoin, which is what keeps the stage skew-safe).
    * `ContainHotMin` is the absolute floor: on a small corpus 5% rounds
    * below the df=2 every genuine excerpt pair produces, which would
    * silence the stage entirely — a shingle in <= 8 docs is never "hot".
    * Both bounds are integer comparisons (df*100 <= n*pct) so Spark and
    * DuckDB can't diverge on division semantics.
    */
  private[queries] val ContainHotPct = 5
  private[queries] val ContainHotMin = 8

  /** Raw-pair enumeration budget for the full-local LSH kernel: ~1M
    * (Long, Long) tuples ≈ 80 MB of driver set — the same order as the
    * doc-shingle collect it sits next to. Counted from bucket sizes
    * BEFORE enumerating; exceeded => distributed route.
    */
  private[queries] val LocalPairBudget = 1000000L

  /** Bounded-corpus shingle collect shared by the pairwise driver
    * kernels: Some((id, distinct shingle-hash array) rows) when the
    * corpus fits `Route.Docs`, None otherwise — an id-only limit probe
    * first, so an oversized corpus never ships shingle arrays just to
    * learn it must take the distributed route. `Route.forcing(Route.Docs
    * -> 0)` forces the distributed route.
    */
  private[queries] def collectShinglesBounded(
      site: String, docs: DataFrame): Option[Array[(Long, Seq[Long])]] =
    if (Route.fits(site, Route.Docs, docs.select(col("id")))) Some(collectShingles(docs))
    else None

  /** (id, distinct shingle-hash array) rows of an (id, text) relation. */
  private def collectShingles(docs: DataFrame): Array[(Long, Seq[Long])] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("id"), org.apache.spark.sql.graft.ArrayExpressions
        .shingleHashes(col("text"), ShingleN).as("hs"))
      .as[(Long, Seq[Long])].collect()
  }

  /** Integer (a, b, inter, sza, szb) evidence from one bounded shingle
    * collect: `pairs` generates the candidate pairs over the collected rows
    * (None past its budget). None => the caller's distributed route.
    */
  private def localEvidence(site: String, docs: DataFrame)(
      pairs: Seq[(Long, Seq[Long])] => Option[Seq[(Long, Long)]])
      : Option[Seq[(Long, Long, Long, Long, Long)]] =
    for {
      probe <- collectShinglesBounded(site, docs)
      cand <- pairs(probe.toSeq)
    } yield Dedup.intersectionEvidenceLocal(Dedup.sortedShingleMap(probe.toSeq), cand)

  /** Inverted-index candidates (>= 2 shared shingles) as plain pairs. */
  private def invertedPairs(probe: Seq[(Long, Seq[Long])]): Option[Seq[(Long, Long)]] =
    Dedup.invertedPairsLocal(probe, 2, LocalPairBudget)
      .map(_.map { case (a, b, _) => (a, b) })

  /** The candidate pairs whose exact Jaccard clears `JaccardThreshold`:
    * the evidence kernel's two-pointer intersections (boxed-set membership
    * measured ~3x slower) and `Dedup.jaccard`'s double arithmetic. A pair
    * with a side that has no shingles has Jaccard 0, so dropping it is
    * the same cut.
    */
  private def verifiedLocal(shMap: Map[Long, Array[Long]],
                            cand: Seq[(Long, Long)]): Seq[(Long, Long)] =
    Dedup.intersectionEvidenceLocal(shMap, cand).collect {
      case (a, b, inter, sza, szb)
          if sza + szb - inter > 0 && inter * 1.0 / (sza + szb - inter) >= JaccardThreshold =>
        (a, b)
    }

  /** (a, b, inter, sza, szb, jaccard) rows from a driver kernel's integer
    * evidence, back in DataFrame land: the jaccard column is EXACTLY
    * `Dedup.jaccard`'s expression (long * 1.0 / long in double
    * arithmetic), so every downstream ratio and rounding is the same
    * Column expression the distributed route runs.
    */
  private def evidenceDF(s: SparkSession,
                         ev: Seq[(Long, Long, Long, Long, Long)]): DataFrame = {
    import s.implicits._
    s.createDataset(ev).toDF("a", "b", "inter", "sza", "szb")
      .withColumn("jaccard", col("inter") * 1.0 / (col("sza") + col("szb") - col("inter")))
  }

  private[queries] def verifiedClusters(s: SparkSession, docs: DataFrame,
                                        bucketCap: Option[Int] = None): DataFrame = {
    import s.implicits._
    // Whole-pipeline driver kernel for bounded corpora (the
    // containmentDropsAdaptive pattern, one level up): ONE bounded
    // collect of (id, shingle hashes) feeds signatures, banding, capped
    // candidates, the exact-Jaccard verify, and union-find — replacing
    // the band cache + candidate self-join + pair probe + shingle
    // re-collect (~8 AQE stage materializations) the distributed route
    // pays even when the corpus is a few thousand docs. Memory bound: the
    // `Route.Docs` shingle collect. Same integers end-to-end
    // (VerifiedClustersAdaptiveSpec holds the routes equal); at 100 TB
    // the id-only limit probe short-circuits and the distributed route
    // runs.
    // pair budget: the old pair-probe route bounded the collected pair
    // list; the local kernel must bound its enumeration the same way — a
    // boilerplate-dominated uncapped bucket can hold millions of pairs
    // even under the doc bound. None => distributed verify below.
    val fullLocal = for {
      docProbe <- collectShinglesBounded("DedupQueries.verifiedClusters", docs)
      candLocal <- Dedup.candidatePairsLocal(docProbe.toSeq, bucketCap,
        pairBudget = LocalPairBudget)
    } yield {
      val comp = graft.operators.Identity.connectedComponentsLocal(
        verifiedLocal(Dedup.sortedShingleMap(docProbe.toSeq), candLocal))
      s.createDataset(comp.toSeq).toDF("node", "component")
    }
    if (fullLocal.isDefined) return fullLocal.get
    // Signatures come from the map-only rowwise expression, NOT the
    // shingle-explode + 12-way-min groupBy: same integers (parity asserted
    // in StreamNearDupSpec/RandomizedParitySpec) with zero shuffle and no
    // corpus-sized shingle table to materialize. bk is reused four times
    // downstream (hot-bucket groupBy, its semi-join, and both sides of the
    // candidate self-join) — cache it, it is only ids × Bands rows.
    val bk = Dedup.bandKeys(
      Dedup.minhashSignaturesRowwise(docs, col("id"), col("text"), ShingleN))
      .cache()
    // cand feeds the bounded probe (or candIds + both sides of
    // Dedup.jaccard on the distributed route) — cache it
    val cand = bucketCap.fold(Dedup.candidatePairs(bk))(
        Dedup.candidatePairsCapped(bk, _))
      .cache()
    // Bounded-candidate fast path (the containmentDropsAdaptive /
    // connectedComponentsAdaptive pattern): LSH leaves few enough verified-
    // candidate pairs that the exact-Jaccard verify and the union-find both
    // fit on the driver — two bounded jobs (pair collect + involved-doc
    // shingle-array collect) replace the distributed verify's ~6-join DAG
    // plus CC's checkpoint/probe jobs. Same integers: |A∩B| over distinct
    // shingle sets, inter*1.0/(sza+szb-inter) in double arithmetic, the
    // same >= threshold cut, and the same min-id component contract
    // (VerifiedClustersAdaptiveSpec holds the routes equal).
    val pairProbe = Route.collectWithin("DedupQueries.verifiedClusters",
      Route.VerifyPairs, cand.as[(Long, Long)])
    val clusters = pairProbe match {
      case Some(probe) =>
        val candIdsLocal = probe.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        val shArr = collectShingles(docs
          .join(s.createDataset(candIdsLocal.toSeq).toDF("id"), Seq("id"), "left_semi"))
        val comp = graft.operators.Identity.connectedComponentsLocal(
          verifiedLocal(Dedup.sortedShingleMap(shArr.toSeq), probe.toSeq))
        s.createDataset(comp.toSeq).toDF("node", "component")
      case None =>
        // The exact-Jaccard verify only ever looks at docs that appear in a
        // candidate pair — shingle THOSE, not the whole corpus. The
        // restricted shingle table gives identical jaccard values for every
        // candidate pair (per-doc shingle sets are untouched by the row
        // filter).
        val candIds = cand.select(col("a").as("id"))
          .unionAll(cand.select(col("b").as("id"))).distinct()
        // localCheckpoint, not cache: jaccard references sh FOUR times (both
        // join sides + the size table twice) and each reference duplicates
        // sh's entire logical lineage in the analyzed plan — against a
        // wide-union input (a 100-way replicated corpus) that tree
        // reaches hundreds of MB and every downstream action pays tens of
        // seconds of driver-side analysis before any task runs. A checkpoint
        // leaf keeps the verify plan O(1) in input lineage; the table is
        // candidate-restricted, so the materialization is pair-proportional,
        // never corpus-sized. checkpoint() is the cluster-durable twin.
        val sh = Dedup.shingleHashes(
            docs.join(candIds, Seq("id"), "left_semi"),
            col("id"), col("text"), ShingleN)
          .localCheckpoint()
        val verified = Dedup.jaccard(cand, sh)
          .filter(col("jaccard") >= JaccardThreshold)
          .select(col("a"), col("b")).as[(Long, Long)]
        // connectedComponentsAdaptive eagerly localCheckpoints the edge set,
        // so nothing downstream depends on sh or cand lineage
        graft.operators.Identity.connectedComponentsAdaptive(verified)
    }
    bk.unpersist(blocking = false)
    cand.unpersist(blocking = false)
    clusters
  }

  // ----- variant inputs (Spark) -----

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))

  private def withExactCopies(s: SparkSession, dir: String): DataFrame =
    base(s, dir).unionAll(
      base(s, dir).filter(col("id") % 10 === 0)
        .select((col("id") + IdOffset).as("id"), col("text")))

  /** The truncated-copy variants alone (ids offset) — the "new batch" of
    * the incremental dedup query.
    */
  private def truncatedCopiesOnly(s: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    base(s, dir).filter(col("id") % 5 === 0)
      .select((col("id") + IdOffset).as("id"),
        concat_ws(" ",
          slice(ws, lit(1), ceil(size(ws) / 2.0).cast("int"))).as("text"))
  }

  private[queries] def withTruncatedCopies(s: SparkSession, dir: String): DataFrame =
    base(s, dir).unionAll(truncatedCopiesOnly(s, dir))

  /** Variant for q_dedup_span_survivors: every 5th doc gains a copy whose
    * text is the FULL original plus 25 filler words unique to the copy
    * (`f1x<id> .. f25x<id>` — no filler 6-gram can repeat). The original's
    * entire text becomes a verbatim shared run (docs >= 50 words → the cut
    * drops them), while the copy keeps its 25 filler tokens (>= the
    * 20-token floor → trimmed, not dropped) — so keep/trim/drop all occur
    * and the cut arithmetic is exercised at both boundaries.
    */
  private val FillerWords = 25

  private[graft] def withSharedPrefixCopies(s: SparkSession, dir: String): DataFrame = {
    val docs = base(s, dir)
    val filler = concat(col("text") +: (1 to FillerWords).flatMap(i =>
      Seq(lit(s" f${i}x"), col("id").cast("string"))): _*)
    docs.unionAll(
      docs.filter(col("id") % 5 === 0)
        .select((col("id") + IdOffset).as("id"), filler.as("text")))
  }

  /** Variant for q_dedup_containment: every 7th doc of >= 40 words gains
    * an EXCERPT copy — its first fifth of words (id offset). The excerpt's
    * shingles are all present in the original, so containment(excerpt in
    * original) = 1.0, while Jaccard ≈ len/5 / len ≈ 0.2 — BELOW the 0.3
    * symmetric near-dup cut. This is the quote-inclusion / sub-document
    * shape Jaccard dedup structurally misses and the asymmetric measure
    * exists for (Broder 1997 distinguishes resemblance from containment).
    * The >= 40-word floor keeps excerpts at >= 8 words = >= 4 five-word
    * shingles, clear of the degenerate 0-shingle case.
    */
  private[queries] val ExcerptMinWords = 40

  private def withExcerptCopies(s: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    base(s, dir).unionAll(
      base(s, dir).filter(col("id") % 7 === 0 && size(ws) >= ExcerptMinWords)
        .select((col("id") + IdOffset).as("id"),
          concat_ws(" ",
            slice(ws, lit(1), ceil(size(ws) / 5.0).cast("int"))).as("text")))
  }

  /** Directed n-gram containment pairs over an arbitrary (id, text)
    * corpus — the q_dedup_containment body, factored so the spec can
    * drive synthetic corpora through the exact production plan (see the
    * QueryDef comment for semantics and thresholds).
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    // Driver kernel for bounded corpora (the verifiedClusters pattern):
    // the inverted-index pair enumeration runs over one collected shingle
    // batch and only INTEGER evidence returns to DataFrame land — the
    // directed expansion, thresholds, ratios and r4 rounding below are
    // the same Column expressions on both routes, so the kernel cannot
    // fork a float boundary (DedupRouteParitySpec holds the routes
    // equal). Budget-guarded: past LocalPairBudget raw pairs (the Σ df²
    // shape) or `Route.Docs`, the distributed plan runs unchanged.
    val localEv = localEvidence("DedupQueries.containmentPairs", docs)(invertedPairs)
    val directed = localEv match {
      case Some(ev) =>
        val s = docs.sparkSession
        import s.implicits._
        val und = s.createDataset(ev).toDF("a", "b", "inter", "sza", "szb")
        und.select(col("a"), col("b"), col("inter").as("ninter"),
            col("sza").as("n_a"), col("szb").as("n_b"))
          .unionAll(und.select(col("b").as("a"), col("a").as("b"),
            col("inter").as("ninter"),
            col("szb").as("n_a"), col("sza").as("n_b")))
      case None =>
        val sh = Dedup.shingleHashes(docs, col("id"), col("text"), ShingleN).cache()
        val nsh = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
        sh.as("x")
          .join(sh.as("y"), col("x.h") === col("y.h") && col("x.id") =!= col("y.id"))
          .groupBy(col("x.id").as("a"), col("y.id").as("b"))
          .agg(count(lit(1)).as("ninter")).filter(col("ninter") >= 2)
          .join(nsh.select(col("id").as("a"), col("n").as("n_a")), "a")
          .join(nsh.select(col("id").as("b"), col("n").as("n_b")), "b")
    }
    directed
      .filter(col("ninter") >= 2 && col("ninter") * 5 >= col("n_a") * 4)
      .select(col("a"), col("b"),
        Num.r4(col("ninter") * 1.0 / col("n_a")).as("containment"),
        Num.r4(col("ninter") * 1.0 / (col("n_a") + col("n_b") - col("ninter")))
          .as("jaccard"))
  }

  /** q_dedup_minhash_lsh body: LSH banding candidates + exact-Jaccard
    * verify at 0.35, adaptive (the verifiedClusters pattern): bounded
    * corpora run the band/bucket/verify chain in a driver kernel that
    * returns integer evidence only — the jaccard ratio, threshold, and
    * rounding stay the same Column expressions either way.
    */
  private[queries] def minhashLsh(s: SparkSession, docs: DataFrame): DataFrame = {
    val localEv = localEvidence("DedupQueries.minhashLsh", docs)(
      Dedup.candidatePairsLocal(_, None, LocalPairBudget))
    val jac = localEv match {
      case Some(ev) => evidenceDF(s, ev)
      case None =>
        // sh feeds signatures AND the candidate-restricted verify — cache
        // it. NEGATIVE RESULT (r19, kept for the record): rewiring this
        // route onto rowwise MinhashRegisters signatures (verifiedClusters'
        // chain) measured 6.7-7.1 s vs 5.6-6.3 s for this shape in a
        // same-session A/B at the 10x tier — the variant-union input
        // (documents scan + truncation slicing) is expensive enough that
        // scanning it twice (bands + verify restriction) loses to one
        // scan into this cache, even though the register pass itself is
        // faster warm (0.45 s vs 0.64 s for the groupBy sigs).
        val sh = Dedup.shingleHashes(docs, col("id"), col("text"), ShingleN)
          .cache()
        val cand = Dedup.candidatePairs(Dedup.bandKeys(Dedup.minhashSignatures(sh)))
          .cache()
        // the exact verify only looks at docs in a candidate pair —
        // restrict the shingle table to THOSE before jaccard reads it
        // three times (both join sides + the size agg); per-doc shingle
        // sets are untouched by the row filter, so every jaccard value is
        // identical. Checkpointed so the restriction computes once.
        val candIds = cand.select(col("a").as("id"))
          .unionAll(cand.select(col("b").as("id"))).distinct()
        val shv = sh.join(candIds, Seq("id"), "left_semi").localCheckpoint()
        Dedup.jaccard(cand, shv)
    }
    jac.filter(col("jaccard") >= 0.35)
      .select(col("a"), col("b"), Num.r4(col("jaccard")).as("jaccard"))
  }

  /** q_dedup_ngram_jaccard body: inverted-index candidates (>= 2 shared
    * shingles) + exact Jaccard at 0.3, adaptive like `minhashLsh`.
    */
  private[queries] def ngramJaccard(s: SparkSession, docs: DataFrame): DataFrame = {
    val localEv = localEvidence("DedupQueries.ngramJaccard", docs)(invertedPairs)
    val jac = localEv match {
      case Some(ev) => evidenceDF(s, ev)
      case None =>
        val sh = Dedup.shingleHashes(docs, col("id"), col("text"), ShingleN)
          .cache()
        // NOT cached, although jaccard reads the pair set twice: both
        // executions run inside the one job over the cached sh and
        // overlap (guide §2.6), while a cache() here strips the AQE
        // runtime stats off the pair side and the verify joins degrade
        // (measured at the 10x tier: 4.35 -> 4.74 s with the cache)
        Dedup.jaccard(Dedup.invertedCandidatePairs(sh, 2), sh)
    }
    jac.filter(col("jaccard") >= 0.3)
      .select(col("a"), col("b"), Num.r4(col("jaccard")).as("jaccard"))
  }

  /** q_multisignal_dedup_lsh's lexical arm: hot-bucket-capped LSH
    * candidates verified by exact Jaccard at the near-dup threshold —
    * (a, b, raw jaccard) rows (the caller joins the embedding cosine on
    * and applies r4). Adaptive like `minhashLsh`, with the capped
    * candidate generator.
    */
  private[queries] def multisignalPairs(s: SparkSession, docs: DataFrame): DataFrame = {
    val localEv = localEvidence("DedupQueries.multisignalPairs", docs)(
      Dedup.candidatePairsLocal(_, Some(LshBucketCap), LocalPairBudget))
    val jac = localEv match {
      case Some(ev) => evidenceDF(s, ev)
      case None =>
        // map-only rowwise signatures → bands → capped candidates (the
        // verifiedClusters chain); bk feeds the bucket count and both
        // sides of the candidate self-join — cache (ids x Bands rows).
        // cand is read FOUR times (both candIds branches + both jaccard
        // references) — uncached, the band self-join + cap semi-join +
        // distinct executed four times per run
        val bk = Dedup.bandKeys(Dedup.minhashSignaturesRowwise(
          docs, col("id"), col("text"), ShingleN)).cache()
        val cand = Dedup.candidatePairsCapped(bk, LshBucketCap).cache()
        // the exact verify only looks at docs in a candidate pair —
        // shingle THOSE, not the corpus (candidate-restricted rows leave
        // per-doc shingle sets untouched, so jaccard values are identical)
        val candIds = cand.select(col("a").as("id"))
          .unionAll(cand.select(col("b").as("id"))).distinct()
        val sh = Dedup.shingleHashes(
          docs.join(candIds, Seq("id"), "left_semi"),
          col("id"), col("text"), ShingleN).localCheckpoint()
        Dedup.jaccard(cand, sh)
    }
    jac.filter(col("jaccard") >= JaccardThreshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** q_source_similarity body: per-source shingle-set Jaccard (exact)
    * vs its 12-register MinHash estimate, for every source pair.
    * Adaptive: the distinct (source, h) relation is bounded by the
    * source count × per-source vocabulary, so bounded corpora collect it
    * once (a cached count-then-collect, see below) and compute sizes,
    * pairwise intersections, registers and register agreement on the
    * driver; integer evidence only, ratios/rounding engine-side. Past
    * `Route.SourceRows` rows (or `Route.SourcePairs` source pairs) the
    * distributed plan runs unchanged.
    */
  private[graft] def sourceSimilarity(s: SparkSession, docs: DataFrame): DataFrame = {
    val site = "DedupQueries.sourceSimilarity"
    import s.implicits._
    // distinct (source, h): the per-SOURCE shingle set (shingleHashes
    // already dedups within a doc; sources need one more distinct)
    val sh0 = Dedup.shingleHashes(
      docs, col("source"), col("text"), ShingleN)
      .distinct()
    // doc-count pre-guard BEFORE the row-count probe (r19): the probe
    // itself costs a full serial materialization of the distinct (cache +
    // count) that the r17 plan never paid — on the too-big path that was
    // a measured ~2 s pure overhead at the 10x tier (5.9 s quiet vs the
    // 3.5 s r17 stamp). A corpus past the kernels' shared `Route.Docs`
    // bound cannot be worth the probe (50k docs put the distinct far past
    // `Route.SourceRows`), so it goes straight to the distributed plan,
    // whose consumers populate the cache INSIDE the one job where the
    // work overlaps (guide §2.6). The cheap id-limit count is
    // column-pruned — the verifiedClusters probe discipline.
    val docBounded = Route.fits(site, Route.Docs, docs.select(col("doc_id")))
    // count-then-collect, NOT limit(bound+1).collect(): a GlobalLimit
    // past ~1e6 rows funnels the whole relation through ONE gather task
    // (measured: the 10x tier paid ~3 s in that single task); the cache
    // makes the distinct compute once across probe + collect (released
    // before returning on the kernel path; handed to the distributed
    // fallback otherwise, where it feeds four consumers)
    val sh = sh0.cache()
    val probe: Option[Array[(String, Long)]] =
      if (docBounded && Route.admits(site, Route.SourceRows, sh.count())) {
        val rows = sh.as[(String, Long)].collect()
        sh.unpersist(blocking = false)
        Some(rows)
      } else None
    val local = probe.flatMap { rows =>
      val bySource = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      val sources = bySource.keys.toSeq.sorted
      val nPairs = sources.size.toLong * (sources.size - 1) / 2
      if (!Route.admits(site, Route.SourcePairs, nPairs)) None
      else {
        // registers per source — the same 64-bit (h * a_i + b_i) % P
        // arithmetic as minhashSignatures (the candidatePairsLocal
        // precedent)
        val regs = bySource.map { case (src, hs) =>
          val r = new Array[Long](Dedup.NumHashes)
          var i = 0
          while (i < Dedup.NumHashes) {
            val a = Dedup.hashA(i); val b = Dedup.hashB(i)
            var m = Long.MaxValue
            var j = 0
            while (j < hs.length) {
              val v = (hs(j) * a + b) % Dedup.P
              if (v < m) m = v
              j += 1
            }
            r(i) = m
            i += 1
          }
          src -> r
        }
        def interCount(x: Array[Long], y: Array[Long]): Long = {
          var i = 0; var j = 0; var n = 0L
          while (i < x.length && j < y.length) {
            if (x(i) == y(j)) { n += 1; i += 1; j += 1 }
            else if (x(i) < y(j)) i += 1
            else j += 1
          }
          n
        }
        val ev = for {
          ai <- sources.indices
          bi <- (ai + 1) until sources.size
        } yield {
          val (a, b) = (sources(ai), sources(bi))
          val (xa, xb) = (bySource(a), bySource(b))
          val (ra, rb) = (regs(a), regs(b))
          var agree = 0L
          var k = 0
          while (k < Dedup.NumHashes) {
            if (ra(k) == rb(k)) agree += 1
            k += 1
          }
          (a, b, interCount(xa, xb), xa.length.toLong, xb.length.toLong, agree)
        }
        Some(s.createDataset(ev)
          .toDF("a", "b", "n_common", "sz_a", "sz_b", "n_agree"))
      }
    }
    val evidence = local.getOrElse {
      val shc = sh
      val sig = Dedup.minhashSignatures(shc)
      val sz = shc.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      val inter = shc.as("x")
        .join(shc.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("n_common"))
      val agree = (0 until Dedup.NumHashes)
        .map(i => when(col(s"l.m$i") === col(s"r.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val sigPairs = sig.as("l")
        .join(broadcast(sig.as("r")), col("l.id") < col("r.id"))
        .select(col("l.id").as("a"), col("r.id").as("b"), agree.as("n_agree"))
      sz.as("sa")
        .join(broadcast(sz.as("sb")), col("sa.id") < col("sb.id"))
        .select(col("sa.id").as("a"), col("sb.id").as("b"),
          col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"))
        .join(broadcast(inter), Seq("a", "b"), "left")
        .join(broadcast(sigPairs), Seq("a", "b"))
        .select(col("a"), col("b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          col("sz_a"), col("sz_b"), col("n_agree"))
    }
    val nUnion = col("sz_a") + col("sz_b") - col("n_common")
    evidence.select(col("a").as("source_a"), col("b").as("source_b"),
      col("n_common"), nUnion.as("n_union"),
      Num.r4(col("n_common") * 1.0 / nUnion).as("true_jaccard"),
      col("n_agree"),
      Num.r4(col("n_agree") * 1.0 / Dedup.NumHashes).as("est_jaccard"))
  }

  /** q_dedup_lsh_recall body: recall of the LSH band candidates against
    * the inverted-index truth set, per Jaccard bucket. Adaptive: the two
    * pair generators and the intersection counts come from ONE collected
    * shingle batch on bounded corpora; the jr rounding, bucket boundaries
    * and recall aggregation stay engine-side on both routes.
    */
  private[queries] def lshRecall(s: SparkSession, docs: DataFrame): DataFrame = {
    val local = for {
      probe <- collectShinglesBounded("DedupQueries.lshRecall", docs)
      truthCand <- invertedPairs(probe.toSeq)
      lshCand <- Dedup.candidatePairsLocal(probe.toSeq, None, LocalPairBudget)
    } yield (Dedup.intersectionEvidenceLocal(
      Dedup.sortedShingleMap(probe.toSeq), truthCand), lshCand)
    local match {
      case Some((ev, lshCand)) =>
        import s.implicits._
        val truth = evidenceDF(s, ev)
          .filter(col("jaccard") >= 0.3)
          .select(col("a"), col("b"), Num.r4(col("jaccard")).as("jr"))
        val lsh = s.createDataset(lshCand).toDF("la", "lb")
        recallBuckets(truth, lsh)
      case None =>
        val sh = Dedup.shingleHashes(docs, col("id"), col("text"), ShingleN)
          .cache()
        // not cached — see ngramJaccard's note (cache() here measured
        // 3.77 -> 5.83 s at the 10x tier: lost AQE stats on the pair side)
        val truth = Dedup.jaccard(Dedup.invertedCandidatePairs(sh, 2), sh)
          .filter(col("jaccard") >= 0.3)
          .select(col("a"), col("b"), Num.r4(col("jaccard")).as("jr"))
        val lsh = Dedup.candidatePairs(Dedup.bandKeys(Dedup.minhashSignatures(sh)))
          .select(col("a").as("la"), col("b").as("lb"))
        recallBuckets(truth, lsh)
    }
  }

  /** The recall bucketing/aggregation shared by both lshRecall routes —
    * one definition so the routes cannot fork on the boundary exprs.
    */
  private def recallBuckets(truth: DataFrame, lsh: DataFrame): DataFrame =
    truth
      .join(lsh, col("la") === col("a") && col("lb") === col("b"), "left")
      .select(
        when(col("jr") < 0.5, "j_030_050")
          .when(col("jr") < 0.7, "j_050_070")
          .otherwise("j_070_100").as("bucket"),
        col("la"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_truth"), count(col("la")).as("n_hit"))
      .withColumn("recall", Num.r4(col("n_hit") * 1.0 / col("n_truth")))

  /** q_dedup_incremental body: the new batch's bands probed against the
    * corpus band index, exact Jaccard at the near-dup threshold.
    * Adaptive: bounded corpora run the cross-set band probe + verify in
    * a driver kernel (integer evidence only, like the others).
    */
  private[queries] def incrementalDedup(s: SparkSession, corpus: DataFrame,
                                        batch: DataFrame): DataFrame = {
    val localEv =
      for {
        corpusSh <- collectShinglesBounded("DedupQueries.incrementalDedup.corpus", corpus)
        batchSh <- collectShinglesBounded("DedupQueries.incrementalDedup.batch", batch)
        cand <- Dedup.candidatePairsAcrossLocal(
          corpusSh.toSeq, batchSh.toSeq, LocalPairBudget)
      } yield {
        val shMap = Dedup.sortedShingleMap(corpusSh.toSeq ++ batchSh.toSeq)
        Dedup.intersectionEvidenceLocal(shMap, cand)
      }
    val jac = localEv match {
      case Some(ev) => evidenceDF(s, ev)
      case None =>
        // cached shingle tables on both sides — the rowwise rewire was
        // tried and reverted here too (see minhashLsh's negative-result
        // note: the variant input is too expensive to scan twice)
        val shC = Dedup.shingleHashes(corpus, col("id"), col("text"), ShingleN)
          .cache()
        val shI = Dedup.shingleHashes(batch, col("id"), col("text"), ShingleN)
          .cache()
        val index = Dedup.bandKeys(Dedup.minhashSignatures(shC))
        val probe = Dedup.bandKeys(Dedup.minhashSignatures(shI))
        val cand = Dedup.candidatePairsAcross(index, probe).cache()
        Dedup.jaccard(cand, shC.unionAll(shI))
    }
    jac.filter(col("jaccard") >= JaccardThreshold)
      .select(col("a").as("corpus_id"), col("b").as("new_id"),
        Num.r4(col("jaccard")).as("jaccard"))
  }

  /** Ids a containment-dedup stage DROPS from `docs` — the composed
    * (funnel/ingest) form of `containmentPairs`. A doc `a` is dropped when
    * >= 80% of its "cool" shingles appear in some larger surviving doc `b`
    * (size tie -> the higher id goes), the quote-inclusion shape the
    * symmetric Jaccard stage structurally misses. "Cool" = shingles in at
    * most `hotPct`% of the corpus: corpus-wide boilerplate must not make
    * unrelated docs contain each other (the span-cut stage owns trimming
    * it), and capping doc-frequency is also the skew guard — without it
    * the h-equijoin squares on the boilerplate shingles (the
    * q_train_eval_contamination precedent). Drops are decided against the
    * PRE-drop corpus simultaneously, so an excerpt is cut even when its
    * container is itself contained in something bigger — deterministic and
    * cheap (no iteration). "At most hotPct%" carries the `ContainHotMin`
    * absolute floor so small corpora keep their df=2 excerpt signal. At
    * 100 TB: one shingle pass, one df groupBy, a candidate equijoin
    * bounded by the cap, and a drop list that is near-dup-sized
    * (broadcastable).
    */
  def containmentDrops(docs: DataFrame, hotPct: Int = ContainHotPct): DataFrame =
    // one bounded driver scalar — the hot cut's denominator (the
    // count-then-use precedent from Similarity's size guard); cheaper than
    // a crossJoin(broadcast(agg)) pair of exchanges
    containmentDropsCounted(docs, hotPct, docs.count())

  /** `containmentDrops` with the corpus count already known — the adaptive
    * front counts to pick its route, so the distributed path must not pay
    * a second scan for the same scalar.
    */
  private def containmentDropsCounted(
      docs: DataFrame, hotPct: Int, nDocs: Long): DataFrame = {
    // The cool-shingle INVERTED INDEX (h, dfh, ids) from ONE corpus-sized
    // exchange, materialized eagerly with its h-partitioning pinned
    // (localCheckpoint preserves outputPartitioning) so the candidate
    // probe below joins it with no further shuffle of corpus-sized data.
    // The r17 plan paid three corpus×shingle exchanges to reach candidates
    // (df groupBy, df-join probe side, per-doc re-explode for the probe);
    // fusing df and the posting list into one aggregation pass and
    // probing the postings directly leaves one.
    val hIds = containmentCoolIndex(docs, hotPct, nDocs).localCheckpoint()
    // Per-doc cool shingles as ONE rarity-sorted array row, rebuilt from
    // the index postings (exactly the (id, h, dfh) rows the old df-join
    // produced — each cool shingle contributes one row per posting).
    // sort_array on (dfh, h) structs is deterministic (h is distinct per
    // doc), so the array prefix IS the rarity-rank prefix the old
    // row_number computed. The exact recount downstream is a per-pair
    // array_intersect — no pair×shingle fan-out.
    val arr = hIds
      .select(explode(col("ids")).as("id"), col("h"), col("dfh"))
      .groupBy(col("id"))
      .agg(transform(sort_array(collect_list(struct(col("dfh"), col("h")))),
        x => x("h")).as("hs"))
      .withColumn("n", size(col("hs")))
      .cache()
    // Prefix-filtered candidate generation (Bayardo et al. 2007 AllPairs /
    // Xiao et al. PPJoin): a pair with containment(a in b) >= 0.8 must
    // share at least one of a's floor(n_a/5)+1 RAREST cool shingles
    // (pigeonhole: missing all of them caps ninter at n_a - floor(n_a/5)-1
    // < 0.8*n_a). Probing only that prefix collapses the candidate join
    // from sum(df_h^2) to sum over rare shingles of df_h — most docs'
    // rarest shingles are df=1 and generate nothing. A pure optimization:
    // the candidate set is a SUPERSET of qualifying pairs and the exact
    // recount below applies the identical final rule, so the DuckDB twin
    // (exhaustive at oracle scale) needs no mirror of it. The probe side
    // is the prefix explode (~n/5 of the corpus×shingle rows); the build
    // side is the checkpointed index, already partitioned on h.
    // SHUFFLE_HASH on the prefix side: under AQE the checkpointed index
    // loses its h-partitioning metadata (AdaptiveSparkPlan reports
    // UnknownPartitioning), so the planner picked a SortMergeJoin that
    // re-shuffled AND SORTED the 2.4M-row posting-list relation — sorting
    // wide array rows for a join whose output needs no order (observed in
    // the 10x executed plan). A shuffled hash join builds on the prefix
    // side — (a, h) pairs, ~n/5 of the cool rows, 16 B each, bounded per
    // partition by the partition-count scaling — and never sorts either
    // side (guide §3.1). No intermediate distinct: duplicate (a, b)
    // candidates only re-prove the same drop and the final
    // `.distinct()` on the drop ids dedups — the extra exchange + AQE
    // stage barrier cost more than the duplicate recounts.
    val cand = arr
      .select(col("id").as("a"),
        explode(slice(col("hs"), lit(1), (col("n") / 5).cast("int") + 1)).as("h"))
      .hint("shuffle_hash")
      .join(hIds.select(col("h"), col("ids")), "h")
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
    // exact intersection count, restricted to candidates: two doc-sized
    // array joins (AQE broadcasts the near-dup-sized cand side) and a
    // codegen'd set intersection per pair — no pair×shingle fan-out
    val drops = cand
      .join(arr.select(col("id").as("a"), col("hs").as("hs_a"), col("n").as("n_a")), "a")
      .join(arr.select(col("id").as("b"), col("hs").as("hs_b"), col("n").as("n_b")), "b")
      .withColumn("ninter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .filter(col("ninter") >= 2)
      .filter(col("ninter") * 5 >= col("n_a") * 4)
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("a") > col("b")))
      .select(col("a").as("id")).distinct()
      // near-dup-sized result, materialized EAGERLY (the verifiedClusters
      // pattern) so the internal arr cache can be released here instead
      // of leaking one pinned entry per call into a long-lived session
      // (the ingest's oversized-batch fallback would otherwise accumulate
      // dead cache entries nothing ever clears)
      .localCheckpoint()
    arr.unpersist()
    drops
  }

  /** The containment stage's cool-shingle inverted index: one row per
    * shingle hash surviving the hot cut, carrying its exact doc-frequency
    * and full posting list — `(h, dfh, ids)`. df and the posting list come
    * out of the SAME aggregation pass, so the corpus×shingle relation is
    * shuffled exactly once here (the plan-guarded claim in PlanSpec; the
    * r17 shape shuffled it separately for the df groupBy and the df-join
    * probe side). The posting list uses `capped_collect_long` bounded at
    * the hot cut itself: any shingle hotter than the cap is dropped by the
    * exact-`dfh` filter before the list is ever read, so the cap is
    * lossless (disjoint partial buffers — see CappedCollectLong's scaladoc
    * for the argument) while bounding every aggregation buffer by
    * ~8*(cap+1) bytes regardless of boilerplate skew — at 100 TB a
    * corpus-wide shingle no longer materializes a billion-id list just to
    * be discarded.
    *
    * Lazy (the caller checkpoints); package-private so PlanSpec can pin
    * the single-exchange shape.
    */
  private[graft] def containmentCoolIndex(
      docs: DataFrame, hotPct: Int, nDocs: Long): DataFrame = {
    val cap = math.min(
      math.max(ContainHotMin.toLong, nDocs * hotPct / 100),
      (Int.MaxValue - 1).toLong).toInt
    Dedup.shingleHashes(docs, col("id"), col("text"), ShingleN)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("dfh"),
        org.apache.spark.sql.graft.ArrayExpressions
          .cappedCollectLong(col("id"), cap).as("ids"))
      .filter(col("dfh") <= ContainHotMin ||
        col("dfh") * 100 <= nDocs * hotPct)
  }

  /** Adaptive front for `containmentDrops` — the connectedComponentsAdaptive
    * pattern applied to the containment stage: a corpus within
    * `Route.Docs` collects its (id, distinct-shingle-array) rows (the
    * arrays come out of the same codegen'd expression the distributed plan
    * explodes) and runs the driver-local kernel, which replaces the
    * distributed stage's ~8 jobs (count, df groupBy, array build, candidate
    * probe, recount, checkpoint) with ONE collect job — at sf0.1 the funnel
    * corpus is ~7k docs and those jobs are pure scheduling overhead. Past
    * the bound the distributed plan runs unchanged; the two agree exactly
    * (SamplingContainmentSpec drives both through randomized corpora).
    * The route decision is a count (not the former limit-collect probe,
    * which shipped 20k shingle arrays to the driver just to learn the
    * corpus was too big — ~1 s wasted per distributed-path call at the
    * 10x tier), and the count is passed into the distributed path so the
    * stage never scans the corpus twice for its own denominator.
    */
  def containmentDropsAdaptive(docs: DataFrame,
      hotPct: Int = ContainHotPct): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nDocs = docs.count()
    if (Route.admits("DedupQueries.containmentDropsAdaptive", Route.Docs, nDocs)) {
      val drops = containmentDropIdsLocal(collectShingles(docs).toSeq, hotPct)
      spark.createDataset(drops.toSeq).toDF("id")
    } else containmentDropsCounted(docs, hotPct, nDocs)
  }

  /** Driver-local kernel computing EXACTLY `containmentDrops`' result over
    * an in-memory (id, distinct shingle hashes) batch — the
    * connectedComponentsAdaptive pattern: a micro-batch-bounded consumer
    * (the ingest guard, which already collects every decided row for its
    * decision log) should not pay ~10 AQE stage materializations for a
    * thousand-doc batch. Same hot cut, same prefix filter (rarest
    * floor(n/5)+1 cool shingles — identical integer arithmetic to the
    * Spark plan's `rk <= n/5 + 1`), same final rule and tie-break;
    * SamplingContainmentSpec holds the two implementations equal on
    * randomized corpora.
    */
  def containmentDropIdsLocal(docShingles: Seq[(Long, Seq[Long])],
      hotPct: Int = ContainHotPct): Set[Long] = {
    val n = docShingles.size
    val df = new scala.collection.mutable.HashMap[Long, Int]()
    for ((_, hs) <- docShingles; h <- hs)
      df.update(h, df.getOrElse(h, 0) + 1)
    def isCool(h: Long): Boolean = {
      val d = df(h); d <= ContainHotMin || d.toLong * 100 <= n.toLong * hotPct
    }
    val cool = docShingles.map { case (id, hs) =>
      (id, hs.filter(isCool).sortBy(h => (df(h), h)).toArray)
    }
    val coolSet = cool.map { case (id, hs) => id -> hs.toSet }.toMap
    val inv = new scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]()
    for ((id, hs) <- cool; h <- hs)
      inv.getOrElseUpdate(h, new scala.collection.mutable.ArrayBuffer[Long]()) += id
    val drops = Set.newBuilder[Long]
    for ((a, hs) <- cool) {
      val na = hs.length
      val sa = coolSet(a)
      val cands = hs.iterator.take(na / 5 + 1)
        .flatMap(h => inv(h)).filter(_ != a).toSet
      val dropped = cands.exists { b =>
        val nb = coolSet(b).size
        (na < nb || (na == nb && a > b)) && {
          val ninter = sa.count(coolSet(b).contains)
          ninter >= 2 && ninter * 5 >= na * 4
        }
      }
      if (dropped) drops += a
    }
    drops.result()
  }

  /** DuckDB twin of `containmentDrops` over an arbitrary (id, h) distinct-
    * shingle CTE `shFrom` whose docs live in `docsFrom` — emits prefixed
    * CTEs ending in `<prefix>drop(id)`. One place for the 80%/hot-cap/
    * tie-break contract, shared by the funnel oracle and any future
    * composed consumer.
    */
  def containmentDropSql(shFrom: String, docsFrom: String, prefix: String,
      hotPct: Int = ContainHotPct): String =
    s"""${prefix}cool AS (
       |  SELECT s.id, s.h FROM $shFrom s
       |  JOIN (SELECT h, count(*) AS df FROM $shFrom GROUP BY h) d ON d.h = s.h
       |  WHERE d.df <= $ContainHotMin
       |     OR d.df * 100 <= (SELECT count(*) FROM $docsFrom) * $hotPct),
       |${prefix}n AS (SELECT id, count(*) AS n FROM ${prefix}cool GROUP BY id),
       |${prefix}inter AS (
       |  SELECT x.id AS a, y.id AS b, count(*) AS ninter
       |  FROM ${prefix}cool x JOIN ${prefix}cool y
       |    ON x.h = y.h AND x.id <> y.id
       |  GROUP BY x.id, y.id HAVING count(*) >= 2),
       |${prefix}drop AS (
       |  SELECT DISTINCT i.a AS id FROM ${prefix}inter i
       |  JOIN ${prefix}n na ON na.id = i.a
       |  JOIN ${prefix}n nb ON nb.id = i.b
       |  WHERE i.ninter * 5 >= na.n * 4
       |    AND (na.n < nb.n OR (na.n = nb.n AND i.a > i.b)))""".stripMargin

  /** Prefix-filtered twin of `containmentDropSql` — same `${prefix}drop`
    * result, but candidates come from the AllPairs rarity-prefix filter
    * instead of the exhaustive cool-shingle self-join, whose pair
    * enumeration reaches Σ df² ≈ 1e9 aggregate rows at the 5M-doc tier
    * (the r17 1000x bound). Used by the STAGED funnel oracle at scale
    * tiers; the composed sf0.01 oracle keeps the exhaustive form, so the
    * small-scale gate stays algorithm-independent.
    *
    * Why this does NOT weaken the oracle — the filter is provably
    * lossless, not approximate. A drop requires ninter * 5 >= n_a * 4,
    * i.e. `a` shares all but at most floor(n_a / 5) of its n_a cool
    * shingles with `b`. The prefix is a's floor(n_a / 5) + 1 RAREST cool
    * shingles under the total order (df, h) — one more than the most `a`
    * can be missing — so by pigeonhole at least one prefix shingle of `a`
    * is also a (necessarily cool — coolness is a global per-shingle
    * predicate) shingle of `b`, and the pair surfaces in the candidate
    * equijoin. The exact `list_intersect` recount then applies the
    * identical final rule, so the qualifying-drop set is EXACTLY the
    * exhaustive form's. Shapes are all bounded: the per-doc sorted-list
    * aggregation replaces the window sort (group-local sorts of ~50
    * elements), the candidate join cost is Σ over prefix shingles of
    * df(h) — rare shingles by construction — and the recount touches
    * candidate pairs only (list intersections of doc-bounded arrays, no
    * pair×shingle fan-out, no 3-way join for the optimizer to re-order
    * into the Σ df² shape).
    */
  def containmentDropPrefixSql(shFrom: String, docsFrom: String, prefix: String,
      hotPct: Int = ContainHotPct): String =
    s"""${prefix}cool AS MATERIALIZED (
       |  SELECT s.id, s.h, d.df FROM $shFrom s
       |  JOIN (SELECT h, count(*) AS df FROM $shFrom GROUP BY h) d ON d.h = s.h
       |  WHERE d.df <= $ContainHotMin
       |     OR d.df * 100 <= (SELECT count(*) FROM $docsFrom) * $hotPct),
       |${prefix}arr AS MATERIALIZED (
       |  SELECT id, list(h ORDER BY df, h) AS hs, count(*) AS n
       |  FROM ${prefix}cool GROUP BY id),
       |${prefix}pref AS (
       |  SELECT id AS a, unnest(list_slice(hs, 1, n // 5 + 1)) AS h
       |  FROM ${prefix}arr),
       |${prefix}cand AS MATERIALIZED (
       |  SELECT DISTINCT p.a, c.id AS b
       |  FROM ${prefix}pref p JOIN ${prefix}cool c ON c.h = p.h AND c.id <> p.a),
       |${prefix}inter AS MATERIALIZED (
       |  SELECT cd.a, cd.b, len(list_intersect(aa.hs, ab.hs)) AS ninter,
       |         aa.n AS n_a, ab.n AS n_b
       |  FROM ${prefix}cand cd
       |  JOIN ${prefix}arr aa ON aa.id = cd.a
       |  JOIN ${prefix}arr ab ON ab.id = cd.b),
       |${prefix}drop AS (
       |  SELECT DISTINCT a AS id FROM ${prefix}inter
       |  WHERE ninter >= 2 AND ninter * 5 >= n_a * 4
       |    AND (n_a < n_b OR (n_a = n_b AND a > b)))""".stripMargin

  private def withFirstWordReplaced(s: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    base(s, dir).unionAll(
      base(s, dir).filter(col("id") % 5 === 0)
        .select((col("id") + IdOffset).as("id"),
          concat_ws(" ",
            concat(array(lit("zzzz")), slice(ws, lit(2), size(ws) - 1))).as("text")))
  }

  // ----- variant inputs (DuckDB CTE `base(id, text)`) -----

  private val wsSql = TextOps.wordsSql("text")

  private val exactBaseSql =
    s"""base AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** The truncated-variant id SET, for oracles that must tell corpus
    * docs from synthetic probe docs. Round-14 lesson (caught by the 10x
    * materialized-tier oracle gate): the old predicate was MAGNITUDE
    * (`id >= IdOffset`), which silently reclassified every replica-
    * stride doc_id (MakeTier offsets ids by 1e9 per replica) as a probe
    * doc — 55,000 oracle rows vs 10,000 real probe docs. Membership in
    * the explicitly-constructed variant id set is id-scale-free.
    */
  private[queries] val truncatedVidsSql =
    s"""vids AS (
       |  SELECT doc_id + $IdOffset AS id FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  private[queries] val truncatedBaseSql =
    s"""base AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset,
       |         array_to_string(ws[1:CAST(ceil(len(ws) / 2.0) AS INT)], ' ')
       |  FROM (SELECT doc_id, $wsSql AS ws FROM documents WHERE doc_id % 5 = 0))""".stripMargin

  private val sharedPrefixBaseSql = {
    val fillerSql = (1 to FillerWords)
      .map(i => s"' f${i}x' || CAST(doc_id AS VARCHAR)").mkString(" || ")
    s"""base AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset, text || $fillerSql
       |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin
  }

  private val excerptBaseSql =
    s"""base AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset,
       |         array_to_string(ws[1:CAST(ceil(len(ws) / 5.0) AS INT)], ' ')
       |  FROM (SELECT doc_id, $wsSql AS ws FROM documents WHERE doc_id % 7 = 0)
       |  WHERE len(ws) >= $ExcerptMinWords)""".stripMargin

  private val firstWordBaseSql =
    s"""base AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset,
       |         array_to_string(list_concat(['zzzz'], ws[2:len(ws)]), ' ')
       |  FROM (SELECT doc_id, $wsSql AS ws FROM documents WHERE doc_id % 5 = 0))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy, min id wins.
    QueryDef(
      "q_dedup_exact",
      s"""WITH $exactBaseSql
         |SELECT md5(text) AS text_hash, min(id) AS keep_id, count(*) AS n_copies
         |FROM base GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      Dedup.exact(withExactCopies(s, dir), col("id"), col("text"))
    },

    // MinHash signatures (checked directly: 12 min-hash values per doc).
    QueryDef(
      "q_minhash_signatures",
      s"""WITH $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql}
         |SELECT * FROM sig""".stripMargin) { (s, dir) =>
      Dedup.minhashSignatures(
        Dedup.shingleHashes(withTruncatedCopies(s, dir), col("id"), col("text"), ShingleN))
    },

    // MinHash + LSH banding + exact-Jaccard verify: the scalable near-dup
    // pipeline end-to-end. Emits verified pairs with Jaccard >= 0.35.
    QueryDef(
      "q_dedup_minhash_lsh",
      s"""WITH $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.candidateSql},
         |${Dedup.jaccardSql}
         |SELECT a, b, round(jaccard + 0.00000025, 4) AS jaccard
         |FROM jac WHERE jaccard >= 0.35""".stripMargin) { (s, dir) =>
      minhashLsh(s, withTruncatedCopies(s, dir))
    },

    // n-gram Jaccard via inverted-index join: candidate pairs = docs
    // sharing >= 2 shingles (no LSH), then exact Jaccard >= 0.3.
    QueryDef(
      "q_dedup_ngram_jaccard",
      s"""WITH $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.invertedCandSqlAs("cand", 2)},
         |${Dedup.jaccardSql}
         |SELECT a, b, round(jaccard + 0.00000025, 4) AS jaccard
         |FROM jac WHERE jaccard >= 0.3""".stripMargin) { (s, dir) =>
      ngramJaccard(s, withTruncatedCopies(s, dir))
    },

    // LSH candidate recall per similarity bucket — the b/r tuning table:
    // banding theory says candidate probability follows an S-curve in
    // true Jaccard (1-(1-s^r)^b), so an index deployment reads THIS table
    // to pick Bands×RowsPerBand for its threshold. Truth = the inverted-
    // index pairs (>= 2 shared shingles, exact Jaccard >= 0.3 — the same
    // truth set q_dedup_ngram_jaccard emits, which is complete for the
    // eval range since j >= 0.3 on non-trivial docs forces shared
    // shingles); hit = the pair also surfaces as an LSH band-bucket
    // candidate. Rounds out the index-quality family (q_ann_ivf_recall /
    // q_pq_recall / q_ivfpq_recall measure the ANN indexes the same way).
    // At 100 TB this runs on a SAMPLE (the truth side is inverted-index-
    // bounded, not corpus²) — an offline index-tuning pass, not a per-run
    // cost.
    QueryDef(
      "q_dedup_lsh_recall",
      s"""WITH $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.invertedCandSqlAs("cand", 2)},
         |${Dedup.jaccardSql},
         |${Dedup.candidateSqlAs("lshcand")},
         |truth AS (
         |  SELECT a, b, round(jaccard + 0.00000025, 4) AS jr
         |  FROM jac WHERE jaccard >= 0.3)
         |SELECT bucket, n_truth, n_hit,
         |       round(n_hit * 1.0 / n_truth + 0.00000025, 4) AS recall
         |FROM (
         |  SELECT CASE WHEN t.jr < 0.5 THEN 'j_030_050'
         |              WHEN t.jr < 0.7 THEN 'j_050_070'
         |              ELSE 'j_070_100' END AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_truth,
         |         CAST(count(l.a) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN lshcand l ON l.a = t.a AND l.b = t.b
         |  GROUP BY 1)""".stripMargin) { (s, dir) =>
      lshRecall(s, withTruncatedCopies(s, dir))
    },

    // n-gram CONTAINMENT — the asymmetric twin of q_dedup_ngram_jaccard:
    // |A∩B| / |A| over the same shingle inverted index, emitting directed
    // pairs (a contained in b) at containment >= 0.8. Catches excerpts,
    // quote inclusions, and sub-documents whose symmetric Jaccard sits far
    // below any sane near-dup cut (the variant corpus's 20% excerpts score
    // containment 1.0 / Jaccard ~0.2). Threshold is an integer
    // cross-multiplication (5*ninter >= 4*nA) — no float compare in the
    // keep decision. Shape: one inverted-index equijoin on shingle hash +
    // one per-doc count groupBy + a pair-sized metric projection — the
    // contamination query's scale story (hot-shingle cap, Bloom pre-join)
    // applies verbatim if the corpus has boilerplate-heavy shingles.
    QueryDef(
      "q_dedup_containment",
      s"""WITH $excerptBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |nsh AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS ninter
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.id <> y.id
         |  GROUP BY x.id, y.id HAVING count(*) >= 2)
         |SELECT a, b,
         |       ${Num.r4Sql("ninter * 1.0 / na.n")} AS containment,
         |       ${Num.r4Sql("ninter * 1.0 / (na.n + nb.n - ninter)")} AS jaccard
         |FROM inter JOIN nsh na ON na.id = a JOIN nsh nb ON nb.id = b
         |WHERE 5 * ninter >= 4 * na.n""".stripMargin) { (s, dir) =>
      containmentPairs(withExcerptCopies(s, dir))
    },

    // Dedup clustering: connected components over the verified MinHash
    // near-dup pairs — the step that turns pairwise evidence into "keep
    // one doc per cluster" (cluster = numerically-smallest member id).
    // Oracle: recursive min-label propagation; Spark: the same iterative
    // propagation operator the CDP identity graph uses (Identity.scala).
    QueryDef(
      "q_dedup_clusters",
      s"""WITH RECURSIVE $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.candidateSql},
         |${Dedup.jaccardSql},
         |${Dedup.vpairsSql(JaccardThreshold)},
         |${Dedup.clustersSql}
         |SELECT id, cluster, count(*) OVER (PARTITION BY cluster) AS n_cluster
         |FROM clusters""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      verifiedClusters(s, withTruncatedCopies(s, dir))
        .select(col("node").as("id"), col("component").as("cluster"))
        .withColumn("n_cluster", count(lit(1)).over(Window.partitionBy(col("cluster"))))
    },

    // Near-dup survivors: the step that turns cluster evidence into the
    // DEDUPED CORPUS — keep every unclustered doc plus the
    // numerically-smallest member of each near-dup cluster. Shape: the
    // cluster mapping (tiny: only docs with a verified near-dup) is
    // aggregated to per-cluster keepers and anti/semi-joined against the
    // corpus id set — at 100 TB the mapping broadcasts and the decision
    // is map-side against the full corpus scan.
    QueryDef(
      "q_dedup_survivors",
      s"""WITH RECURSIVE $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.candidateSql},
         |${Dedup.jaccardSql},
         |${Dedup.vpairsSql(JaccardThreshold)},
         |${Dedup.clustersSql},
         |keepers AS (SELECT cluster, min(id) AS keeper FROM clusters GROUP BY cluster)
         |SELECT b.id,
         |       CAST(CASE WHEN c.id IS NULL OR k.keeper = b.id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM base b
         |LEFT JOIN clusters c ON c.id = b.id
         |LEFT JOIN keepers k ON k.cluster = c.cluster""".stripMargin) { (s, dir) =>
      val ids = withTruncatedCopies(s, dir).select(col("id"))
      val clusters = verifiedClusters(s, withTruncatedCopies(s, dir))
        .select(col("node").as("cid"), col("component").as("cluster"))
      val keepers = clusters.groupBy(col("cluster")).agg(min(col("cid")).as("keeper"))
      ids
        .join(broadcast(clusters), col("id") === col("cid"), "left")
        .join(broadcast(keepers), Seq("cluster"), "left")
        .select(col("id"),
          when(col("cid").isNull || col("keeper") === col("id"), 1L)
            .otherwise(0L).as("kept"))
    },

    // Quality-aware keeper selection — the FineWeb/RefinedWeb curation
    // policy: within each near-dup cluster keep the HIGHEST-QUALITY
    // member (the r4-gridded q_text_quality score; exact grid ties break
    // to the smallest id), not the numerically smallest — min-id keeps
    // whichever variant happened to sort first, quality-keeper keeps the
    // fullest/cleanest one (here: originals beat their truncated copies,
    // whose length term is halved). Shape is q_dedup_survivors' exactly —
    // the cluster mapping and keeper table stay near-dup-sized and
    // broadcast; quality is a map-side scan expression; at 100 TB the
    // decision is one broadcast-join pass over the corpus.
    QueryDef(
      "q_dedup_keeper_quality",
      s"""WITH RECURSIVE $truncatedBaseSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.candidateSql},
         |${Dedup.jaccardSql},
         |${Dedup.vpairsSql(JaccardThreshold)},
         |${Dedup.clustersSql},
         |${TextAnalytics.qualityChainSql("base", "id")},
         |ranked AS (
         |  SELECT c.id, c.cluster,
         |         row_number() OVER (PARTITION BY c.cluster
         |                            ORDER BY q.quality DESC, c.id) AS rn
         |  FROM clusters c JOIN qscore q ON q.id = c.id),
         |qkeepers AS (SELECT cluster, id AS keeper FROM ranked WHERE rn = 1)
         |SELECT b.id, q.quality,
         |       CAST(CASE WHEN c.id IS NULL OR k.keeper = b.id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM base b
         |JOIN qscore q ON q.id = b.id
         |LEFT JOIN clusters c ON c.id = b.id
         |LEFT JOIN qkeepers k ON k.cluster = c.cluster""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val corpus = withTruncatedCopies(s, dir)
      val clusters = verifiedClusters(s, corpus)
        .select(col("node").as("cid"), col("component").as("cluster"))
      // ONE quality scan (the score carries a regexp_extract_all over the
      // full text — the expensive expression here): cache the scored
      // projection and slice the cluster members out of it, instead of
      // re-scoring the corpus separately for the keeper ranking
      val qual = TextAnalytics.qualityScored(corpus)
        .select(col("id"), col("quality")).cache()
      val memberQuality = qual
        .join(broadcast(clusters.select(col("cid").as("id"))),
          Seq("id"), "left_semi")
        .select(col("id").as("cid"), col("quality"))
      val keepers = clusters
        .join(memberQuality, "cid")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("quality").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("cid").as("keeper"))
      qual
        .join(broadcast(clusters), col("id") === col("cid"), "left")
        .join(broadcast(keepers), Seq("cluster"), "left")
        .select(col("id"), col("quality"),
          when(col("cid").isNull || col("keeper") === col("id"), 1L)
            .otherwise(0L).as("kept"))
    },

    // Incremental corpus-extension dedup — the production shape: the
    // corpus's LSH band table is a PERSISTED INDEX (in production written
    // once, bucketed on (band, key)); a new batch probes it, so the cost
    // of admitting a batch is the batch's band rows joined against the
    // index plus exact verification on candidates — never a re-pass over
    // the corpus. Oracle: same pairs via the combined self-join filtered
    // to (corpus, new) — identical because ids are disjoint and ordered.
    QueryDef(
      "q_dedup_incremental",
      s"""WITH $truncatedBaseSql,
         |$truncatedVidsSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |${Dedup.candidateSql},
         |${Dedup.jaccardSql}
         |SELECT a AS corpus_id, b AS new_id,
         |       round(jaccard + 0.00000025, 4) AS jaccard
         |FROM jac
         |WHERE jaccard >= $JaccardThreshold
         |  AND a NOT IN (SELECT id FROM vids)
         |  AND b IN (SELECT id FROM vids)""".stripMargin) { (s, dir) =>
      incrementalDedup(s, base(s, dir), truncatedCopiesOnly(s, dir))
    },

    // Doc-level near-dup ADMIT over the persisted index — the oracle-
    // checked semantics of the served `/corpus/ingest` band guard: each
    // probe doc's bands come from the PER-ROW signature path (map-only,
    // the one the served admit uses; parity with the groupBy path is
    // exactly what the oracle certifies, since the SQL side computes
    // registers via GROUP BY), and a doc is admitted iff NO corpus band
    // bucket matched. Here the hits are the candidatePairsAcross
    // equijoin; the served admit answers the same band-key membership by
    // binary search over its resident packed index
    // (CurationPipeline.corpusBandHits), which CompactionSpec holds equal
    // to set membership over the index files.
    QueryDef(
      "q_neardup_admit",
      s"""WITH $truncatedBaseSql,
         |$truncatedVidsSql,
         |${Dedup.shingleSql(ShingleN)},
         |${Dedup.signatureSql},
         |${Dedup.bandsSql},
         |hits AS (
         |  SELECT DISTINCT l.id AS a, r.id AS b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.key = r.key
         |   AND l.id NOT IN (SELECT id FROM vids)
         |   AND r.id IN (SELECT id FROM vids)),
         |nh AS (SELECT b AS id, CAST(count(*) AS BIGINT) AS n_hits
         |       FROM hits GROUP BY b)
         |SELECT p.id, COALESCE(nh.n_hits, 0) AS n_hits,
         |       nh.id IS NULL AS admitted
         |FROM vids p
         |LEFT JOIN nh ON nh.id = p.id""".stripMargin) { (s, dir) =>
      val index = Dedup.bandKeys(Dedup.minhashSignatures(
        Dedup.shingleHashes(base(s, dir), col("id"), col("text"), ShingleN)))
      val probe = truncatedCopiesOnly(s, dir)
      val probeBands = Dedup.bandKeys(
        Dedup.minhashSignaturesRowwise(probe, col("id"), col("text"), ShingleN))
      val nh = Dedup.candidatePairsAcross(index, probeBands)
        .groupBy(col("b")).agg(count(lit(1)).as("n_hits"))
        .withColumnRenamed("b", "id")
      probe.select(col("id"))
        .join(nh, Seq("id"), "left")
        .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("n_hits").isNull.as("admitted"))
    },

    // SimHash signatures + chunk-blocked near-identical pairs (ham <= 3).
    QueryDef(
      "q_dedup_simhash",
      s"""WITH $firstWordBaseSql,
         |${Dedup.simhashSql},
         |${Dedup.simhashPairsSql(3)}
         |SELECT a, b, ham FROM simpairs WHERE ham <= 3""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(withFirstWordReplaced(s, dir), col("id"), col("text")),
        maxHam = 3)
    },

    // Duplicated-span coverage (ExactSubstr dedup, Lee et al. 2021,
    // re-expressed over word 6-grams): per doc, how many of its tokens sit
    // inside a span that also occurs verbatim in ANOTHER doc. Unlike the
    // pairwise dedup family this is LINEAR in corpus size — spans explode
    // map-side (ShingleHashSeq), the duplicated-hash set is one groupBy on
    // h, marking is a semi-join back, and coverage is a per-doc interval
    // union (lead window + clamp), never doc x doc. A span shared by
    // thousands of docs costs its occurrence count, not its pair count —
    // the 100 TB shape; the raw corpus carries real cross-doc spans.
    QueryDef(
      "q_dedup_spans",
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
         |${Dedup.shinglePosSql(SpanN)},
         |duph AS (
         |  SELECT h FROM (SELECT h, count(DISTINCT id) AS nd FROM spans GROUP BY h)
         |  WHERE nd >= 2),
         |starts AS (SELECT id, pos FROM spans JOIN duph USING (h)),
         |cov AS (
         |  SELECT id, pos, lead(pos) OVER (PARTITION BY id ORDER BY pos) AS nxt
         |  FROM starts),
         |per_doc AS (
         |  SELECT id, count(*) AS n_dup_starts,
         |         sum(CASE WHEN nxt IS NULL OR nxt - pos >= $SpanN
         |                  THEN $SpanN ELSE nxt - pos END) AS n_dup_tokens
         |  FROM cov GROUP BY id),
         |totals AS (SELECT doc_id, len($wsSql) AS n_words FROM documents)
         |SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
         |       CAST(COALESCE(p.n_dup_starts, 0) AS BIGINT) AS n_dup_starts,
         |       CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |       round(COALESCE(p.n_dup_tokens, 0) * 1.0 / t.n_words
         |             + 0.00000025, 4) AS dup_frac
         |FROM totals t LEFT JOIN per_doc p ON p.id = t.doc_id""".stripMargin) { (s, dir) =>
      dupSpans(Tables.documents(s, dir))
    },

    // Span-LENGTH evidence (the second half of ExactSubstr): per doc, the
    // maximal verbatim shared runs — consecutive duplicated-6-gram starts
    // p..q cover tokens p..q+5, so a run of k consecutive starts is a
    // k+5-token verbatim region. gaps-and-islands (pos - row_number, both
    // doc-partitioned windows) keeps it occurrence-linear like
    // q_dedup_spans; `cut50` is the standard 50-token-verbatim cut a
    // curation pass applies (Lee et al. 2021).
    QueryDef(
      "q_dedup_span_runs",
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
         |${Dedup.shinglePosSql(SpanN)},
         |duph AS (
         |  SELECT h FROM (SELECT h, count(DISTINCT id) AS nd FROM spans GROUP BY h)
         |  WHERE nd >= 2),
         |starts AS (SELECT id, pos FROM spans JOIN duph USING (h)),
         |runs AS (
         |  SELECT id, pos - row_number() OVER (PARTITION BY id ORDER BY pos)
         |           AS island
         |  FROM starts),
         |islands AS (
         |  SELECT id, count(*) AS cnt FROM runs GROUP BY id, island),
         |per_doc AS (
         |  SELECT id, count(*) AS n_runs,
         |         max(cnt + ${SpanN - 1}) AS longest
         |  FROM islands GROUP BY id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(p.n_runs, 0) AS BIGINT) AS n_runs,
         |       CAST(COALESCE(p.longest, 0) AS BIGINT) AS longest_run_tokens,
         |       COALESCE(p.longest, 0) >= $CutTokens AS cut50
         |FROM documents d LEFT JOIN per_doc p ON p.id = d.doc_id""".stripMargin) {
      (s, dir) => spanRuns(Tables.documents(s, dir))
    },

    // The ExactSubstr CUT materialized (the consumer of q_dedup_span_runs'
    // evidence — together they are the full Lee-et-al. pipeline): tokens
    // inside any >= 50-token verbatim shared run are removed; a doc
    // trimmed below 20 remaining tokens is dropped. Occurrence-linear like
    // the other span queries: long runs are islands of consecutive
    // duplicated-6-gram starts (gaps-and-islands), and the removed-token
    // count is the same fixed-width interval union (lead + clamp) the
    // coverage query uses, restricted to starts inside long islands — the
    // clamp makes overlap between adjacent long runs exact, never
    // double-counted. Per-doc output is the cleaned-corpus manifest:
    // keep / trim (with exact kept-token count) / drop. Input is the
    // shared-prefix variant corpus (see withSharedPrefixCopies) so all
    // three actions genuinely occur — the raw corpus's long runs only
    // come from near-total duplicates, which never trim.
    QueryDef(
      "q_dedup_span_survivors",
      s"""WITH $sharedPrefixBaseSql,
         |${Dedup.shinglePosSql(SpanN)},
         |${spanCutSql("")},
         |totals AS (SELECT id AS doc_id, len($wsSql) AS n_words FROM base)
         |SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
         |       CAST(COALESCE(c.n_cut, 0) AS BIGINT) AS n_cut_tokens,
         |       CAST(t.n_words - COALESCE(c.n_cut, 0) AS BIGINT) AS n_kept_tokens,
         |       CASE WHEN COALESCE(c.n_cut, 0) = 0 THEN 'keep'
         |            WHEN t.n_words - COALESCE(c.n_cut, 0) < $MinKeepTokens THEN 'drop'
         |            ELSE 'trim' END AS action
         |FROM totals t LEFT JOIN cut c ON c.id = t.doc_id""".stripMargin) { (s, dir) =>
      spanSurvivors(
        withSharedPrefixCopies(s, dir).select(col("id").as("doc_id"), col("text")))
    },

    // Source-level (corpus-vs-corpus) similarity matrix: each source's
    // shingle SET gets a 12-register MinHash signature — the registers are
    // MERGEABLE (signature of a union = elementwise min), so at 100 TB
    // per-day/per-shard signatures fold into per-source ones without ever
    // rescanning raw text, and the pairwise overlap audit between any two
    // corpora costs 12 integer compares. The exact Jaccard runs alongside
    // as the eval: an inverted-index equijoin on the shingle hash whose
    // cost is sum_h k_h^2 with k_h <= |sources| (occurrence-bounded, never
    // |docs|^2), aggregated map-side to a sources^2-sized table. All
    // pairwise joins after aggregation are over source-cardinality inputs
    // (bounded, broadcast).
    QueryDef(
      "q_source_similarity", {
        val agreeSql = (0 until Dedup.NumHashes)
          .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
          .mkString(" +\n         ")
        // shingles MUST be computed per doc (shinglePosSql windows by id,
        // and a source-keyed id would let lead() cross doc boundaries);
        // the source-level set is the doc-level set mapped through
        // doc -> source and dedup'd
        s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
           |${Dedup.shingleSql(ShingleN)},
           |ssh AS (
           |  SELECT DISTINCT d.source AS id, sh.h
           |  FROM sh JOIN documents d ON d.doc_id = sh.id),
           |${Dedup.signatureSql("ssh")},
           |sz AS (SELECT id, count(*) AS sz FROM ssh GROUP BY id),
           |inter AS (
           |  SELECT x.id AS a, y.id AS b, count(*) AS n_common
           |  FROM ssh x JOIN ssh y ON x.h = y.h AND x.id < y.id
           |  GROUP BY x.id, y.id),
           |agree AS (
           |  SELECT l.id AS a, r.id AS b,
           |         $agreeSql AS n_agree
           |  FROM sig l JOIN sig r ON l.id < r.id),
           |pairs AS (
           |  SELECT sa.id AS a, sb.id AS b, sa.sz AS sz_a, sb.sz AS sz_b
           |  FROM sz sa JOIN sz sb ON sa.id < sb.id)
           |SELECT p.a AS source_a, p.b AS source_b,
           |       CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
           |       CAST(p.sz_a + p.sz_b - COALESCE(i.n_common, 0) AS BIGINT) AS n_union,
           |       ${Num.r4Sql(
                     "COALESCE(i.n_common, 0) * 1.0 / (p.sz_a + p.sz_b - COALESCE(i.n_common, 0))")}
           |         AS true_jaccard,
           |       CAST(g.n_agree AS BIGINT) AS n_agree,
           |       ${Num.r4Sql(s"g.n_agree * 1.0 / ${Dedup.NumHashes}")} AS est_jaccard
           |FROM pairs p
           |LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
           |JOIN agree g ON g.a = p.a AND g.b = p.b""".stripMargin
      }) { (s, dir) =>
      sourceSimilarity(s, Tables.documents(s, dir))
    },

    // Exact-dedup token savings per source (round-14): the dedup
    // IMPACT report a curation pipeline publishes next to the dedup
    // itself — for each source, how many documents and how many tokens
    // the keeper policy (min id per content hash, q_dedup_exact's rule)
    // removes, and the savings rate in integer ppm (BIGINT floor
    // division — deterministic in any accumulation order; int64
    // headroom to ~9e12 tokens per source, the Num.cents DECIMAL swap
    // applies beyond). Runs over the same exact-copy-augmented corpus
    // as q_dedup_exact so the report has real mass at every SF. Shapes:
    // one groupBy(md5) keeper map (map-side combine), one equijoin on
    // the hash (AQE-broadcast at bench scale, the exact-dedup shuffle
    // at 100 TB), one per-source agg.
    QueryDef(
      "q_dedup_token_savings",
      s"""WITH sbase AS MATERIALIZED (
         |  SELECT doc_id AS id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $IdOffset, source, text
         |  FROM documents WHERE doc_id % 10 = 0),
         |k AS (
         |  SELECT md5(text) AS h, min(id) AS keep
         |  FROM sbase GROUP BY md5(text)),
         |j AS (
         |  SELECT b.source,
         |         CAST(len(${TextOps.wordsSql("b.text")}) AS BIGINT) AS nw,
         |         CASE WHEN b.id != k.keep THEN 1 ELSE 0 END AS rm
         |  FROM sbase b JOIN k ON md5(b.text) = k.h)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(rm) AS BIGINT) AS n_removed,
         |       CAST(sum(nw) AS BIGINT) AS tokens_total,
         |       CAST(sum(rm * nw) AS BIGINT) AS tokens_removed,
         |       CAST(sum(rm * nw) AS BIGINT) * 1000000
         |         // CAST(sum(nw) AS BIGINT) AS savings_ppm
         |FROM j GROUP BY source""".stripMargin) { (s, dir) =>
      dedupTokenSavings(Tables.documents(s, dir))
    })

  /** q_dedup_token_savings body over an arbitrary documents relation
    * (doc_id, source, text): per-source exact-dedup impact under the
    * min-id keeper rule, over the same exact-copy augmentation as
    * q_dedup_exact.
    */
  def dedupTokenSavings(docs: DataFrame): DataFrame = {
    // base feeds the keeper map AND the join side — cache so the
    // augmented corpus materializes once (at scale: persist per pass).
    // The per-source result is aggregate-small, so it materializes
    // eagerly and base unpersists before return (SmallResult) — no
    // pinned-storage obligation leaks to the caller.
    val base = docs.select(col("doc_id").as("id"), col("source"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + IdOffset).as("id"), col("source"), col("text")))
      .cache()
    val keep = base.groupBy(md5(col("text")).as("h")).agg(min(col("id")).as("keep"))
    val out = base.withColumn("h", md5(col("text")))
      .join(keep, "h")
      .select(col("source"),
        size(TextOps.words(col("text"))).cast("long").as("nw"),
        when(col("id") =!= col("keep"), 1L).otherwise(0L).as("rm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("rm")).as("n_removed"),
        sum(col("nw")).as("tokens_total"),
        sum(col("rm") * col("nw")).as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        expr("tokens_removed * CAST(1000000 AS BIGINT) div tokens_total")
          .as("savings_ppm"))
    SmallResult(out, base)
  }

  /** The ExactSubstr cut CTE chain `${p}spans` -> `${p}cut(id, n_cut)`:
    * duplicated-start marking, gaps-and-islands, long-island selection,
    * and the lead+clamp interval union — ONE place for the cut arithmetic,
    * shared by q_dedup_span_survivors (no prefix) and the curation
    * funnel ("s2_"), mirroring `spanSurvivors` on the Spark side.
    */
  private[queries] def spanCutSql(p: String): String =
    s"""${p}duph AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT id) AS nd FROM ${p}spans GROUP BY h)
       |  WHERE nd >= 2),
       |${p}starts AS (SELECT id, pos FROM ${p}spans JOIN ${p}duph USING (h)),
       |${p}runs AS (
       |  SELECT id, pos,
       |         pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS island
       |  FROM ${p}starts),
       |${p}islands AS (
       |  SELECT id, island, count(*) AS cnt, min(pos) AS lo, max(pos) AS hi
       |  FROM ${p}runs GROUP BY id, island),
       |${p}long_islands AS (
       |  SELECT id, lo, hi FROM ${p}islands
       |  WHERE cnt + ${SpanN - 1} >= $CutTokens),
       |${p}cov AS (
       |  SELECT id, lo, hi, lead(lo) OVER (PARTITION BY id ORDER BY lo) AS nxt_lo
       |  FROM ${p}long_islands),
       |${p}cut AS (
       |  SELECT id,
       |         sum(CASE WHEN nxt_lo IS NULL OR nxt_lo - hi >= $SpanN
       |                  THEN hi - lo + $SpanN ELSE nxt_lo - lo END) AS n_cut
       |  FROM ${p}cov GROUP BY id)""".stripMargin

  /** Duplicated-span starts (id, pos) over an arbitrary documents relation:
    * positions whose `SpanN`-gram hash occurs in >= 2 docs. Shared by
    * q_dedup_spans (coverage) and q_dedup_span_runs (run lengths).
    */
  private def dupStarts(docs: DataFrame): DataFrame = {
    // spans feeds both the dup-hash build and the marking side — cache (at
    // scale: persist the span table once per dedup pass)
    val spans = Dedup.shingleHashSeq(
      docs.select(col("doc_id").as("id"), col("text")),
      col("id"), col("text"), SpanN).cache()
    // "occurs in >= 2 distinct docs" as min(id) != max(id) instead of
    // countDistinct(id) >= 2 — identical predicate, but min/max partial-
    // aggregate map-side to ONE (h, mn, mx) row per map partition, where
    // the count-distinct plan shuffles every distinct (h, id) pair of the
    // corpus-sized span table through its first aggregate (guide §2.3:
    // aggregate before you shuffle). The surviving dup-hash set is
    // near-dup-sized, so AQE broadcasts the semi-join and the span table
    // itself is never re-shuffled.
    val duph = spans.groupBy(col("h"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    spans.join(duph, Seq("h"), "left_semi").select(col("id"), col("pos"))
  }

  /** q_dedup_span_runs body. */
  def spanRuns(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = dupStarts(docs)
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    val islands = starts
      .withColumn("island", col("pos") - row_number().over(win))
      .groupBy(col("id"), col("island"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = islands.groupBy(col("id"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("cnt") + lit(SpanN - 1)).as("longest"))
    docs.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest"), lit(0L)).as("longest_run_tokens"),
        (coalesce(col("longest"), lit(0L)) >= CutTokens).as("cut50"))
  }

  /** q_dedup_span_survivors body: materialize the ExactSubstr cut as a per-doc keep/trim/drop manifest with exact
    * cut-token counts.
    */
  def spanSurvivors(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Driver-local fast path (the verifiedClusters/containment pattern):
    // ONE bounded collect of (id, n_words, positional span hashes)
    // replaces the span-table cache + dup-hash agg + semi-join + two
    // window passes + result join — ~6 AQE stage materializations the
    // distributed route pays even for a few thousand docs. Memory bound:
    // `Route.Docs` × ~n_words longs ≈ tens of MB at the guard. Exactly
    // the same integers (spanCutLocal mirrors the island/interval-union
    // arithmetic; RandomizedParitySpec holds the default route equal to
    // an independent mask-based oracle, SpanRouteSpec holds the two
    // routes equal); at 100 TB the limit probe short-circuits and the
    // distributed plan below runs.
    val spark = docs.sparkSession
    import spark.implicits._
    val nWordsCol =
      if (docs.columns.contains("n_words")) col("n_words")
      else size(TextOps.words(col("text"))).cast("long")
    // id-only size probe first — same rationale as verifiedClusters: no
    // positional-hash computation just to learn the corpus is too big
    if (Route.fits("DedupQueries.spanSurvivors", Route.Docs, docs.select(col("doc_id")))) {
      val docProbe = docs.select(col("doc_id"), nWordsCol.as("n_words"),
          org.apache.spark.sql.graft.ArrayExpressions
            .shingleHashSeq(col("text"), SpanN).as("hs"))
        .as[(Long, Long, Seq[Long])].collect()
      val cutMap = spanCutLocal(docProbe.map { case (id, _, hs) => (id, hs) }.toSeq)
      val rows = docProbe.map { case (id, n, _) =>
        val c = cutMap.getOrElse(id, 0L)
        val kept = n - c
        val action =
          if (c == 0L) "keep" else if (kept < MinKeepTokens) "drop" else "trim"
        (id, n, c, kept, action)
      }
      return spark.createDataset(rows.toSeq)
        .toDF("doc_id", "n_words", "n_cut_tokens", "n_kept_tokens", "action")
    }
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    // island-level interval union: an island of cnt consecutive starts
    // [lo..hi] covers tokens [lo, hi + SpanN - 1]; adjacent long islands
    // can overlap by up to SpanN - 1 tokens, handled by clamping each
    // island's coverage at the NEXT long island's lo (lead over islands).
    // Equivalent to the per-start lead+clamp union (randomized
    // differential test) but the second window runs over ISLANDS —
    // bounded by doc count — instead of every duplicated start, which in
    // the full-corpus-duplication worst case is the entire token stream.
    val islands = dupStarts(docs)
      .withColumn("island", col("pos") - row_number().over(win))
      .groupBy(col("id"), col("island"))
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("lo"), max(col("pos")).as("hi"))
    val longIslands = islands
      .filter(col("cnt") + lit(SpanN - 1) >= CutTokens)
      .select(col("id"), col("lo"), col("hi"))
    val islandWin = Window.partitionBy(col("id")).orderBy(col("lo"))
    val cut = longIslands
      .withColumn("nxt_lo", lead(col("lo"), 1).over(islandWin))
      .groupBy(col("id"))
      .agg(sum(when(col("nxt_lo").isNull || col("nxt_lo") - col("hi") >= SpanN,
          col("hi") - col("lo") + SpanN)
        .otherwise(col("nxt_lo") - col("lo"))).cast("long").as("n_cut"))
    // a caller that already carries per-doc word counts (the funnel
    // stamps n_words at corpus build) must not pay a re-tokenization here
    val totals =
      if (docs.columns.contains("n_words"))
        docs.select(col("doc_id"), col("n_words"))
      else docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_words"))
    val nCut = coalesce(col("n_cut"), lit(0L))
    totals.join(cut, totals("doc_id") === cut("id"), "left")
      .select(col("doc_id"), col("n_words"),
        nCut.as("n_cut_tokens"),
        (col("n_words") - nCut).as("n_kept_tokens"),
        when(nCut === 0L, "keep")
          .when(col("n_words") - nCut < MinKeepTokens, "drop")
          .otherwise("trim").as("action"))
  }

  /** Driver-local twin of the distributed span-cut chain (dup-hash build →
    * islands → long-island interval union): per-doc tokens cut, keyed by
    * id, ids with zero cut absent. Positional span hashes arrive 1-based-
    * equivalent (array index i = position i+1 — only DIFFERENCES enter the
    * arithmetic, so 0-based indices give identical islands and counts). A
    * hash repeated only within one doc is NOT a dup (the distributed side
    * is countDistinct(id) >= 2). Contribution of a long island [lo, hi]
    * is clamped at the next long island's lo exactly like the lead+clamp
    * sum.
    */
  private[queries] def spanCutLocal(docSpans: Seq[(Long, Seq[Long])]): Map[Long, Long] = {
    val docsWith = new scala.collection.mutable.HashMap[Long, Int]()
    for ((_, hs) <- docSpans) {
      val seen = new scala.collection.mutable.HashSet[Long]()
      for (h <- hs) if (seen.add(h)) {
        val c = docsWith.getOrElse(h, 0)
        if (c < 2) docsWith(h) = c + 1
      }
    }
    val out = Map.newBuilder[Long, Long]
    for ((id, hs) <- docSpans) {
      // long islands of consecutive dup-start positions, as (lo, hi)
      val islands = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var runLo = -1
      var prev = Int.MinValue
      var p = 0
      while (p < hs.length) {
        if (docsWith.getOrElse(hs(p), 0) >= 2) {
          if (p != prev + 1) {
            // cnt + SpanN - 1 >= CutTokens, cnt = prev - runLo + 1
            if (runLo >= 0 && prev - runLo + SpanN >= CutTokens)
              islands += ((runLo, prev))
            runLo = p
          }
          prev = p
        }
        p += 1
      }
      if (runLo >= 0 && prev - runLo + SpanN >= CutTokens) islands += ((runLo, prev))
      var cut = 0L
      var i = 0
      while (i < islands.length) {
        val (lo, hi) = islands(i)
        cut +=
          (if (i + 1 == islands.length || islands(i + 1)._1 - hi >= SpanN)
             hi - lo + SpanN
           else islands(i + 1)._1 - lo)
        i += 1
      }
      if (cut > 0L) out += id -> cut
    }
    out.result()
  }

  /** q_dedup_spans body over an arbitrary documents relation. */
  def dupSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = dupStarts(docs)
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    val perDoc = starts
      .withColumn("nxt", lead(col("pos"), 1).over(win))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_starts"),
        sum(when(col("nxt").isNull || col("nxt") - col("pos") >= SpanN, SpanN)
          .otherwise(col("nxt") - col("pos"))).cast("long").as("n_dup_tokens"))
    val totals = docs.select(col("doc_id"),
      size(TextOps.words(col("text"))).cast("long").as("n_words"))
    totals.join(perDoc, totals("doc_id") === perDoc("id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        Num.r4(coalesce(col("n_dup_tokens"), lit(0L)) * 1.0 / col("n_words"))
          .as("dup_frac"))
  }
}
