package graft

import graft.operators.Route
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: replicates the sf0.1 tables k-fold in-memory (ids offset
  * per replica so keys multiply, not collide) and times the heaviest
  * operators — a cheap check that their cost curves stay near-linear
  * before anyone runs them on a real cluster.
  *
  * `runMain graft.ScaleProbe [k] [cores] [nameFilter...]` — with name
  * filters only matching probes run (substring match, like Bench), which
  * is what makes the 100x flagship runs practical: replication and the
  * unrelated probes are skipped instead of paying 100x everywhere.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 10
    val cores = if (args.length > 1) args(1).toInt else 16
    val filters = args.drop(2).toSeq
    def on(name: String): Boolean =
      filters.isEmpty || filters.exists(name.contains)
    val spark = Sessions.batch("graft-scale-probe", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"

    def replicate(df: DataFrame, idCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
      }.reduce(_ unionAll _)

    // localCheckpoint, not cache: a cached k-way union keeps all k scan
    // subtrees in the logical plan, and any operator that references its
    // input several times duplicates that lineage per reference — at k=100
    // the probes were charging DRIVER PLAN ANALYSIS (hundreds of MB of
    // analyzed tree) to operators whose execution is leaf-proportional
    // (the funnel adjudication, SURVEY §7.6 r12). A checkpoint leaf models
    // what production actually has — one materialized table, not a
    // 100-way union — so the curves measure execution. Blocks are
    // MEMORY_AND_DISK, so clearCache() between probes leaves them alone.
    val events = replicate(Tables.events(spark, dir), Seq("event_id", "user_id"))
      .localCheckpoint()
    val docs = replicate(Tables.documents(spark, dir), Seq("doc_id"))
      .localCheckpoint()
    println(s"events=${events.count()} docs=${docs.count()} (k=$k)")

    def time(name: String)(f: => Long): Unit = if (on(name)) {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-24s rows=$n%-10d ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      spark.catalog.clearCache() // drop operator-internal caches only
    }

    time("sliding_window_aggs") {
      graft.operators.SlidingWindows.withSlidingAggs(events,
        Seq(col("user_id"), col("event_type")), col("ts"), col("value")).count()
    }
    time("ewma") {
      graft.operators.Ewma.perEvent(spark, events, 0.1).count()
    }
    time("minhash_lsh") {
      val sh = graft.operators.Dedup.shingleHashes(
        docs.select(col("doc_id").as("id"), col("text")), col("id"), col("text"), 5).cache()
      val cand = graft.operators.Dedup.candidatePairs(
        graft.operators.Dedup.bandKeys(graft.operators.Dedup.minhashSignatures(sh)))
      graft.operators.Dedup.jaccard(cand, sh).filter(col("jaccard") >= 0.35).count()
    }
    time("simhash_pairs") {
      graft.operators.Dedup.simhashPairs(
        graft.operators.Dedup.simhash(
          docs.select(col("doc_id").as("id"), col("text")), col("id"), col("text")), 3).count()
    }
    time("rolling_counter") {
      import org.apache.spark.sql.expressions.Window
      events.groupBy(col("user_id"), col("event_type"),
          unix_timestamp(date_trunc("minute", col("ts"))).as("bucket_s"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cnt_24h", sum(col("cnt")).over(
          Window.partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("bucket_s")).rangeBetween(-86400, 0)))
        .count()
    }
    time("sessionization") {
      SparkEntry.queries("q_sessionization")(spark, dir).count() // 1x baseline
    }
    lazy val embeddings = {
      val e = replicate(Tables.embeddings(spark, dir), Seq("vec_id")).localCheckpoint()
      println(s"embeddings=${e.count()} (k=$k)")
      e
    }
    // force the lazy replication/cache OUTSIDE any timed region when an
    // embeddings probe will run — otherwise the first such probe's clock
    // absorbs the replicate-and-checkpoint init cost and skews exactly
    // the curve the probe measures (laziness still skips the cost entirely
    // on filtered runs that touch no embeddings probe)
    if (on("ivf_build_search") || on("quantize") || on("pq_encode") ||
        on("ivf_stream_maintain") || on("ivf_query_k")) { embeddings; () }
    time("ivf_build_search") {
      val prep = graft.operators.Similarity.prepared(embeddings).cache()
      val cents = graft.operators.Ivf.centroids(prep, 64).cache()
      val queries = prep.filter(col("vec_id") % 10000000L < 20)
        .select(col("vec_id").as("q"), col("e").as("qe"), col("nrm").as("qn"))
      graft.operators.Ivf.searchFused(spark, queries, prep, cents, 4, 5).count()
    }
    // The "scale K with the corpus" claim, measured: pure QUERY-path cost
    // over a PREBUILT (localCheckpoint'd, as production persists it) fused
    // index at fixed K=64 vs K=256. With K fixed, cell population — and so
    // per-query scan cost — grows linearly with the corpus; 4x the cells
    // should cut the probed population ~4x at the same nProbe. Build cost
    // is charged to neither (it is the amortized index write).
    Seq(64, 256).foreach { bigK =>
      if (on(s"ivf_query_k$bigK")) {
        val prep = graft.operators.Similarity.prepared(embeddings).cache()
        // training sample scales with K (production posture; 2x K is the
        // timing-probe floor — centroid QUALITY is irrelevant here, only
        // the index shape; a real deployment uses hundreds per centroid)
        val cents = graft.operators.Ivf.centroids(prep, bigK,
          trainMax = 2L * bigK).cache()
        // cache (NOT localCheckpoint): time()'s clearCache() frees cached
        // relations between iterations, while checkpoint blocks would pin
        // BOTH K-tiers' corpus-sized fused indexes for the rest of the run
        // and skew every later probe's curve
        val corpus = graft.operators.Ivf.assignBroadcastFull(spark, prep, cents)
          .cache()
        corpus.count() // materialize the index OUTSIDE the timed region
        val queries = prep.filter(col("vec_id") % 10000000L < 20)
          .select(col("vec_id").as("q"), col("e").as("qe"), col("nrm").as("qn"))
        time(s"ivf_query_k$bigK") {
          graft.operators.Ivf.searchRankFused(
            graft.operators.Ivf.probe(queries, cents, 4), corpus, 5).count()
        }
      }
    }
    time("dedup_clusters") {
      val sh = graft.operators.Dedup.shingleHashes(
        docs.select(col("doc_id").as("id"), col("text")), col("id"), col("text"), 5).cache()
      val cand = graft.operators.Dedup.candidatePairs(
        graft.operators.Dedup.bandKeys(graft.operators.Dedup.minhashSignatures(sh)))
      val verified = graft.operators.Dedup.jaccard(cand, sh)
        .filter(col("jaccard") >= 0.35)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.operators.Identity.connectedComponents(verified).count()
    }

    // noop-only timing: full materialization of every output column with
    // the clock stopped BEFORE the (untimed, column-pruned) row count —
    // count()-timing would skip final projections, and counting inside the
    // timed region would double-execute the query
    // by-name: construction happens INSIDE the clock — query bodies that
    // execute eagerly while building (the funnel's clustering stage
    // localCheckpoints + collects) would otherwise run before t0 and the
    // probe would time only the lazy tail
    def timeDf(name: String)(mkDf: => org.apache.spark.sql.DataFrame): Unit = if (on(name)) {
      val t0 = System.nanoTime()
      val df = mkDf
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      println(f"$name%-24s rows=$n%-10d $secs%6.2fs")
      spark.catalog.clearCache() // inputs are checkpoint leaves, unaffected
    }

    // the round-4/5 query bodies run through the SAME code the registered
    // queries use (graft.queries defs), so the probe can't drift from what
    // Bench measures
    timeDf("token_rarity")(graft.queries.TextAnalytics.tokenRarity(spark, docs))
    timeDf("contamination")(graft.queries.CurationQueries.contamination(docs))
    timeDf("repetition_filter")(graft.queries.TextAnalytics.repetitionFilter(docs))
    timeDf("quantize")(graft.queries.SimilarityQueries.quantize(embeddings))
    // duplicated-span coverage is LINEAR by construction (occurrence-count
    // joins, never pairs) — the replicated corpus multiplies every span's
    // doc count by k, so this is exactly the hot-span stress case
    timeDf("dedup_spans")(graft.queries.DedupQueries.dupSpans(docs))
    timeDf("dedup_span_runs")(graft.queries.DedupQueries.spanRuns(docs))
    // Route.Docs -> 0: the probe measures the DISTRIBUTED operator's
    // growth curve; letting small replication levels route to the driver
    // kernel would make the curve's low end measure a different
    // implementation than its high end (route switch, not scaling)
    timeDf("dedup_span_survivors")(Route.forcing(Route.Docs -> 0L)(
      graft.queries.DedupQueries.spanSurvivors(docs)))
    // containment inherits the funnel discipline: exact-dedup FIRST. The
    // replicated corpus is pure exact copies, on which enumerating all
    // containment pairs is Ω(k²) BY DEFINITION of the output; production
    // collapses copies before the asymmetric pass, so this curve must
    // stay flat in k past the linear dedup scan.
    timeDf("dedup_containment") {
      val base = docs.select(col("doc_id").as("id"), col("text"))
      val keep = graft.operators.Dedup.exact(base, col("id"), col("text"))
        .select(col("keep_id").as("id"))
      graft.queries.DedupQueries.containmentPairs(base.join(keep, "id"))
    }
    // priority sampling: one scan + WindowGroupLimit partial top-k —
    // output is sources x K rows regardless of k, so time must track the
    // (doc_id, n_chars, source) column scan only
    timeDf("weighted_sample")(
      graft.queries.CurationQueries.prioritySample(docs, 10, "pri"))
    // event-series ops: both are one user-keyed sort + window passes, so
    // cost must track the keyed sort of the replicated event stream —
    // replication offsets user_id, so key count multiplies with k while
    // per-key series length stays constant: the partition-balance case
    timeDf("pattern_negation")(graft.queries.EventAnalytics.patternNegation(events))
    timeDf("sax_words")(graft.queries.EventAnalytics.saxWords(events))
    // retention is two user-keyed shuffles (first-seen agg + cohort join);
    // transitions one window sort + one groupBy — both must track the
    // event scan as users multiply with k
    timeDf("retention_cohorts")(graft.queries.EventAnalytics.retentionCohorts(events))
    timeDf("event_transitions")(graft.queries.EventAnalytics.eventTransitions(events))
    // session paths: one user-keyed window + a path groupBy + TakeOrdered
    // top-20 — replication multiplies users, per-user series stays fixed,
    // so cost must track the window sort of the event stream
    timeDf("session_paths")(graft.queries.EventAnalytics.sessionPaths(events))
    // integer PageRank: replication multiplies identity-graph nodes while
    // degree distribution is fixed — cost must track the 5 edge-sized
    // join+groupBy rounds, linear in the edge count
    // Route.PagerankEdges -> 0: the probe measures the DISTRIBUTED route's
    // curve (the driver kernel would otherwise absorb every replication
    // level and the curve would measure a different implementation)
    timeDf("identity_pagerank")(Route.forcing(Route.PagerankEdges -> 0L)(
      graft.queries.CdpBatch.identityPagerank(graft.queries.CdpBatch.identityEdges(events))))
    // BPE: the merge loop is dictionary-bound (each round collects ONE
    // winner row to literals); the only corpus-sized work is the word
    // groupBy + the final broadcast-dict token scan, so the curve must
    // track the scan, not the 6 training rounds
    timeDf("bpe_token_count")(graft.queries.BpeQueries.tokenCount(docs))
    // BM25: term filter before the tf groupBy shrinks the stream to
    // |terms| rows per doc; df/totals broadcast, score map-side — must
    // track the tokenize scan
    timeDf("bm25_search")(graft.queries.TextAnalytics.bm25Search(docs))
    // BM25 over a query RELATION with per-query top-k: same broadcast-
    // probe shape plus a WindowGroupLimit rank cut — queries stay fixed
    // while the corpus replicates, so the curve must track the tokenize
    // scan (the top-k itself is partial per partition, never a global
    // sort of the scored corpus)
    timeDf("bm25_topk") {
      import spark.implicits._
      graft.queries.TextAnalytics.bm25TopK(docs,
        graft.queries.TextAnalytics.Bm25Queries.toDF("qid", "term"), 10)
    }
    // IVF-PQ search: the production ANN composition — centroids/codebook
    // train on the replicated corpus (k-fold more vectors through the
    // same bounded Lloyd/codebook rounds), the probe prunes to nProbe of
    // 16 cells, and ADC scans codes for the fixed 20-query set. Cost
    // must track corpus size through train+encode (linear scans) while
    // the per-query scan tracks cell size — sublinearity vs brute force
    // is the whole point of the composition.
    if (on("ivfpq_search")) { embeddings; () }
    timeDf("ivfpq_search") {
      val (cand, dt, codes) = graft.queries.PqQueries.ivfPqPartsOver(spark, embeddings)
      graft.operators.Pq.adcOver(cand, dt, codes, 5)
    }
    timeDf("curation_funnel")(graft.queries.CurationQueries.funnel(spark, docs))
    timeDf("unigram_logprob")(graft.queries.TextAnalytics.unigramLogprob(docs))
    timeDf("dsir_weights")(graft.queries.TextAnalytics.dsirWeights(docs))
    // LM filters: model tables are dictionary-sized (vocab / vocab²) and
    // broadcast — cost must track the token-stream scan, never the model
    timeDf("bigram_logprob")(graft.queries.LmQueries.bigramLogprob(docs))
    timeDf("classifier_filter")(graft.queries.LmQueries.classifierFilter(docs))
    // block dedup is occurrence-linear: replication multiplies every
    // block's occurrence count by k, the worst (boilerplate) shape
    timeDf("dedup_block_rebuild")(graft.queries.BlockDedupQueries.blockRebuild(
      docs.select(col("doc_id").as("id"), col("text"))))
    // chunking is pure map-side explode — must track the scan exactly
    timeDf("chunk_manifest")(graft.queries.PackingQueries.chunkManifest(docs))
    // PII scrub is map-only — the flattest curve in the suite; any
    // superlinearity here means a shuffle crept into a per-row regex op
    timeDf("pii_redact")(graft.queries.PiiQueries.redact(docs))
    // packing prefix sum: the replicated corpus multiplies docs-per-source
    // (sources stay 20) — exactly the dominant-stream straggler shape the
    // two-pass scan exists for; cost should track the scan, not the
    // largest source
    timeDf("pack_manifest")(graft.operators.Packing.manifest(
      graft.operators.Packing.endOffsets(
        graft.operators.Packing.tokenCounts(docs))))
    // PQ encode, production path: sample-bounded training (TrainMax —
    // constant under replication since replica ids are offset) + the
    // shuffle-free collected-codebook map encode — one narrow corpus
    // pass, so near-linear in k
    timeDf("pq_encode") {
      val prep = graft.operators.Similarity.prepared(embeddings)
        .select(col("vec_id"), col("e"))
      graft.operators.Pq.encodeRows(spark, prep,
        graft.operators.Pq.codebook(graft.operators.Pq.subvecs(prep)))
    }
    timeDf("source_mix_kl")(graft.queries.TextAnalytics.sourceMixKl(docs))
    // corpus-extension near-dup admit, both index layouts (persisted
    // before the clock starts, as production does). The claims here are
    // STRUCTURAL (read volume, asserted by BucketingSpec's file-
    // containment checks), not wall-clock: at probe SFs both reads are
    // sub-second and box noise dominates the timings (a back-to-back
    // 10x/30x pair read 1.99 s vs 1.90 s for the batch probe; an earlier
    // load-contaminated sample read 5.48 s at 30x).
    //  - bucket-only (writeBandIndex): no corpus shuffle/sort per probe,
    //    but every probe SCANS the whole index — O(corpus) read volume
    //    per batch.
    //  - key-slot-partitioned (writeBandIndexPruned) + a SMALL batch (the
    //    per-micro-batch streaming-guard shape): read volume drops to the
    //    batch's slot fraction (≤ |batch keys| / keyParts of the index).
    //    In production size keyParts ≫ expected batch keys — slots are
    //    partition directories, and at 100 TB each is still huge.
    if (on("neardup_admit_batch") || on("neardup_admit_pruned")) {
      val idxDir = java.nio.file.Files.createTempDirectory("sp_bandidx").toString
      val corpusBands = graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSignatures(graft.operators.Dedup.shingleHashes(
          docs.select(col("doc_id").as("id"), col("text")),
          col("id"), col("text"), 5))).cache()
      def admitAgainst(idx: DataFrame, pr: DataFrame,
                       pruned: Boolean): DataFrame = {
        val pb = graft.operators.Dedup.bandKeys(
          graft.operators.Dedup.minhashSignaturesRowwise(
            pr, col("id"), col("text"), 5))
        val cand =
          if (pruned) graft.operators.Dedup.candidatePairsAcrossPruned(idx, pb)
          else graft.operators.Dedup.candidatePairsAcross(idx, pb)
        val nh = cand.groupBy(col("b")).agg(count(lit(1)).as("n_hits"))
          .withColumnRenamed("b", "id")
        pr.select(col("id")).join(nh, Seq("id"), "left")
          .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("n_hits").isNull.as("admitted"))
      }
      if (on("neardup_admit_batch")) {
        graft.operators.Dedup.writeBandIndex(
          corpusBands, "sp_band_index", s"$idxDir/bands")
        val index = spark.table("sp_band_index")
        val probe = Tables.documents(spark, dir)
          .select((col("doc_id") + 900000000L).as("id"), col("text")).cache()
        probe.count()
        timeDf("neardup_admit_batch") {
          admitAgainst(index, probe, pruned = false)
        }
      }
      if (on("neardup_admit_pruned")) {
        graft.operators.Dedup.writeBandIndexPruned(
          corpusBands, "sp_band_index_p", s"$idxDir/bands_p")
        val indexP = spark.table("sp_band_index_p")
        val probeSmall = Tables.documents(spark, dir)
          .filter(col("doc_id") % 500 === 0)
          .select((col("doc_id") + 950000000L).as("id"), col("text")).cache()
        probeSmall.count()
        timeDf("neardup_admit_pruned") {
          admitAgainst(indexP, probeSmall, pruned = true)
        }
      }
      corpusBands.unpersist()
      spark.sql("DROP TABLE IF EXISTS sp_band_index")
      spark.sql("DROP TABLE IF EXISTS sp_band_index_p")
    }
    // sketch family: all bounded-state one-shuffle shapes — the register
    // tables must stay constant-size as k grows, so time should track the
    // scan, not the output
    timeDf("hll_registers")(
      graft.operators.Hll.registers(events, col("user_id"), Seq("event_type")))
    timeDf("cms_registers")(
      graft.operators.Cms.registers(events, col("user_id")))
    timeDf("bloom_membership") {
      val bits = graft.operators.Bloom.bits(events, col("user_id"))
      val probes = events
        .select(col("user_id").cast("string").as("v"), col("user_id")).distinct()
      graft.operators.Bloom.mightContain(bits, probes)
    }
    timeDf("hist_quantiles")(
      graft.operators.Hist.quantiles(
        graft.operators.Hist.buckets(events, col("value"), Seq("event_type")),
        Seq("event_type"), Seq(50, 90, 99)))
    // streaming IVF maintenance throughput: replicated vectors through the
    // maintainer in MemoryStream batches; cost per batch is one assignment
    // pass + a K x Dim register update, so vec/s should hold as k grows
    if (on("ivf_stream_maintain")) {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val prep = graft.operators.Similarity.prepared(embeddings).cache()
      val seedCents = graft.operators.Ivf.centroids(prep, 64)
        .select(col("cid"), col("ce")).as[(Long, Seq[Double])].collect().toSeq
      val vecs = prep.select(col("vec_id"), col("e")).as[(Long, Seq[Double])].collect()
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
      val (writer, idx) = graft.streaming.IvfStream.maintainer(
        spark, input.toDF().toDF("vec_id", "e"), initial = seedCents)
      val query = writer.start()
      try {
        val t0 = System.nanoTime()
        vecs.grouped(20000).foreach { chunk =>
          input.addData(chunk.toSeq)
          query.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"ivf_stream_maintain     rows=${vecs.length}%-10d $secs%6.2fs " +
          f"(${vecs.length / secs}%.0f vec/s, ${idx.centroidUpdates} centroid updates)")
      } finally query.stop()
    }
    spark.stop()
  }
}
