package graft

import graft.operators.Route

/** Physical-plan regression guards: the properties that make these queries
  * scale (column pruning, filter pushdown, broadcast dimension joins) are
  * asserted, not assumed — a refactor that reintroduces a full-table scan
  * or flips a broadcast join to sort-merge fails here.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** A global SortExec renders as `Sort [cols...], true, 0` (the second
    * operand is the global flag) — possibly behind `*(N) ` codegen and
    * `+- ` tree prefixes, so prefix-matching on the trimmed line misses
    * it and "global=true" never appears in executedPlan text at all.
    */
  private val globalSort = """Sort \[[^\]]*\], true,""".r

  test("q_funnel_minhash_sigs: map-only over the dedup leaf — no exchange at all") {
    // the signature table is the rowwise minhash expression over the
    // deduped checkpoint leaf: registers compute per row, so the plan
    // must contain NO shuffle of any kind (the groupBy formulation this
    // replaced would put a hash exchange here) and no join — the
    // zero-shuffle claim the staged 1000x gate's cost model rests on
    val p = plan("q_funnel_minhash_sigs")
    try {
      assert(!p.contains("Exchange"), p)
      assert(!p.contains("Join"), p)
    } finally graft.queries.CurationQueries.releaseStages()
  }

  test("q5: dimension joins broadcast; lineitem scan pruned to 2 columns") {
    val p = plan("q5_region_supplier_volume")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    val lineitemScan = p.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")).get
    assert(lineitemScan.contains("l_suppkey") && lineitemScan.contains("l_extendedprice"))
    assert(!lineitemScan.contains("l_comment") && !lineitemScan.contains("l_quantity"))
  }

  test("q_knn_topk: query-set filter pushed into the scan, query side broadcast") {
    val p = plan("q_knn_topk")
    assert(p.contains("(vec_id") && p.contains("< 20)"),
      "vec_id < 20 must reach the scan as a data filter")
    assert(p.contains("BroadcastExchange"))
  }

  test("q_lang_id: documents scan pruned to needed columns only") {
    val p = plan("q_lang_id")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(scan.contains("doc_id") && scan.contains("text") && scan.contains("lang"))
    assert(!scan.contains("source") && !scan.contains("n_chars"))
  }

  test("q_ann_ivf_search: centroid/probe sides broadcast, never sort-merge") {
    val p = plan("q_ann_ivf_search")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"),
      "the probe-to-cell join must stay broadcast — the probe side is bounded")
  }

  test("q_pq_adc_search: codebook/distance-table joins broadcast, ADC sum partial") {
    val p = plan("q_pq_adc_search")
    assert(p.contains("BroadcastHashJoin"),
      "codebook (M*KPq rows) and distance table (Q*M*KPq rows) must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      "no corpus-side shuffle join in the ADC scan")
    assert(p.contains("partial_sum"),
      "the (q, b) ADC sum must combine map-side before the exchange")
  }

  test("q_pack_manifest: two-pass prefix sum in use — no Window operator at all") {
    val p = plan("q_pack_manifest")
    assert(!p.contains("Window"),
      "a Window node means the per-source serialized formulation snuck back in")
  }

  test("q_mixture_sample: count/total sides broadcast, decision map-side") {
    val p = plan("q_mixture_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the per-source count table (20 rows) and the 1-row total must broadcast")
  }

  test("q_event_transitions: events scan pruned; shuffle count bounded") {
    val p = plan("q_event_transitions")
    val eventsScan = p.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("events")).get
    assert(eventsScan.contains("user_id") && eventsScan.contains("event_type"))
    assert(!eventsScan.contains("payload") && !eventsScan.contains("session_id"),
      "transition matrix reads only (user_id, event_type, ts, event_id)")
    // lead window (user_id), count agg (event_type, next_type), and the
    // normalization window (event_type): at most 3 exchanges, ever
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <= 3 shuffles, got $exchanges:\n$p")
  }

  test("q_weighted_sample: partial top-k before the one source shuffle") {
    val p = plan("q_weighted_sample")
    // the rn <= K+1 filter over row_number must trigger WindowGroupLimit,
    // so each map partition keeps its local top-(K+1) BEFORE the shuffle —
    // without it this is a full per-source sort of the corpus
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push a partial top-k below the exchange:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"priority sampling must shuffle once (by source), got $exchanges:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(scan.contains("doc_id") && scan.contains("n_chars") && !scan.contains("text"),
      s"documents scan must not read text:\n$scan")
  }

  test("q_bm25_topk: partial per-query top-k, no global sort, broadcast probes") {
    val p = plan("q_bm25_topk")
    // the rank <= k filter over row_number must trigger WindowGroupLimit
    // (each partition keeps its local top-k per qid BEFORE the shuffle);
    // a global Sort node would mean the retrieval sorts the whole scored
    // corpus instead of rank-limiting per query
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push a partial top-k below the exchange:\n$p")
    assert(!globalSort.findFirstIn(p).isDefined,
      s"per-query top-k must not globally sort the scored corpus:\n$p")
    // term filter, df, totals, and the query relation ride broadcasts —
    // the only hash exchanges are the tf/score aggregations and the
    // per-query rank
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      s"all probe joins must broadcast at this scale:\n$p")
  }

  test("q_pattern_negation: one keyed sort, no join of any kind") {
    val p = plan("q_pattern_negation")
    // the negation is a running-count difference and the A-match a
    // last_value frame — any Join node means a regression to the
    // per-pair interval-join + anti-join formulation
    assert(!p.contains("Join"), s"pattern negation must be join-free:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected the single user-keyed shuffle, got $exchanges:\n$p")
  }

  test("q_dedup_containment: inverted-index equijoin, never a cartesian") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment pairs must come from the shingle-hash equijoin:\n$p")
  }

  test("containmentCoolIndex: df + postings from ONE corpus-sized exchange") {
    // the fused inverted index is the containment stage's only
    // corpus×shingle shuffle — df groupBy and posting collection must
    // share a single aggregation pass (the r17 shape paid two exchanges
    // plus a join here), with the skew-capped collect in place of an
    // unbounded collect_list
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
        org.apache.spark.sql.functions.col("text"))
    val p = graft.queries.DedupQueries.containmentCoolIndex(docs, 5, 100L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"the df join must be fused away:\n$p")
    assert(p.contains("capped_collect_long"),
      s"posting lists must use the skew-capped collect:\n$p")
  }

  test("q_split_leakage_safe: cluster mapping broadcasts, decision map-side") {
    val p = plan("q_split_leakage_safe")
    assert(p.contains("BroadcastHashJoin"),
      s"the near-dup-sized cluster mapping must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_multimodal_resize: documents scan pruned to (doc_id, text)") {
    val p = plan("q_multimodal_resize")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(scan.contains("doc_id") && scan.contains("text"))
    assert(!scan.contains("lang") && !scan.contains("source"))
  }

  test("q6: every predicate pushed to the parquet scan") {
    val p = plan("q6_forecast_revenue")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(scan.contains("PushedFilters") &&
      scan.contains("l_shipdate") && scan.contains("l_discount"),
      s"q6 predicates must reach PushedFilters:\n$scan")
  }

  test("q1: aggregation is partial (map-side combine before the exchange)") {
    val p = plan("q1_pricing_summary")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // final agg above the exchange AND partial agg below it
    assert(p.indexOf("HashAggregate", exchange) > 0)
  }

  test("q_embed_quantize: map-only until the per-vector agg — exactly one shuffle") {
    val p = plan("q_embed_quantize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"quantization must shuffle once (the groupBy), got $exchanges:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(scan.contains("vec_id") && scan.contains("embedding") && !scan.contains("label"),
      s"embeddings scan must not read label:\n$scan")
  }

  test("q_token_rarity: no single-partition exchange anywhere in the plan") {
    // the global rank used to be a partitionless Window.orderBy — the whole
    // vocabulary through one task. Now it's range-partition + zipWithIndex;
    // nothing in the plan may funnel to a single partition.
    val p = plan("q_token_rarity")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning(1,"),
      s"no stage may collapse the vocabulary to one partition:\n$p")
    assert(!p.toLowerCase.contains("window"),
      s"the rank must not be a global window:\n$p")
  }

  test("token-rarity rank stage fans out across range partitions") {
    // the sort behind zipWithIndex sits past an RDD boundary, invisible in
    // the final query plan above — assert on the sort stage itself
    import org.apache.spark.sql.functions._
    val vocab = spark.range(1000).select(
      concat(lit("w"), col("id")).as("w"), (col("id") % 7).as("cnt"))
    val sorted = graft.queries.TextAnalytics.sortedVocab(vocab, 8)
    val sp = sorted.queryExecution.executedPlan.toString
    assert(sp.contains("rangepartitioning(cnt") && sp.contains(", 8)"),
      s"the vocabulary sort must range-partition across 8 partitions:\n$sp")
    assert(!sp.contains("Exchange SinglePartition") &&
      !sp.contains("rangepartitioning(1,"), sp)
    // and a degenerate parallelism hint still fans out (floor of 2)
    val sp1 = graft.queries.TextAnalytics.sortedVocab(vocab, 1)
      .queryExecution.executedPlan.toString
    assert(!sp1.contains("rangepartitioning(1,"),
      s"nPart=1 must be floored, never a one-partition sort:\n$sp1")
  }

  test("q_doc_fingerprint: shuffle-free map + explode (no exchange at all)") {
    // the custom winnowing expression computes the per-doc distinct
    // window-min set in one pass — any Exchange here means a regression to
    // the explode/window/distinct shape (two shuffles + a sort)
    val p = plan("q_doc_fingerprint")
    assert(!p.contains("Exchange"), s"fingerprinting must be map-only:\n$p")
  }

  test("q_hll_registers: one shuffle, registers combined map-side") {
    // the sketch's whole 100 TB story is that registers merge by max in
    // the partial aggregation — a plan without partial_max ships raw rows
    val p = plan("q_hll_registers")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"register build must shuffle exactly once:\n$p")
    assert(p.contains("partial_max"),
      s"registers must combine map-side (partial_max before the exchange):\n$p")
  }

  test("q_hll_merge_days: register merge combines map-side (partial_max)") {
    // both the per-day register build AND the cross-day merge must ship
    // combined registers, not raw rows — the whole point of the pattern
    val p = plan("q_hll_merge_days")
    val partialMax = "partial_max".r.findAllIn(p).length
    assert(partialMax >= 2,
      s"daily build + cross-day merge must both partial_max, got $partialMax:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the fold joins:\n$p")
  }

  test("q_interval_join_attribution: bucketized equijoin, never a nested loop") {
    // the raw `p BETWEEN lo AND hi` join would plan as a nested loop —
    // the exact trap operators/RangeJoin.scala exists to avoid
    val p = plan("q_interval_join_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the interval join must be the bucketized equijoin:\n$p")
  }

  test("q_train_eval_contamination: shingle join is an equijoin, never a cartesian") {
    // pin the DISTRIBUTED fallback (the 100 TB path): the registered
    // query takes the bounded driver kernel at spec scale, whose plan is
    // just the evidence local relation (DedupRouteParitySpec holds the
    // routes equal)
    val p = Route.forcing(Route.Docs -> 0L)(
        graft.queries.CurationQueries.contamination(graft.Tables.documents(spark, dir)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"contamination candidates must come from the shingle-hash equijoin:\n$p")
    // hot-shingle cap: the probe side must shed boilerplate shingles via a
    // broadcast anti-join BEFORE the main h equijoin (hot-key skew guard)
    assert(p.contains("LeftAnti"),
      s"hot shingles must be anti-joined off the probe side:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("lang") && !scan.contains("source"),
      s"documents scan must read only (doc_id, text):\n$scan")
  }

  test("q_dedup_spans: spans built map-side, marking is a semi-join, no cartesian") {
    val p = plan("q_dedup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span marking must be an equijoin on h:\n$p")
    assert(p.contains("LeftSemi"),
      s"dup-hash marking must be a semi-join (no row multiplication):\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning(1,"),
      s"no single-partition funnel in the span pipeline:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("lang") && !scan.contains("n_chars"),
      s"documents scan must read only (doc_id, text):\n$scan")
  }

  test("q_dedup_span_runs: islands stay doc-partitioned, marking is a semi-join") {
    val p = plan("q_dedup_span_runs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span marking must be an equijoin on h:\n$p")
    assert(p.contains("LeftSemi"),
      s"dup-hash marking must be a semi-join (no row multiplication):\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning(1,"),
      s"the run windows partition by doc, never globally:\n$p")
  }

  test("q_dedup_span_survivors: cut stays occurrence-linear, doc-partitioned") {
    // the registered query routes to the driver-local span kernel at this
    // corpus size; the 100 TB shape under guard here is the DISTRIBUTED
    // route, so force it (Route.Docs -> 0) over the same variant input
    val p = Route.forcing(Route.Docs -> 0L)(graft.queries.DedupQueries.spanSurvivors(
        graft.queries.DedupQueries.withSharedPrefixCopies(spark, dir)
          .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
            org.apache.spark.sql.functions.col("text"))))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span marking must be an equijoin on h:\n$p")
    assert(p.contains("LeftSemi"),
      s"dup-hash and long-island marking must be semi-joins:\n$p")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning(1,"),
      s"the island/coverage windows partition by doc, never globally:\n$p")
  }

  test("q_source_similarity: exact side is an h-equijoin; pairwise joins broadcast") {
    // distributed fallback, same rationale as the contamination pin above
    val p = Route.forcing(Route.SourceRows -> 0L)(
        graft.queries.DedupQueries.sourceSimilarity(spark, graft.Tables.documents(spark, dir)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"no unbounded cross product (source-bounded sides must broadcast):\n$p")
    // the inverted-index intersection must be an EQUIjoin keyed on the
    // shingle hash (AQE may pick any hash-join flavor at test scale), not
    // a nested loop over the corpus-sized shingle table
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[h#".r
      .findFirstIn(p).isDefined,
      s"exact-Jaccard side must equijoin on the shingle hash:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("lang") && !scan.contains("n_chars"),
      s"documents scan must read only (source, text):\n$scan")
  }

  test("q_dedup_survivors: keep decision is a broadcast join against the corpus") {
    val p = plan("q_dedup_survivors")
    assert(!p.contains("CartesianProduct"), s"survivors must not cross-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the near-dup-sized cluster mapping must broadcast:\n$p")
  }

  test("q_dedup_keeper_quality: same broadcast shape as survivors") {
    // the README claims survivors' exact 100 TB shape for the quality
    // keeper — hold it to the same guard: cluster/keeper mappings
    // broadcast, quality is a scan expression, nothing cross-joins
    val p = plan("q_dedup_keeper_quality")
    assert(!p.contains("CartesianProduct"), s"keeper must not cross-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the cluster and keeper mappings must broadcast:\n$p")
  }

  test("q_dedup_lsh_recall: both candidate sets are equijoins, never cartesian") {
    val p = plan("q_dedup_lsh_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"truth (shingle equijoin) and LSH (band equijoin) sides must both equijoin:\n$p")
  }

  test("q_corpus_curation: dedup is groupBy(md5) + keep-list semi-join, no text shuffle") {
    // r19: the exact dedup is the funnel's keep1 shape — groupBy(md5(text))
    // partial-aggregates map-side and shuffles only (hash, id) pairs, the
    // keep list re-attaches as a LeftSemi join (broadcast at bench scale;
    // at 100 TB AQE degrades it to the same hash shuffle the old window
    // paid, but never with a sort). The r18 row_number window shuffled and
    // sorted every REDACTED TEXT byte just to rank within its hash group.
    // The registered query materializes eagerly through SmallResult, so
    // the asserts run on the LAZY body the materialization executes.
    val (out, scrubbed) = graft.queries.CurationQueries.corpusCurationLazy(
      Tables.documents(spark, dir))
    val p = out.queryExecution.executedPlan.toString
    scrubbed.unpersist()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup must be an equijoin on the keep list:\n$p")
    assert(p.contains("LeftSemi"),
      s"keep-list re-attach must be a semi-join (no row multiplication):\n$p")
    assert(!p.contains("Window") && !p.contains("row_number"),
      s"no dedup window may shuffle/sort the redacted text:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no global funnel in the manifest:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("source") && !scan.contains("n_chars"),
      s"documents scan must read only (doc_id, lang, text):\n$scan")
  }

  test("q_decontam_train: eval set builds, train probes, hot shingles anti-joined") {
    // distributed fallback, same rationale as the contamination pin above
    val p = Route.forcing(Route.Docs -> 0L)(
        graft.queries.CurationQueries.decontamTrain(graft.Tables.documents(spark, dir)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"decontamination candidates must come from the shingle-hash equijoin:\n$p")
    assert(p.contains("LeftAnti"),
      s"hot eval shingles must be anti-joined off the probe side:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("lang") && !scan.contains("source"),
      s"documents scan must read only (doc_id, text):\n$scan")
  }

  test("q_epoch_plan: weight table broadcasts, decision is map-side") {
    val p = plan("q_epoch_plan")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row totals may cross (as broadcast):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the lang-sized target table must broadcast against the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the epoch plan justifies a shuffle join:\n$p")
  }

  test("q_session_paths: global top-20 is TakeOrdered, never a full sort") {
    val p = plan("q_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must be a partial top-k, not sort+limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross-join belongs here:\n$p")
  }

  test("q_curation_funnel: stage aggregates over materialized leaves, no cartesian") {
    // SCOPE: the clustering stage runs eagerly inside
    // connectedComponentsAdaptive (localCheckpoint + collect), and since
    // r11 the surv2/surv2c stage boundaries are ALSO eager localCheckpoint
    // leaves (composing the containment + span subtrees lazily made every
    // downstream action re-analyze a combinatorially exploding plan — pure
    // driver planning cost). So the returned plan must be exactly the six
    // stage aggregates over cached/checkpointed leaves: no join of any
    // kind survives to this plan, and the expensive operators' own shapes
    // are guarded by their standalone query tests
    // (q_dedup_minhash_lsh/q_dedup_survivors/q_dedup_span_survivors and
    // the SamplingContainmentSpec funnel tests, which run the same
    // primitives).
    val p = plan("q_curation_funnel")
    assert(!p.contains("CartesianProduct"),
      s"funnel stages must never cross-join:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"stage aggregates must read the materialized boundaries, not lineage:\n$p")
    // (the qual branch's tiny leaf-to-leaf join may be statically planned
    // as SortMergeJoin; AQE converts it to broadcast at runtime, so no
    // assertion on the static join choice there)
  }

  test("q_chunk_manifest: map-side explode, zero exchanges") {
    val p = plan("q_chunk_manifest")
    assert(!p.contains("Exchange"), s"chunking must be map-only:\n$p")
    assert(p.contains("Generate explode"),
      s"chunk starts come from one explode, not a join:\n$p")
    val scan = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scan.contains("lang") && !scan.contains("source"),
      s"documents scan must read only (doc_id, text):\n$scan")
  }

  test("q_dsir_weights: dictionary-sized model broadcasts into the token join") {
    val p = plan("q_dsir_weights")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row totals may cross (as broadcast):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized model must broadcast against the token stream:\n$p")
  }

  test("q_pii_scan / q_pii_redact: map-only regex projection, zero exchanges") {
    // the scrub pass is one codegen'd projection over the scan — any
    // Exchange means something introduced a shuffle into a per-row regex op
    Seq("q_pii_scan", "q_pii_redact").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be map-only:\n$p")
      val scan = p.split("\n").find(_.contains("FileScan parquet")).get
      assert(scan.contains("doc_id") && scan.contains("text") &&
        !scan.contains("lang") && !scan.contains("source"),
        s"$q documents scan must read only (doc_id, text):\n$scan")
    }
  }

  test("q_tfidf_top_terms: corpus tokenizes exactly once (tf stage reused)") {
    // tf, dfreq, and n_docs all need the documents table; the r5 shape
    // tokenized the corpus three times (one branch each). Now dfreq reuses
    // tf's (doc_id, w) shuffle stage and n_docs is a zero-column metadata
    // count — assert on the POST-AQE final plan, where stage reuse lives.
    val df = SparkEntry.queries("q_tfidf_top_terms")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finStart = p.indexOf("Final Plan")
    val finEnd = p.indexOf("Initial Plan")
    assert(finStart >= 0 && finEnd > finStart, s"expected an AQE final plan:\n$p")
    val fin = p.substring(finStart, finEnd)
    val tokenizes = "Generate explode".r.findAllIn(fin).length
    assert(tokenizes == 1,
      s"corpus must tokenize exactly once, found $tokenizes:\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"dfreq must reuse tf's shuffle stage, not rescan:\n$fin")
    assert(fin.contains("ReadSchema: struct<>"),
      s"n_docs must be a zero-column metadata count:\n$fin")
  }

  test("q_unigram_logprob / q_source_mix_kl: dictionary joins never nested-loop") {
    // kl materializes eagerly through SmallResult (its registered query
    // returns a checkpoint leaf), so its plan asserts run on the LAZY
    // body the materialization executes
    def klPlan: String = {
      val (out, sw) = graft.queries.TextAnalytics.sourceMixKlLazy(
        Tables.documents(spark, dir))
      val p = out.queryExecution.executedPlan.toString
      sw.unpersist()
      p
    }
    Seq("q_unigram_logprob", "q_source_mix_kl").foreach { q =>
      val p = if (q == "q_source_mix_kl") klPlan else plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the only BroadcastNestedLoopJoin allowed is the bounded 1-row
      // total (crossJoin(broadcast(tot))); a second one would mean the
      // dictionary join on w regressed to a nested loop
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= 1, s"$q: expected at most the 1-row total BNLJ, got $bnlj:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q dictionary join must be on w:\n$p")
    }
  }

  test("q_bigram_logprob / q_classifier_filter: corpus cached once, models broadcast") {
    Seq("q_bigram_logprob", "q_classifier_filter").foreach { q =>
      val p = plan(q)
      // five streams (model counts, vocab, scoring, first tokens) share
      // ONE cached tokenized projection — without InMemoryTableScan the
      // corpus text re-splits per stream (the tfidf round-6 lesson)
      assert(p.contains("InMemoryTableScan"),
        s"$q must reuse the cached tokenized corpus:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q model tables are dictionary-sized and must broadcast:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q scoring must be a broadcast equijoin on the model:\n$p")
    }
  }

  test("q_hybrid_rrf: both arms keep partial top-k, fusion never global-sorts") {
    // the lexical and semantic arms each cut to k per query BEFORE their
    // rank shuffle (WindowGroupLimit), so the fusion join and re-rank see
    // |Q|*2k rows regardless of corpus size; a global Sort or a cartesian
    // here means an arm lost its bound. Three WindowGroupLimit nodes are
    // required — lex arm, sem arm, fused re-rank — so ONE arm losing its
    // pushdown fails here even while the others keep theirs.
    val p = plan("q_hybrid_rrf")
    val wgl = "WindowGroupLimit".r.findAllIn(p).length
    assert(wgl >= 3,
      s"lex arm, sem arm, and fused re-rank must each rank-limit partially (got $wgl):\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere in the fusion")
    assert(!globalSort.findFirstIn(p).isDefined,
      s"fused re-rank must stay windowed, not a global sort:\n$p")
  }

  test("q_pq_codes: corpus encode is a shuffle-free map pass") {
    // the codebook is a collected literal (bounded — it IS the index), so
    // the only corpus-wide work is the stateless per-partition encoder: a
    // reintroduced broadcast-join + argmin-agg encode would show an
    // Exchange here and pay a corpus-sized shuffle per encode at 100 TB
    val p = plan("q_pq_codes")
    assert(!p.contains("Exchange"),
      s"q_pq_codes encode must not shuffle the corpus:\n$p")
  }

  test("q_dedup_blocks / q_dedup_block_rebuild: occurrence-linear keeper join") {
    Seq("q_dedup_blocks", "q_dedup_block_rebuild").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q block membership must be an equijoin on the block hash:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must never funnel to one partition:\n$p")
      assert(p.contains("partial_min"),
        s"$q keeper ordinal must combine map-side before the exchange:\n$p")
    }
  }
}
