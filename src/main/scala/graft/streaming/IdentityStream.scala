package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{Identity, Route}

/** Streaming identity resolution (SURVEY §7.4 hard-part 1, reference
  * `cdp/identity/IdentityGraph.kt` + `docs/cdp/README.md:85-126`).
  *
  * Contract adopted from the reference: a late ALIAS that merges two
  * existing components re-keys only FUTURE events — the mapping table is
  * updated, historical per-profile state is not migrated (orphaned
  * profiles are accepted). That makes streaming resolution feasible: the
  * mapping is a monotone join of components (labels only ever decrease
  * toward the lexicographic min).
  *
  * INCREMENTAL mechanics (no per-batch full recompute, no driver-side
  * mapping): the persisted node→canonical label table IS the state. Each
  * new edge (a, b) connects the COMPONENTS of a and b, so per batch we
  *  1. map the batch's edge endpoints through the label table (one scan,
  *     endpoints side broadcast-small; unseen nodes are their own label),
  *  2. run connected components on the CONTRACTED graph only — its size is
  *     proportional to the batch's edges, never the accumulated graph,
  *  3. re-label members of merged components with one broadcast join
  *     (output proportional to members of components that actually merged)
  *     and append the changed rows as an LSM-style delta, versioned by
  *     batchId (idempotent on retry), compacted every `CompactEvery`
  *     batches.
  * Because each stored label is the lexicographic min of its component,
  * the min over contracted labels equals the min over the merged
  * component's nodes — the canonical-id rule survives contraction.
  *
  * The mapping is served as a DataFrame for join-based canonicalization;
  * nothing is ever collected to the driver (a point lookup reads one
  * filtered row). At cluster scale the label table becomes a Delta/Iceberg
  * table MERGEd by `comp` (partition-pruned upsert) instead of the
  * parquet base+delta emulation here; the per-batch shape is identical.
  * A batch whose contracted graph exceeds `maxIter` rounds fails the
  * batch, and the streaming checkpoint replays it (delta writes are
  * idempotent by batchId) — merges are never silently dropped.
  */
object IdentityStream {

  val CompactEvery = 8
  val MaxStatsRetained = 1024

  /** Per-batch instrumentation: proof the CC input is the contracted
    * graph (proportional to the batch), not the accumulated edge set.
    */
  final case class BatchStats(batchId: Long, newEdges: Long,
                              contractedEdges: Long, deltaRows: Long)

  /** Join-based handle on the id → canonicalId mapping. The mapping lives
    * in `stateDir` as versioned parquet (base + deltas, last-writer-wins
    * by version); this class never holds it in driver memory.
    */
  final class MappingHandle private[IdentityStream] (spark: SparkSession,
                                                     stateDir: String) {
    private val statsRef =
      new AtomicReference[Vector[BatchStats]](Vector.empty)

    /** Most recent batches only — a 1 s-trigger stream must not grow
      * driver memory one entry per batch forever.
      */
    def stats: Vector[BatchStats] = statsRef.get
    private[IdentityStream] def addStats(s: BatchStats): Unit =
      statsRef.updateAndGet(v => (v :+ s).takeRight(MaxStatsRetained))

    /** Dirs retired by the LAST compaction. They stay on disk (a reader
      * holding the pre-compaction DataFrame can still recompute evicted
      * blocks from them) and are reclaimed only at the NEXT compaction —
      * a full CompactEvery-batch grace window. Excluded from reads and
      * from the compaction trigger; after a restart they are simply
      * re-read and re-folded (harmless: LWW by `ver` subsumes them).
      */
    @volatile private[IdentityStream] var retired: Set[String] = Set.empty

    private[IdentityStream] def versionDirs(): Seq[Path] = {
      val p = new Path(stateDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(d => d.getName.startsWith("base_") || d.getName.startsWith("delta_"))
        .filterNot(d => retired.contains(d.toString))
    }

    // resolved mapping cached between writes: the LWW window over the
    // version dirs is a shuffle, and most reads (no-op batches, serving
    // lookups) happen against an unchanged table
    @volatile private var cached: Option[DataFrame] = None

    private[IdentityStream] def invalidate(): Unit = synchronized {
      cached.foreach(_.unpersist())
      cached = None
    }

    /** Current (node, comp) mapping — nodes whose canonical id is
      * themselves may be absent (identity is the default).
      */
    def df: DataFrame = synchronized {
      cached match {
        case Some(c) => c
        case None =>
          import spark.implicits._
          val dirs = versionDirs()
          val resolved =
            if (dirs.isEmpty) Seq.empty[(String, String)].toDF("node", "comp")
            else spark.read.parquet(dirs.map(_.toString): _*)
              .withColumn("rn", row_number().over(
                Window.partitionBy(col("node")).orderBy(col("ver").desc)))
              .filter(col("rn") === 1)
              .select("node", "comp")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached = Some(resolved)
          resolved
      }
    }

    /** Point lookup (a 1-row filtered read, not a driver map). Pipelines
      * canonicalize in bulk by joining `df` instead.
      */
    def canonical(id: String): String = {
      val r = df.filter(col("node") === lit(id)).select("comp").collect()
      if (r.isEmpty) id else r(0).getString(0)
    }
  }

  /** Wire the resolver onto a stream of (src, dst) identifier edges.
    * Returns the writer (caller starts it) and the mapping handle.
    */
  /** Contracted graphs within `Route.StreamCcEdges` run union-find on the
    * driver (one tiny collect, microseconds) instead of iterative
    * distributed CC (~8 Spark jobs) — the contracted graph is bounded by
    * the BATCH's edge count, so this is the common case; a genuinely huge
    * batch falls back to the distributed path.
    */
  def resolver(spark: SparkSession, edges: DataFrame, stateDir: String,
               maxIter: Int = 100)
  : (DataStreamWriter[org.apache.spark.sql.Row], MappingHandle) = {
    val handle = new MappingHandle(spark, stateDir)
    // Version base: one past the highest version already on disk. Batch ids
    // restart at 0 when a resolver starts with a fresh checkpoint, and raw
    // batchId versions would then COLLIDE with the previous incarnation's
    // dirs — overwriting delta_0 with unrelated rows and making old rows
    // win the LWW fold. ver = verBase + batchId is monotone across any
    // restart and still idempotent under crash-replay within a run (same
    // batchId -> same ver -> same dir, overwritten in place).
    val verBase = handle.versionDirs()
      .map(d => d.getName.dropWhile(_ != '_').drop(1).toLong)
      .foldLeft(-1L)(math.max) + 1L
    val writer = edges.writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ver = verBase + batchId
        val newEdges = batch.select("src", "dst")
          .filter(col("src").isNotNull && col("dst").isNotNull
            && col("src") =!= col("dst"))
          .distinct()
          .localCheckpoint(true)
        val nNew = newEdges.count()
        if (nNew == 0) handle.addStats(BatchStats(batchId, 0L, 0L, 0L))
        else {
          val prev = handle.df
          // endpoints with their current label (absent row = own label);
          // small per batch, so both joins against it broadcast
          val endpoints = newEdges.select(col("src").as("id"))
            .unionAll(newEdges.select(col("dst").as("id"))).distinct()
          val epComp = endpoints
            .join(prev.withColumnRenamed("node", "id"), Seq("id"), "left")
            .select(col("id"), coalesce(col("comp"), col("id")).as("c0"))
            .localCheckpoint(true)
          // contract each edge to the component level; edges inside one
          // existing component vanish here
          val contracted = newEdges
            .join(broadcast(epComp.select(col("id").as("src"), col("c0").as("ca"))), Seq("src"))
            .join(broadcast(epComp.select(col("id").as("dst"), col("c0").as("cb"))), Seq("dst"))
            .select(col("ca").as("src"), col("cb").as("dst"))
            .filter(col("src") =!= col("dst"))
            .distinct()
          import spark.implicits._
          // CC over the contracted graph only — size ∝ this batch; the
          // adaptive kernel collects + union-finds when small (the common
          // case: zero CC jobs), falls back to distributed propagation
          // when the probe overflows
          val (ccDf, probedCount) = Identity.connectedComponentsAdaptiveCounted(
            contracted.as[(String, String)], Route.StreamCcEdges, maxIter)
          val nContracted =
            if (probedCount >= 0) probedCount else contracted.count()
          val deltas =
            if (nContracted == 0) spark.emptyDataFrame
            else {
              val merge = ccDf.toDF("c0", "newc")
              // `changed` keys are the contracted-graph nodes whose label
              // dropped: the LOSING canonicals and merged-in new ids. By
              // construction a canonical has NO stored row (identity is the
              // default), so these rows must become deltas THEMSELVES —
              // deriving them from stored rows or batch endpoints misses a
              // losing canonical that is in neither set (a merge arriving
              // via a non-canonical member)
              val changed = merge.filter(col("c0") =!= col("newc"))
              val relabeledCanonicals =
                changed.select(col("c0").as("node"), col("newc").as("comp"))
              // stored members of merged components: one scan of the label
              // table with the tiny map broadcast — output ∝ changed members
              val relabeledStored = prev
                .join(broadcast(changed.withColumnRenamed("c0", "comp")), Seq("comp"))
                .select(col("node"), col("newc").as("comp"))
              relabeledCanonicals.unionAll(relabeledStored)
            }
          // localCheckpoint before counting: count() + write would
          // otherwise execute the relabel plan twice — including the
          // broadcast join that scans the ENTIRE persisted mapping — on
          // every merge batch of a 1 s trigger (deltas are merge-sized,
          // so the materialization is tiny)
          val deltasM = if (nContracted == 0) deltas else deltas.localCheckpoint()
          val nDelta = if (nContracted == 0) 0L else deltasM.count()
          if (nDelta > 0) {
            deltasM.withColumn("ver", lit(ver))
              .write.mode("overwrite").parquet(s"$stateDir/delta_$ver")
            handle.invalidate() // the cached mapping no longer reflects disk
          }
          handle.addStats(BatchStats(batchId, nNew, nContracted, nDelta))
          // LSM compaction: fold deltas into a fresh base so mapping reads
          // stay O(1) files; amortized cost one table rewrite / CompactEvery.
          // The generation being replaced is NOT deleted here — a serving
          // thread may hold the pre-compaction DataFrame, and evicting its
          // persisted blocks would recompute from deleted files. Instead it
          // is marked retired (excluded from reads) and reclaimed at the
          // NEXT compaction, when any such reader has had a full
          // CompactEvery-batch window to finish.
          if (handle.versionDirs().size >= CompactEvery) {
            // crash-replay guard: on replay of a compaction batch the
            // pre-crash base_$ver is already on disk and would otherwise
            // land in `old` — retiring the very base we are about to
            // (re)write and emptying the mapping. Never retire the target.
            val old = handle.versionDirs()
              .filterNot(_.getName == s"base_$ver")
            // snapshot before overwriting: on replay the fold READS
            // base_$ver while the write below replaces it — cut the
            // file lineage first so the overwrite can't race its own input
            val snap = handle.df.localCheckpoint(true)
            snap.withColumn("ver", lit(ver))
              .write.mode("overwrite").parquet(s"$stateDir/base_$ver")
            val fs = new Path(stateDir)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            handle.retired.foreach(d => fs.delete(new Path(d), true))
            handle.retired = old.map(_.toString).toSet
            // drop the cached mapping so new reads resolve the fresh base
            handle.invalidate()
          }
        }
        ()
      }
    (writer, handle)
  }
}
