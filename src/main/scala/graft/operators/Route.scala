package graft.operators

import org.apache.spark.sql.Dataset
import scala.util.DynamicVariable

/** The one routing seam between the driver kernels and their distributed
  * plans. A kernel over one bounded collect wins at small inputs because
  * every Spark job has a fixed scheduling cost (the per-batch floor of
  * D-Streams, SOSP 2013); past a size bound its driver memory or single
  * thread loses and the distributed plan runs unchanged. This object owns
  * every such bound and the three probe shapes the sites use: `fits` (an
  * id-only `limit(b + 1).count()`), `collectWithin` (a `limit(b + 1)
  * .collect()` that IS the collect) and `admits` (a size the caller
  * already holds).
  *
  * Each decision logs one INFO line on the `graft.operators.Route` logger:
  * `route site=<site> bound=<name>:<value> observed=<n> route=<local|distributed>`.
  * A limit probe stops at bound + 1, so observed = bound + 1 means "past
  * the bound"; `observed=-` means the bound was <= 0 and nothing was
  * probed. A bound <= 0 always routes distributed — that is how `forcing`
  * pins a route.
  */
object Route {

  /** A named size bound: `default` unless a `forcing` block overrides it. */
  final class Bound private[Route] (val name: String, val default: Long) {
    def value: Long = overrides.value.getOrElse(this, default)
  }

  /** Docs for every doc-sized kernel (pairwise dedup, containment, span
    * cut, contamination, verifiedClusters' full-local LSH, the ingest
    * admit's containment step): 20k docs × ~130 shingles × 8 B ≈ 20 MB of
    * shingle arrays on the driver, the ingest guard's collect order.
    */
  val Docs = new Bound("docs", 20000L)
  /** verifiedClusters' candidate pairs: 20k pairs ship at most 40k
    * involved docs' shingle arrays to the driver (~tens of MB).
    */
  val VerifyPairs = new Bound("verify_pairs", 20000L)
  /** sourceSimilarity's distinct (source, shingle) rows: ~400k is where
    * the single-threaded kernel stops beating the parallel plan — the 10x
    * tier (~1.6M rows) measured 2x SLOWER through the kernel (collect + GC
    * churn of boxed tuples).
    */
  val SourceRows = new Bound("source_rows", 400000L)
  /** sourceSimilarity's source pairs, each a two-pointer intersection on
    * the one driver thread: caps the loop at ~1000 sources.
    */
  val SourcePairs = new Bound("source_pairs", 500000L)
  /** Integer PageRank edges: the kernel symmetrizes to 2x (String,
    * String) boxed tuples plus id maps (~50-100 MB at 200k edges); a 1M
    * bound risked driver OOM just below the boundary for no benefit.
    */
  val PagerankEdges = new Bound("pagerank_edges", 200000L)
  /** BPE weighted-dictionary words: 200k × ~60 chars of spaced encoding ≈
    * 25 MB on the driver. Past it only the per-round argmax loop goes
    * distributed; the corpus scan is the same.
    */
  val BpeWords = new Bound("bpe_words", 200000L)
  /** Adaptive CC edges: the probe IS the collect, so at most bound + 1 id
    * pairs reach the driver, never the labels of a big graph.
    */
  val CcEdges = new Bound("cc_edges", 1000000L)
  /** The streaming identity resolver's contracted graph, bounded by one
    * micro-batch's edges: union-find on the driver is the common case.
    */
  val StreamCcEdges = new Bound("stream_cc_edges", 100000L)

  val All: Seq[Bound] = Seq(Docs, VerifyPairs, SourceRows, SourcePairs,
    PagerankEdges, BpeWords, CcEdges, StreamCcEdges)

  private val overrides = new DynamicVariable[Map[Bound, Long]](Map.empty)
  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Route")

  /** Run `body` with `bounds` in force instead of their defaults. Scoped to
    * this thread and the threads it starts: a streaming query started
    * inside the block keeps the override for its micro-batches.
    */
  private[graft] def forcing[T](bounds: (Bound, Long)*)(body: => T): T =
    overrides.withValue(overrides.value ++ bounds)(body)

  /** Local iff `n` <= the bound; `n` is evaluated only for a positive bound. */
  def admits(site: String, bound: Bound, n: => Long): Boolean = {
    val b = bound.value
    val observed = if (b > 0) Some(n) else None
    val local = observed.exists(_ <= b)
    log.info(s"route site=$site bound=${bound.name}:$b observed=" +
      observed.fold("-")(_.toString) + (if (local) " route=local" else " route=distributed"))
    local
  }

  /** `limit(b + 1).count()` over `ds`, which the caller projects to its id
    * column so no kernel payload is computed just to learn it is too big.
    */
  def fits(site: String, bound: Bound, ds: Dataset[_]): Boolean =
    admits(site, bound, ds.limit(probeLimit(bound)).count())

  /** `Some(rows)` when `ds` holds at most the bound's rows, else None. */
  def collectWithin[T](site: String, bound: Bound, ds: Dataset[T]): Option[Array[T]] = {
    lazy val rows = ds.limit(probeLimit(bound)).collect()
    if (admits(site, bound, rows.length)) Some(rows) else None
  }

  private def probeLimit(bound: Bound): Int =
    (math.min(bound.value, Int.MaxValue - 1L) + 1L).toInt
}
