package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Identity resolution (SURVEY §2.4 J2): connected components over an
  * identifier-edge graph with the reference's determinism contract — the
  * canonical id of a component is its lexicographically smallest node
  * (reference `cdp/identity/IdentityGraph.kt:70-78`).
  *
  * Implementation: iterative min-label propagation, all DataFrame ops.
  * Each round is one join + one groupBy (shuffle on node); convergence in
  * O(component diameter) rounds. Lineage is truncated per round with
  * localCheckpoint so the plan stays bounded at any scale; the driver only
  * ever sees a 1-row count for the convergence test, never the data. (At
  * extreme diameters the large-star/small-star variant halves rounds; CDP
  * identity graphs are shallow, so plain propagation is the right cost.)
  */
object Identity {

  /** edges: DataFrame with string columns (src, dst). Returns
    * (node, component).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    // materialize the input ONCE before symmetrizing: the union references
    // the edge subplan twice and Spark does not share common subplans, so
    // an expensive upstream (e.g. a near-dup verify) would execute twice
    ccIterative(edges.select(col("src"), col("dst")).localCheckpoint(true), maxIter)

  /** Iterative propagation over an ALREADY-MATERIALIZED (src, dst) edge
    * frame — callers that have checkpointed the edges (the adaptive
    * fallback) must not pay a second copy.
    */
  private def ccIterative(e0: DataFrame, maxIter: Int): DataFrame = {
    val sym = e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val compType = sym.schema("src").dataType

    // round 0 is fused with label init: with identity labels the neighbor
    // lookup IS sym itself, so the first round needs no join and the
    // separate distinct-nodes materialization disappears (two fewer
    // shuffles + one fewer eager checkpoint of fixed per-call overhead)
    var labels: DataFrame = null
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborComp =
        if (labels == null) sym.select(col("src").as("node"), col("dst").as("comp"))
        else sym
          .join(labels.withColumnRenamed("node", "dst"), "dst")
          .select(col("src").as("node"), col("comp"))
      val self =
        if (labels == null)
          sym.select(col("src").as("node"), col("src").as("comp"), col("src").as("own"))
        else labels.withColumn("own", col("comp"))
      // carry the previous label through the same aggregation (`own` is
      // non-null exactly on the self row), so convergence detection is a
      // checkpointed-scan filter — no per-round compare join
      val next = neighborComp
        .withColumn("own", lit(null).cast(compType))
        .unionAll(self)
        .groupBy("node").agg(min("comp").as("comp"), max("own").as("own"))
        .localCheckpoint(true)
      val changed = next.filter(col("comp") =!= col("own")).limit(1).count()
      labels = next.select("node", "comp")
      converged = changed == 0
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — component " +
        "diameter exceeds the bound; raise maxIter")
    labels.withColumnRenamed("comp", "component")
  }

  /** Driver-local union-find for BOUNDED edge sets (a contracted
    * micro-batch, a verified candidate block) — callers must size-guard
    * before collecting. Same contract as `connectedComponents`: component
    * label = smallest member under the id ordering. The union rule keeps
    * the smaller root, so every root is its set's minimum by induction.
    */
  def connectedComponentsLocal[T](edges: Iterable[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Binary UTF-8 byte order — what Spark's min()/least() on StringType
    * and DuckDB's string comparison both use. Java's Ordering[String]
    * (UTF-16 code units) disagrees for supplementary-plane characters, so
    * the local kernel must compare the same way the distributed path and
    * the oracle do.
    */
  val Utf8StringOrdering: Ordering[String] = (a: String, b: String) => {
    val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ba.length, bb.length)
    var r = 0
    while (r == 0 && i < n) { r = (ba(i) & 0xff) - (bb(i) & 0xff); i += 1 }
    if (r != 0) r else ba.length - bb.length
  }

  /** Substitute the UTF-8 ordering when T is String so local results match
    * the engines' binary comparison.
    */
  private def engineOrdering[T](probe: Array[(T, T)], ord: Ordering[T]): Ordering[T] =
    if (probe.nonEmpty && probe(0)._1.isInstanceOf[String])
      Utf8StringOrdering.asInstanceOf[Ordering[T]]
    else ord

  /** Adaptive CC: materialize the edge set once; within `bound` edges
    * (`Route.CcEdges` unless the caller names its own), union-find on the
    * driver (one bounded collect, zero CC jobs); beyond it, the iterative
    * distributed propagation. The probe IS the collect in the common case
    * — at most bound+1 id pairs reach the driver, never the component
    * labels of a big graph. Output: (node, component), the same
    * deterministic min-id contract. Returns the component frame plus the
    * probed edge count (-1 when the distributed path ran).
    */
  def connectedComponentsAdaptiveCounted[T](
      edges: org.apache.spark.sql.Dataset[(T, T)],
      bound: Route.Bound = Route.CcEdges,
      maxIter: Int = 20)(
      implicit ord: Ordering[T],
      enc: org.apache.spark.sql.Encoder[(T, T)]): (DataFrame, Long) = {
    val e0 = edges.localCheckpoint(true)
    Route.collectWithin("Identity.connectedComponentsAdaptive", bound, e0) match {
      case Some(probe) =>
        val comp = connectedComponentsLocal(probe.toSeq)(engineOrdering(probe, ord))
        (e0.sparkSession.createDataset(comp.toSeq)(enc).toDF("node", "component"),
          probe.length.toLong)
      case None =>
        (ccIterative(e0.toDF("src", "dst"), maxIter), -1L)
    }
  }

  def connectedComponentsAdaptive[T](edges: org.apache.spark.sql.Dataset[(T, T)],
                                     maxIter: Int = 20)(
      implicit ord: Ordering[T],
      enc: org.apache.spark.sql.Encoder[(T, T)]): DataFrame =
    connectedComponentsAdaptiveCounted(edges, Route.CcEdges, maxIter)._1
}
