package graft.queries

import graft.SparkSpec
import graft.operators.Route
import org.apache.spark.sql.functions._

/** Behavioral tests for the integer-scaled identity PageRank beyond its
  * DuckDB oracle row: partition-independence (integer sums commute — the
  * whole point of the micro-rank design), hub dominance on a star graph,
  * and the closed-form star fixpoint the 5 rounds must converge onto.
  */
class PagerankSpec extends SparkSpec {

  private def ranks(edges: Seq[(String, String)], parts: Int): Map[String, Long] = {
    import spark.implicits._
    CdpBatch.identityPagerank(edges.toDF("src", "dst").repartition(parts))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("partitioning never changes a single micro-rank") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 40).map(i => (s"u:$i", s"k:${rnd.nextInt(12)}")).distinct
    val a = ranks(edges, 1)
    val b = ranks(edges, 13)
    assert(a == b, "integer micro-ranks must be partitioning-independent")
  }

  test("star graph: the hub out-ranks every leaf, leaves tie exactly") {
    // k:hub connected to 10 users, nothing else: N = 11 nodes. Leaves are
    // symmetric so their integer ranks must be EXACTLY equal, and the hub
    // absorbs every leaf's full rank each round.
    val edges = (1 to 10).map(i => (s"u:$i", "k:hub"))
    val r = ranks(edges, 3)
    assert(r.size == 11)
    val hub = r("k:hub")
    val leaves = (1 to 10).map(i => r(s"u:$i")).toSet
    assert(leaves.size == 1, s"leaves must tie exactly: $leaves")
    assert(hub > leaves.head * 5, s"hub $hub vs leaf ${leaves.head}")
    // closed-form check of round 1: t0 = S/11; every node's outflow goes
    // whole (degree 1 for leaves; hub splits by 10 but there are 10
    // leaves): hub gets tel + 85*(10*(t0 div 1)) div 100, leaves get
    // tel + 85*(t0 div 10) div 100 — recompute all 5 rounds in-memory
    val S = 1000000000000L
    val t0 = S / 11
    val tel = 15L * t0 / 100L
    var (h, l) = (t0, t0)
    for (_ <- 1 to 5) {
      val hNext = tel + 85L * (10L * l) / 100L
      val lNext = tel + 85L * (h / 10L) / 100L
      h = hNext; l = lNext
    }
    assert(r("k:hub") == h, s"hub fixpoint: got ${r("k:hub")} want $h")
    assert(leaves.head == l, s"leaf fixpoint: got ${leaves.head} want $l")
  }

  test("driver kernel == Pregel-by-join route, micro-rank for micro-rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = ((1 to 60).map(i => (s"u:$i", s"k:${rnd.nextInt(15)}")) ++
      (1 to 10).map(i => (s"u:$i", s"k:x$i"))).distinct
    val viaLocal = Route.forcing(Route.PagerankEdges -> 1000000L)(
      CdpBatch.identityPagerank(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val viaDistributed = Route.forcing(Route.PagerankEdges -> 0L)(
      CdpBatch.identityPagerank(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(viaLocal == viaDistributed)
  }

  test("null-endpoint edges rank identically on both routes (dirty input)") {
    import spark.implicits._
    // distributed NULL semantics (which the kernel must replicate, not
    // "fix"): null is a NODE (groupBy keys it, it dilutes t0), an edge
    // to null still splits its source's outflow, but rank never flows
    // through a null endpoint (equijoins don't match NULL) — so null
    // and nodes reachable only via null sit at the teleport floor
    val edges = Seq(("u:1", "k:a"), ("u:2", "k:a"), ("u:3", null),
      (null, "k:b")).toDF("src", "dst")
    val viaLocal = Route.forcing(Route.PagerankEdges -> 1000L)(
      CdpBatch.identityPagerank(edges)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val viaDistributed = Route.forcing(Route.PagerankEdges -> 0L)(
      CdpBatch.identityPagerank(edges)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(viaLocal == viaDistributed)
    assert(viaLocal.keySet ==
      Set("u:1", "u:2", "u:3", "k:a", "k:b", null))
    // teleport floor: n = 6 nodes -> tel = 15 * (PrScale/6) / 100
    val tel = 15L * (1000000000000L / 6L) / 100L
    assert(viaLocal(null) == tel && viaLocal("k:b") == tel &&
      viaLocal("u:3") == tel)
  }

  test("empty edge set yields an empty ranking, not a division blowup") {
    import spark.implicits._
    val out = CdpBatch.identityPagerank(
      Seq.empty[(String, String)].toDF("src", "dst"))
    assert(out.collect().isEmpty)
  }
}
