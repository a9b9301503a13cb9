package graft.streaming

import graft.SparkSpec
import graft.operators.Route
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming identity resolution: components grow across batches; a late
  * ALIAS merges two components (future routing only — the reference's
  * no-state-migration contract); canonical id stays lexicographically
  * smallest. Incremental contract: per-batch CC runs on the CONTRACTED
  * graph (size ∝ the batch's edges, not the accumulated edge set) and the
  * mapping is served as a DataFrame, never a driver-side map.
  */
class IdentityStreamSpec extends SparkSpec {

  test("late ALIAS merges components; canonical stays lexicographic min") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream").toString
    val input = MemoryStream[(String, String)]
    val (writer, mapping) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val query = writer.start()
    try {
      // batch 1: two separate components {user:a, anon:x} {user:b, email:c}
      input.addData(("user:a", "anon:x"), ("user:b", "email:c"))
      query.processAllAvailable()
      assert(mapping.canonical("user:a") == "anon:x") // "anon:x" < "user:a"
      assert(mapping.canonical("user:b") == "email:c")
      assert(mapping.canonical("unknown:z") == "unknown:z") // unmapped: identity
      // batch 2: late ALIAS joins the two components
      input.addData(("anon:x", "email:c"))
      query.processAllAvailable()
      val all = Seq("user:a", "anon:x", "user:b", "email:c").map(mapping.canonical)
      assert(all.toSet == Set("anon:x")) // "anon:x" < "email:c" < "user:a"

      // incremental contract: batch 2's CC saw ONE contracted edge, even
      // though the accumulated graph has three — per-batch work ∝ new edges
      val s2 = mapping.stats.filter(_.newEdges > 0).last
      assert(s2.newEdges == 1 && s2.contractedEdges == 1)

      // the mapping is join-served: canonical ids default to identity, so
      // the stored table has one row per NON-canonical node only
      val rows = mapping.df.as[(String, String)].collect().toMap
      assert(rows == Map(
        "user:a" -> "anon:x", "user:b" -> "anon:x", "email:c" -> "anon:x"))
    } finally query.stop()
  }

  test("merge via a non-canonical member relabels the losing canonical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream4").toString
    val input = MemoryStream[(String, String)]
    val (writer, mapping) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val query = writer.start()
    try {
      // component {user:b, anon:x} with canonical anon:x (no stored row)
      input.addData(("user:b", "anon:x"))
      query.processAllAvailable()
      assert(mapping.canonical("user:b") == "anon:x")
      // merge arrives via the NON-canonical member user:b, introducing a
      // lexicographically smaller id: the losing canonical anon:x is
      // neither a stored row nor guaranteed an endpoint winner — it must
      // still be relabeled, or the component silently splits
      input.addData(("user:b", "aaa:z")) // "aaa:z" < "anon:x"
      query.processAllAvailable()
      assert(mapping.canonical("user:b") == "aaa:z")
      assert(mapping.canonical("anon:x") == "aaa:z",
        "losing canonical must follow its component's new canonical")
    } finally query.stop()
  }

  test("restart resumes from the persisted label table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream3").toString
    val in1 = MemoryStream[(String, String)]
    val (w1, m1) = IdentityStream.resolver(
      spark, in1.toDF().toDF("src", "dst"), s"$dir/labels")
    val q1 = w1.start()
    try {
      in1.addData(("user:b", "anon:a"))
      q1.processAllAvailable()
      assert(m1.canonical("user:b") == "anon:a")
    } finally q1.stop()

    // a NEW resolver over the same state dir: the label table IS the
    // checkpoint — the old component is visible and mergeable immediately
    val in2 = MemoryStream[(String, String)]
    val (w2, m2) = IdentityStream.resolver(
      spark, in2.toDF().toDF("src", "dst"), s"$dir/labels")
    val q2 = w2.start()
    try {
      assert(m2.canonical("user:b") == "anon:a") // visible before any batch
      in2.addData(("user:b", "email:c"))
      q2.processAllAvailable()
      assert(m2.canonical("email:c") == "anon:a",
        "merge into the pre-restart component must reuse its canonical id")
      // fresh-checkpoint restart restarts batchIds at 0: the new delta must
      // NOT collide with (and overwrite) the previous incarnation's delta_0
      // — the pre-restart row would be lost (versions are seeded past the
      // max on-disk version precisely for this)
      assert(m2.canonical("user:b") == "anon:a",
        "pre-restart mapping must survive post-restart delta writes")
      // and the merge contracted against the restored labels: 1 edge in
      val s = m2.stats.last
      assert(s.contractedEdges == 1)
    } finally q2.stop()
  }

  test("randomized: incremental mapping == batch CC over the full edge set") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 30).map(i => f"n$i%02d")
    val edges = Seq.fill(40) {
      val a = nodes(rnd.nextInt(nodes.length))
      var b = nodes(rnd.nextInt(nodes.length))
      while (b == a) b = nodes(rnd.nextInt(nodes.length))
      (a, b)
    }
    // arbitrary batch boundaries: correctness must not depend on arrival
    // order; 10 batches also crosses CompactEvery, so the LSM compaction
    // (base rewrite + delta deletion) runs inside this test
    val batches = rnd.shuffle(edges).grouped(4).toSeq

    val dir = java.nio.file.Files.createTempDirectory("idstream5").toString
    val input = MemoryStream[(String, String)]
    val (writer, mapping) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    // a 0 edge bound forces the DISTRIBUTED CC path here (the query's
    // micro-batch thread starts inside the override and keeps it); the
    // other tests exercise the default driver-local union-find kernel
    val query = Route.forcing(Route.StreamCcEdges -> 0L)(writer.start())
    try {
      batches.foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = mapping.df.as[(String, String)].collect().toMap
      val expected = graft.operators.Identity
        .connectedComponents(edges.toDF("src", "dst"))
        .as[(String, String)].collect().toMap
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      touched.foreach { n =>
        assert(got.getOrElse(n, n) == expected(n),
          s"node $n: incremental=${got.getOrElse(n, n)} batch=${expected(n)}")
      }
    } finally query.stop()
  }

  test("checkpointed restart resumes batch ids; no version collisions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream7").toString
    val ck = s"$dir/ck"
    val input = MemoryStream[(String, String)]
    def labelDirs(): Set[String] =
      Option(new java.io.File(s"$dir/labels").list())
        .map(_.toSet).getOrElse(Set.empty[String])
        .filter(_.startsWith("delta_"))
    val (w1, m1) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val q1 = w1.option("checkpointLocation", ck).start()
    try {
      input.addData(("user:b", "anon:a"))
      q1.processAllAvailable()
      input.addData(("user:c", "anon:a"))
      q1.processAllAvailable()
      assert(m1.canonical("user:c") == "anon:a")
    } finally q1.stop()
    val preDirs = labelDirs()
    assert(preDirs.size == 2)

    // the PRODUCTION restart: same checkpoint, so batch ids RESUME
    // monotonically instead of restarting at 0 — new deltas must land in
    // fresh version dirs, never overwrite the previous incarnation's
    val (w2, m2) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val q2 = w2.option("checkpointLocation", ck).start()
    try {
      input.addData(("user:d", "anon:a"))
      q2.processAllAvailable()
      Seq("user:b", "user:c", "user:d").foreach { n =>
        assert(m2.canonical(n) == "anon:a", s"$n lost across restart")
      }
      val dirs = labelDirs()
      assert(preDirs.subsetOf(dirs) && dirs.size == preDirs.size + 1,
        s"post-restart delta must be a NEW version dir: $dirs")
    } finally q2.stop()
  }

  test("a reader holding the pre-compaction mapping survives compaction") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream6").toString
    val input = MemoryStream[(String, String)]
    val (writer, mapping) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val query = writer.start()
    def labelDirs(): Set[String] =
      Option(new java.io.File(s"$dir/labels").list())
        .map(_.toSet).getOrElse(Set.empty[String])
        .filter(n => n.startsWith("base_") || n.startsWith("delta_"))
    try {
      // 7 delta-producing batches: one version dir each, no compaction yet
      (1 to 7).foreach { i =>
        input.addData((f"zz$i%02d", f"aa$i%02d"))
        query.processAllAvailable()
      }
      val preDirs = labelDirs()
      assert(preDirs.size == 7)
      val pre = mapping.df // a serving thread's handle on the current mapping
      assert(pre.count() == 7)
      // batch 8 triggers compaction: new base written, old generation retired
      input.addData(("zz08", "aa08"))
      query.processAllAvailable()
      assert(labelDirs().exists(_.startsWith("base_")))
      // the race: compaction invalidate() unpersisted pre's blocks, so this
      // count recomputes from the pre-compaction files — which must still
      // exist (before the fix they were deleted: FileNotFoundException)
      assert(pre.count() == 7, "pre-compaction reader must not lose its files")
      assert(preDirs.subsetOf(labelDirs()), "retired generation stays on disk")
      // ...while retired dirs are excluded from fresh reads
      assert(mapping.df.count() == 8)
      // the second compaction reclaims the first retired generation — disk
      // stays bounded at <= 2 generations
      (9 to 16).foreach { i =>
        input.addData((f"zz$i%02d", f"aa$i%02d"))
        query.processAllAvailable()
      }
      assert(preDirs.intersect(labelDirs()).isEmpty,
        "first retired generation must be reclaimed by the next compaction")
      assert(mapping.df.count() == 16)
    } finally query.stop()
  }

  test("edges inside one component contract away; batches are cheap no-ops") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idstream2").toString
    val input = MemoryStream[(String, String)]
    val (writer, mapping) = IdentityStream.resolver(
      spark, input.toDF().toDF("src", "dst"), s"$dir/labels")
    val query = writer.start()
    try {
      input.addData(("b", "a"), ("c", "b"))
      query.processAllAvailable()
      assert(Seq("a", "b", "c").map(mapping.canonical) == Seq("a", "a", "a"))
      // an edge between two already-connected nodes contracts to a
      // self-loop and vanishes before CC: zero contracted edges, no delta
      input.addData(("c", "a"))
      query.processAllAvailable()
      val s = mapping.stats.last
      assert(s.newEdges == 1 && s.contractedEdges == 0 && s.deltaRows == 0)
      assert(mapping.canonical("c") == "a")
    } finally query.stop()
  }
}
