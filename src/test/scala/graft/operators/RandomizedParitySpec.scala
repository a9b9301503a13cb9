package graft.operators

import graft.SparkSpec
import graft.streaming.{CdpEvent, CdpPipeline}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Randomized differential tests: the distributed operators against tiny
  * exact in-memory oracles, across many seeded random inputs — the shapes
  * (graph topology, arrival order) that hand-picked fixtures miss.
  */
class RandomizedParitySpec extends SparkSpec {

  test("connected components == union-find oracle on 25 random graphs") {
    import spark.implicits._
    for (seed <- 0 until 25) {
      val rnd = new Random(seed)
      val n = 2 + rnd.nextInt(30)
      val edges = Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // oracle: path-compressing union-find, min-root canonicalization
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        val got = Identity.connectedComponents(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"seed=$seed edges=$edges")
      }
    }
  }

  test("CDP state is sufficient: incremental batch folds == one-shot fold") {
    // the streaming pipeline folds each micro-batch separately, carrying
    // only ProfileState between batches — so the final state must not
    // depend on where batch boundaries fall in the (ts, eventId)-ordered
    // stream. This fails if applyEvent ever needs history beyond its
    // state (e.g. a dedup or bucket-prune decision that looks across the
    // whole log).
    for (seed <- 0 until 10) {
      val rnd = new Random(1000 + seed)
      val events = (0 until 30).map { i =>
        CdpEvent(
          eventId = s"e$i",
          ts = new java.sql.Timestamp(1704067200000L + rnd.nextInt(600000)),
          eventType = if (rnd.nextBoolean()) "TRACK" else "IDENTIFY",
          userId = Some("u1"), anonymousId = None, email = None,
          name = Some("feature_used"),
          traits = if (rnd.nextBoolean()) Map("plan" -> (if (rnd.nextBoolean()) "pro" else "free"))
                   else Map.empty)
      }.sortBy(e => (CdpPipeline.micros(e.ts), e.eventId))
      def foldFrom(st0: CdpPipeline.ProfileState, evs: Seq[CdpEvent]) =
        evs.foldLeft(st0)((st, e) => CdpPipeline.applyEvent("user:u1", st, e)._1)
      val oneShot = foldFrom(CdpPipeline.ProfileState.empty, events)
      // random consecutive batch boundaries
      val cuts = (Seq(0, events.length) ++ Seq.fill(3)(rnd.nextInt(events.length)))
        .distinct.sorted
      // fold batch by batch, each batch sorted as the stream's fold sorts it
      def batched(log: Seq[CdpEvent]) =
        cuts.zip(cuts.tail).foldLeft(CdpPipeline.ProfileState.empty) {
          case (st, (from, until)) => foldFrom(st,
            log.slice(from, until).sortBy(e => (CdpPipeline.micros(e.ts), e.eventId)))
        }
      assert(batched(events) == oneShot, s"seed=$seed cuts=$cuts")
      // the same events arriving shuffled across those batches: a TRACK
      // now lands before, between and after the minute buckets held
      assert(batched(rnd.shuffle(events)) == oneShot, s"seed=$seed cuts=$cuts, shuffled")
    }
  }

  test("ExactSubstr cut == brute-force interval-union oracle on random corpora") {
    // spanSurvivors computes removed tokens via lead+clamp over starts in
    // long islands — the subtle bits are island detection and the overlap
    // of ADJACENT long runs. The oracle here is structurally different:
    // a boolean mask over token positions (true set union), over corpora
    // with PLANTED shared passages of random lengths (some below the
    // 50-token cut, some above) at random positions.
    import spark.implicits._
    val N = 6; val Cut = 50; val MinKeep = 20 // = DedupQueries' constants
    for (seed <- 0 until 8) {
      val rnd = new Random(7000 + seed)
      val passages = (0 until 3 + rnd.nextInt(4)).map { j =>
        (0 until 30 + rnd.nextInt(45)).map(t => s"p${j}_$t")
      }
      val docsW = (0 until 6 + rnd.nextInt(8)).map { d =>
        var w = Vector[String]()
        def priv(k: Int): Unit =
          w ++= (0 until k).map(i => s"d${d}_${w.size + i}")
        priv(3 + rnd.nextInt(15))
        (0 until rnd.nextInt(3)).foreach { _ =>
          w ++= passages(rnd.nextInt(passages.size))
          priv(1 + rnd.nextInt(15))
        }
        (d.toLong, w)
      }
      // which docs contain each N-gram (dup = present in >= 2 docs)
      val gramDocs = scala.collection.mutable.Map[Seq[String], Set[Long]]()
      docsW.foreach { case (id, w) =>
        w.sliding(N).filter(_.size == N).foreach { g =>
          gramDocs(g.toList) = gramDocs.getOrElse(g.toList, Set()) + id
        }
      }
      val want = docsW.map { case (id, w) =>
        val starts = (0 to w.size - N)
          .filter(p => gramDocs(w.slice(p, p + N).toList).size >= 2)
        val islands = starts.foldLeft(Vector[Vector[Int]]()) { (acc, p) =>
          if (acc.nonEmpty && acc.last.last == p - 1) acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
        val mask = Array.fill(w.size)(false)
        islands.filter(_.size + N - 1 >= Cut)
          .foreach(_.foreach(p => (p until p + N).foreach(mask(_) = true)))
        val nCut = mask.count(identity).toLong
        val nKept = w.size - nCut
        val action =
          if (nCut == 0) "keep" else if (nKept < MinKeep) "drop" else "trim"
        id -> ((w.size.toLong, nCut, nKept, action))
      }.toMap
      val got = graft.queries.DedupQueries.spanSurvivors(
          docsW.map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
        .toMap
      assert(got == want,
        s"seed=$seed diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
      // the generator must actually exercise all three actions somewhere
      // across the seeds (checked in aggregate below via actionsSeen)
      got.values.foreach(v => actionsSeen += v._4)
    }
    assert(actionsSeen == Set("keep", "trim", "drop"),
      s"generator never produced: ${Set("keep", "trim", "drop") -- actionsSeen}")
  }

  private val actionsSeen = scala.collection.mutable.Set[String]()

  test("duplicated-span coverage == mask-union oracle on random corpora") {
    // dupSpans' lead+clamp interval union over ALL duplicated starts,
    // against the position-mask oracle — shorter passages than the cut
    // test so coverage is dense but runs stay below the 50-token cut
    import spark.implicits._
    val N = 6
    for (seed <- 0 until 6) {
      val rnd = new Random(9000 + seed)
      val passages = (0 until 4 + rnd.nextInt(4)).map { j =>
        (0 until 8 + rnd.nextInt(30)).map(t => s"q${j}_$t")
      }
      val docsW = (0 until 6 + rnd.nextInt(8)).map { d =>
        var w = Vector[String]()
        def priv(k: Int): Unit =
          w ++= (0 until k).map(i => s"d${d}_${w.size + i}")
        priv(3 + rnd.nextInt(10))
        (0 until rnd.nextInt(4)).foreach { _ =>
          w ++= passages(rnd.nextInt(passages.size))
          priv(1 + rnd.nextInt(10))
        }
        (d.toLong, w)
      }
      val gramDocs = scala.collection.mutable.Map[Seq[String], Set[Long]]()
      docsW.foreach { case (id, w) =>
        w.sliding(N).filter(_.size == N).foreach { g =>
          gramDocs(g.toList) = gramDocs.getOrElse(g.toList, Set()) + id
        }
      }
      val want = docsW.map { case (id, w) =>
        val starts = (0 to w.size - N)
          .filter(p => gramDocs(w.slice(p, p + N).toList).size >= 2)
        val mask = Array.fill(w.size)(false)
        starts.foreach(p => (p until p + N).foreach(mask(_) = true))
        id -> ((w.size.toLong, starts.size.toLong, mask.count(identity).toLong))
      }.toMap
      val got = graft.queries.DedupQueries.dupSpans(
          docsW.map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text"))
        .select("doc_id", "n_words", "n_dup_starts", "n_dup_tokens")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == want,
        s"seed=$seed diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
    }
  }

  test("chunk manifest == arithmetic oracle across random doc lengths") {
    import spark.implicits._
    import graft.queries.PackingQueries.{ChunkSize, ChunkStride}
    val rnd = new Random(11000)
    val docsW = (0 until 60).map { d =>
      (d.toLong, (1 to 1 + rnd.nextInt(130)).map(i => s"c${d}_$i").toVector)
    }
    val want = docsW.flatMap { case (id, w) =>
      Iterator.from(0).map(k => 1 + k * ChunkStride).takeWhile(_ <= w.size)
        .zipWithIndex.map { case (start, k) =>
          val end = math.min(start + ChunkSize - 1, w.size)
          (id, (k + 1).toLong, start.toLong, end.toLong,
            (end - start + 1).toLong, w.slice(start - 1, end).mkString(" "))
        }
    }.toSet
    val got = graft.queries.PackingQueries.chunkManifest(
        docsW.map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    assert(got == want,
      s"diff=${(got -- want).take(3)} / ${(want -- got).take(3)}")
  }

  test("hash split fractions are stable and partitioning-independent") {
    import spark.implicits._
    val ids = (0 until 5000).map(_.toLong).toDF("doc_id")
    def splitCounts(df: org.apache.spark.sql.DataFrame) = {
      val h = TextOps.hash64(concat(lit("spl"), col("doc_id"))) % 100
      df.select(when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("s"))
        .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val c1 = splitCounts(ids.repartition(1))
    val c32 = splitCounts(ids.repartition(32))
    assert(c1 == c32)
    // fractions are near 80/10/10 (hash uniformity)
    assert(math.abs(c1("train") - 4000L) < 200, c1.toString)
    assert(math.abs(c1("valid") - 500L) < 100, c1.toString)
  }

  test("rowwise minhash signatures == groupBy signatures on random corpora") {
    // the streaming band probe computes signatures per row (array_min over
    // the shingle array) instead of the batch groupBy min — the paths
    // share the shingle expression, so what this pins is the register
    // arithmetic and the short-doc/empty-text exclusions across corpora
    // with shared shingles, repeated words, and sub-n-word docs
    import spark.implicits._
    for (seed <- 0 until 10) {
      val rnd = new Random(9000 + seed)
      val vocab = Vector.tabulate(25)(i => s"w${i % (5 + rnd.nextInt(20))}")
      val docs = (0 until 40).map { i =>
        val len = rnd.nextInt(13) // includes 0..4-word docs (no 5-shingles)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("id", "text")
      val viaGroupBy = Dedup.minhashSignatures(
        Dedup.shingleHashes(docs, col("id"), col("text"), 5))
      val viaRowwise = Dedup.minhashSignaturesRowwise(
        docs, col("id"), col("text"), 5)
      assert(viaGroupBy.except(viaRowwise).isEmpty
        && viaRowwise.except(viaGroupBy).isEmpty, s"seed=$seed")
      // the admit's per-doc band-key array (CurationPipeline's fetch)
      // holds exactly the bandKeys rows, and none for a sub-5-word doc
      val batchBands = Dedup.bandKeys(viaGroupBy)
      val keyArray = docs.select(col("id"), posexplode(Dedup.bandKeyArray(
          org.apache.spark.sql.graft.ArrayExpressions.minhashRegisters(
            org.apache.spark.sql.graft.ArrayExpressions.shingleHashes(col("text"), 5)))))
        .select(col("id"), col("pos").as("band"), col("col").as("key"))
      assert(batchBands.exceptAll(keyArray).isEmpty
        && keyArray.exceptAll(batchBands).isEmpty, s"band keys, seed=$seed")
    }
  }
}
