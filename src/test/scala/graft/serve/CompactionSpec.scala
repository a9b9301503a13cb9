package graft.serve

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.operators.Dedup

/** Committed after the measured work; seeing it means the JFR stream has
  * delivered every event recorded before it.
  */
@jdk.jfr.Name("graft.CompactionSpec.Mark")
class CompactionForkMark extends jdk.jfr.Event

/** The corpus-index compaction contract (CurationPipeline.compact) and
  * the resident probe:
  *  1. admit decisions are IDENTICAL against a compacted index and an
  *     uncompacted control — compaction is a pure layout change;
  *  2. the generation's band files are flat (no `kp=` slot directories),
  *     and the public probes hit what the index holds;
  *  3. the resident probe's hits equal brute-force set membership over
  *     the generation's and the live tail's keys, read from the files:
  *     tail only, generation only, both, inside a grace window, and on a
  *     generation in the old `kp=` layout;
  *  4. generation-retire reclamation: a second/third compaction deletes
  *     superseded generation dirs and absorbed tail files after a
  *     one-generation grace window, and the guards keep working from the
  *     generation alone;
  *  4b. a tail-only root reads its live tail in one job at its first
  *     probe, and the probes and admits after it read no tail file;
  *  5. an admit into a compacted index runs at most 3 Spark jobs, none of
  *     which writes or broadcasts, and reads no generation file;
  *  6. a generation written in the older key-slot layout (`kp=`
  *     directories, `keyParts` in its marker) gives the same decisions,
  *     and the next compaction rewrites it flat;
  *  7. the driver-written tail appends are renamed `part-` files that
  *     read back as exactly the admitted rows and compact like any other;
  *  8. the fetch of a one-partition batch runs `defaultParallelism` tasks
  *     and decides as the same batch in its own partitioning does;
  *  9. startup compaction folds a Spark-written bulk seed and
  *     driver-written appends into one generation;
  * 10. a malformed index key fails the admit;
  * 11. a root holds one persisted resident generation: superseded ones
  *     are unpersisted, `release` drops the last, and each build logs
  *     one INFO line and no WARN;
  * 12. the pipeline's own writes (tail appends, the sample, the marker)
  *     start no process (JFR `jdk.ProcessStart` with stacks);
  * 13. a new SparkContext on the same root probes and decides the same
  *     (this test stops the suite's context, so it runs last);
  *  probes and admits against a compacted index log no misplaced-hint
  *  WARN.
  */
class CompactionSpec extends SparkSpec {

  private def batchDf(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text").withColumn("ts", current_timestamp())
  }

  private def decisionsOf(stats: CurationPipeline.Stats,
                          ids: Set[Long]): Map[Long, (String, String)] =
    stats.recent.filter(d => ids.contains(d.docId))
      .map(d => d.docId -> (d.decision, d.reason)).toMap

  private def kpDirs(genDir: String): Seq[String] =
    new java.io.File(s"$genDir/bands").listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("kp="))

  /** Runs `body` and returns the (level, message) lines logger `name`
    * (the root logger if empty) printed meanwhile at `level` or above.
    */
  private def logged(name: String, level: org.apache.logging.log4j.Level)(
      body: => Unit): Seq[(org.apache.logging.log4j.Level, String)] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.logging.log4j.Level, String)]
    val appender = new AbstractAppender("test-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level)) {
          lines.add((e.getLevel, e.getMessage.getFormattedMessage)); ()
        }
    }
    val prevLevel = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    if (prevLevel.isMoreSpecificThan(level) && prevLevel != level) logger.setLevel(level)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
    }
    lines.asScala.toSeq
  }

  /** What Spark's hint-error logger printed while `body` ran (a broadcast
    * hint planned outside a join lands there).
    */
  private def hintWarnings(body: => Unit): Seq[String] =
    logged("org.apache.spark.sql.catalyst.analysis.HintErrorLogger",
      org.apache.logging.log4j.Level.WARN)(body).map(_._2)

  /** The index's keys as strings, read from its files: the current
    * generation's and the live (not absorbed) tail files'.
    */
  private def indexKeys(root: String): (Set[String], Set[(Int, String)]) = {
    val gen = CurationPipeline.currentGeneration(spark, root)
    def read(paths: Seq[String], ddl: String): Seq[org.apache.spark.sql.Row] =
      paths.flatMap { p =>
        val df = spark.read.schema(ddl).parquet(p)
        df.select(StructType.fromDDL(ddl).fieldNames.toSeq.map(col): _*).collect().toSeq
      }
    def live(dir: String, absorbed: Set[String]): Seq[String] = {
      val gone = absorbed.map(new org.apache.hadoop.fs.Path(_).getName)
      Option(new java.io.File(s"$root/$dir").listFiles()).toSeq.flatten
        .map(_.getName).filter(n => n.startsWith("part-") && !gone(n)).map(n => s"$root/$dir/$n")
    }
    val hashes = read(gen.map(g => s"${g.dir}/hash").toSeq ++
      live("hash_tail", gen.map(_.absorbedHash).getOrElse(Set.empty)), CurationPipeline.HashSchema)
    val bands = read(gen.map(g => s"${g.dir}/bands").toSeq ++
      live("band_tail", gen.map(_.absorbedBand).getOrElse(Set.empty)), CurationPipeline.BandSchema)
    (hashes.map(_.getString(0)).toSet, bands.map(r => (r.getInt(1), r.getString(2))).toSet)
  }

  /** Random probes of held keys, held band keys under another band, and
    * fresh keys through the public probes: each hit set equals set
    * membership over [[indexKeys]].
    */
  private def assertProbesExact(root: String, rnd: scala.util.Random): Unit = {
    import spark.implicits._
    val (hashes, bands) = indexKeys(root)
    assert(hashes.nonEmpty && bands.nonEmpty, s"premise: $root holds keys")
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def fresh(): String =
      md5.digest(rnd.nextString(12).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    for (_ <- 0 until 3) {
      val hq = rnd.shuffle(hashes.toSeq.sorted).take(15) ++ Seq.fill(15)(fresh())
      val gotH = CurationPipeline.corpusHashHits(spark, root, hq.toDF("text_hash"))
        .collect().map(_.getString(0)).toSet
      assert(gotH == hq.filter(hashes).toSet, s"hash hits differ from membership in $root")
      val held = rnd.shuffle(bands.toSeq.sorted).take(30)
      val bq = (held ++ held.take(10).map { case (b, k) => ((b + 1) % Dedup.Bands, k) } ++
        Seq.fill(10)((rnd.nextInt(Dedup.Bands), s"${rnd.nextLong(Dedup.P)}_${rnd.nextLong(Dedup.P)}")))
        .zipWithIndex.map { case ((b, k), i) => (i.toLong, b, k) }
      val gotB = CurationPipeline.corpusBandHits(spark, root, bq.toDF("id", "band", "key"))
        .collect().map(_.getLong(0)).toSet
      assert(gotB == bq.filter(r => bands((r._2, r._3))).map(_._1).toSet,
        s"band hits differ from membership in $root")
    }
  }

  /** `gen` absorbed every part file of both tails under `root`. */
  private def assertAbsorbsTail(gen: CurationPipeline.Generation, root: String): Unit =
    for ((dir, absorbed) <- Seq("hash_tail" -> gen.absorbedHash, "band_tail" -> gen.absorbedBand))
      assert(absorbed.map(new org.apache.hadoop.fs.Path(_).getName) ==
        new java.io.File(s"$root/$dir").list().toSet.filter(_.startsWith("part-")), dir)

  /** The job starts and SQL execution starts that `body` posts. A marker
    * job's start is delivered after every event `body` posted (one
    * listener, one queue), so the list is complete once it arrives.
    */
  private def eventsDuring(body: => Unit): Seq[SparkListenerEvent] = {
    val marker = "graft.test.marker"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null) drained.countDown()
        else { events.add(e); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(s); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1)).count() finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    events.asScala.toSeq
  }

  test("compaction keeps decisions, probes resident keys, reclaims with grace") {
    val root1 = java.nio.file.Files.createTempDirectory("graft_compact1").toString
    val root2 = java.nio.file.Files.createTempDirectory("graft_compact2").toString
    val s1 = new CurationPipeline.Stats
    val s2 = new CurationPipeline.Stats

    // every word carries the doc number: docs share NO shingles with each
    // other (the intra-batch near-dup guard would otherwise reject them)
    def corpusText(i: Long) =
      (0 until 14).map(w => s"w${i}x$w").mkString(s"corpus entry $i ", " ", "")
    val batchA = (1L to 6L).map(i => (i, corpusText(i)))
    val batchB = (7L to 12L).map(i => (i, corpusText(i)))
    for ((root, stats) <- Seq(root1 -> s1, root2 -> s2)) {
      CurationPipeline.admitBatch(spark, batchDf(batchA), root, stats)
      CurationPipeline.admitBatch(spark, batchDf(batchB), root, stats)
    }
    assert(s1.admitted.get == 12 && s2.admitted.get == 12)

    // ---- compact root1 only; root2 stays the uncompacted control
    val gen0 = CurationPipeline.compact(spark, root1)
    assert(CurationPipeline.currentGeneration(spark, root1)
      .exists(_.version == gen0.version))
    // ---- 2a: the generation's band files are flat
    assert(kpDirs(gen0.dir).isEmpty, s"slot directories under ${gen0.dir}/bands")

    // ---- mixed probe batch: every decision class, against both layouts
    val fresh = "an entirely novel submission concerning tidal measurement " +
      "apparatus calibration across coastal stations in winter"
    // 108 = corpus doc 8 + a tail, 109 = that tail alone: 109's band keys
    // meet 108's but none of the corpus's (premise checked below)
    val tail = (0 until 16).map(w => s"coda$w").mkString(" ")
    val probe = Seq(
      101L -> corpusText(3),             // exact_dup_corpus
      102L -> (corpusText(7) + " appended"), // near_dup_corpus
      103L -> fresh,                     // admitted
      104L -> fresh,                     // exact_dup_batch (dup of 103)
      105L -> (fresh + " extra"),        // near_dup_batch (collides with 103)
      106L -> "tiny doc",                // admitted (short: no band keys)
      107L -> corpusText(3),             // exact_dup_batch (dup of 101, itself a corpus dup)
      108L -> (corpusText(8) + " " + tail), // near_dup_corpus
      109L -> tail,                      // near_dup_batch (collides only with 108)
      110L -> (corpusText(7) + " annexed")) // near_dup_batch (collides with 102 AND the corpus)
    val keysOf = Dedup.bandKeys(Dedup.minhashSignaturesRowwise(
        batchDf(Seq(8L -> corpusText(8), 7L -> corpusText(7)) ++ probe),
        col("doc_id"), col("text"), CurationPipeline.ShingleN))
      .collect().groupMap(_.getLong(0))(r => (r.getInt(1), r.getString(2)))
      .map { case (id, ks) => id -> ks.toSet }
    def meets(a: Long, b: Long) = (keysOf(a) & keysOf(b)).nonEmpty
    assert(meets(108L, 8L) && meets(109L, 108L) && !meets(109L, 8L),
      "premise: 109 band-collides with 108 only, 108 with corpus doc 8")
    assert(meets(110L, 102L) && meets(110L, 7L),
      "premise: 110 band-collides with batch doc 102 and corpus doc 7")
    // the admit into the compacted index and the probes below log no
    // misplaced-hint WARN
    val hints = hintWarnings {
      for ((root, stats) <- Seq(root1 -> s1, root2 -> s2))
        CurationPipeline.admitBatch(spark, batchDf(probe.map(p => (p._1, p._2))),
          root, stats)
      val ids = probe.map(_._1).toSet
      val d1 = decisionsOf(s1, ids)
      val d2 = decisionsOf(s2, ids)
      assert(d1 == d2, s"compacted vs control decisions differ:\n$d1\n$d2")
      assert(d1(101L) == ("rejected", "exact_dup_corpus"), d1)
      assert(d1(102L) == ("rejected", "near_dup_corpus"), d1)
      assert(d1(103L) == ("admitted", ""), d1)
      assert(d1(104L) == ("rejected", "exact_dup_batch"), d1)
      assert(d1(105L) == ("rejected", "near_dup_batch"), d1)
      assert(d1(106L) == ("admitted", ""), d1)
      assert(d1(107L) == ("rejected", "exact_dup_batch"), d1)
      assert(d1(108L) == ("rejected", "near_dup_corpus"), d1)
      assert(d1(109L) == ("rejected", "near_dup_batch"), d1)
      assert(d1(110L) == ("rejected", "near_dup_batch"), d1)

      // ---- 2b: the public probes answer from the resident generation: a
      // near-copy's band rows hit, a corpus text's hash hits
      val probeBands = Dedup.bandKeys(Dedup.minhashSignaturesRowwise(
        batchDf(Seq(900L -> (corpusText(5) + " trailer"))),
        col("doc_id"), col("text"), CurationPipeline.ShingleN))
      val hits = CurationPipeline.corpusBandHits(spark, root1, probeBands)
      assert(hits.collect().map(_.getAs[Long]("b")).toSet == Set(900L),
        "probe should band-hit its corpus near-original")
      val memb = CurationPipeline.corpusHashHits(spark, root1,
        batchDf(Seq(901L -> corpusText(4), 902L -> "a text no batch here admits"))
          .select(md5(col("text")).as("text_hash")))
      assert(memb.count() == 1, "of a corpus text and a fresh one, one hash must hit")
    }
    assert(hints.isEmpty, s"misplaced-hint WARNs:\n${hints.mkString("\n")}")

    // ---- 4: generation-retire reclamation across two more compactions.
    // gen1 absorbs the probe batch's tail; gen0 survives one grace window
    // and is deleted by the compaction AFTER that, as are gen1's absorbed
    // tail files.
    val gen1 = CurationPipeline.compact(spark, root1)
    assert(gen1.version > gen0.version)
    assert(new java.io.File(gen0.dir).exists(),
      "superseded generation must survive one grace window")
    assert(gen1.absorbedHash.nonEmpty, "gen1 should absorb the probe batch's tail")
    val gen2 = CurationPipeline.compact(spark, root1)
    assert(!new java.io.File(gen0.dir).exists(),
      "two-generations-old dir must be reclaimed")
    assert(gen1.absorbedHash.forall(p =>
      !new java.io.File(p.stripPrefix("file:")).exists()),
      "tail files absorbed by the previous generation must be reclaimed")
    assert(gen2.absorbedHash.isEmpty, "nothing new to absorb")

    // all guard state now lives in the generation alone (tail empty):
    // near-dup of an earlier ADMISSION and exact dup of corpus still reject
    val post = Seq(
      201L -> (fresh + " coda"),   // near-dup of admitted doc 103
      202L -> corpusText(9),       // exact corpus dup
      203L -> ("final genuinely distinct content about volcanic ash " +
        "dispersal models compared over multiple eruption seasons"))
    CurationPipeline.admitBatch(spark, batchDf(post.map(p => (p._1, p._2))),
      root1, s1)
    val dPost = decisionsOf(s1, post.map(_._1).toSet)
    assert(dPost(201L) == ("rejected", "near_dup_corpus"), dPost)
    assert(dPost(202L) == ("rejected", "exact_dup_corpus"), dPost)
    assert(dPost(203L) == ("admitted", ""), dPost)
  }

  test("an admit runs at most 3 Spark jobs, reads no generation file") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val stats = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"j${i}z$w").mkString(s"jobs entry $i ", " ", "")
    CurationPipeline.admitBatch(spark, batchDf((1L to 8L).map(i => (i, text(i)))),
      root, stats)
    val gen = CurationPipeline.compact(spark, root)
    // the first admit after a compaction builds the resident generation;
    // the counted admit is the next one, which also probes a non-empty
    // tail
    CurationPipeline.admitBatch(spark, batchDf(Seq(9L -> text(9))), root, stats)
    val batch = batchDf((11L to 18L).map(i => (i, text(i))) ++
      Seq(21L -> text(2), 22L -> (text(3) + " more"), 23L -> (text(9) + " more")))

    val events = eventsDuring(CurationPipeline.admitBatch(spark, batch, root, stats))
    val jobs = events.collect { case j: SparkListenerJobStart => j }
    val plans = events.collect { case e: SparkListenerSQLExecutionStart => e.sparkPlanInfo }
    def genScans(p: SparkPlanInfo): Seq[String] =
      p.metadata.get("Location").filter(_.contains(gen.dir)).toSeq ++
        p.children.flatMap(genScans)
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)

    assert(stats.compactions.get == 0, "the measured admit must not compact")
    val d = decisionsOf(stats, Set(11L, 21L, 22L, 23L))
    assert(d(11L) == ("admitted", "") && d(21L) == ("rejected", "exact_dup_corpus") &&
      d(22L) == ("rejected", "near_dup_corpus") && d(23L) == ("rejected", "near_dup_corpus"), d)
    assert(jobs.size <= 3, s"admit launched ${jobs.size} jobs")
    val writes = plans.flatMap(nodes).filter(n =>
      n.contains("InsertIntoHadoopFsRelationCommand") || n == "WriteFiles")
    assert(writes.isEmpty, s"admit planned Spark writes: ${writes.mkString(", ")}")
    val broadcasts = plans.flatMap(nodes).filter(_.contains("Broadcast"))
    assert(broadcasts.isEmpty, s"admit planned broadcasts: ${broadcasts.mkString(", ")}")
    val scans = plans.flatMap(genScans)
    assert(scans.isEmpty, s"admit read generation files: ${scans.mkString(", ")}")
  }

  test("a tail-only root reads its tail in one job at the first probe, none after") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tailread").toString
    def text(i: Long) =
      (0 until 14).map(w => s"r${i}q$w").mkString(s"tail read entry $i ", " ", "")
    // a bulk-seeded tail, written by Spark as an offline loader writes it:
    // no driver tail holds its files yet
    val bulk = batchDf((1L to 8L).map(i => (i, text(i))))
    bulk.select(md5(col("text")).as("text_hash"))
      .write.mode("overwrite").parquet(s"$root/hash_tail")
    Dedup.bandKeys(Dedup.minhashSignaturesRowwise(bulk, col("doc_id"), col("text"),
        CurationPipeline.ShingleN))
      .write.mode("overwrite").parquet(s"$root/band_tail")
    val q = batchDf(Seq(1L -> text(3), 2L -> text(300))).select(md5(col("text")))
      .collect().map(_.getString(0)).toSeq.toDF("text_hash")
    def jobs(body: => Unit): Seq[SparkListenerJobStart] =
      eventsDuring(body).collect { case j: SparkListenerJobStart => j }
    def tailReads(js: Seq[SparkListenerJobStart]) =
      js.filter(_.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
    var hits = 0
    val first = jobs { hits = CurationPipeline.corpusHashHits(spark, root, q).collect().length }
    assert(hits == 1, "of a seeded text and a fresh one, one hash must hit")
    assert(first.size == 1 && tailReads(first).size == 1,
      s"first probe: ${first.size} jobs, ${tailReads(first).size} tail reads")
    assert(jobs(CurationPipeline.corpusHashHits(spark, root, q).collect()).isEmpty,
      "a second probe ran a job")
    val stats = new CurationPipeline.Stats
    for (ids <- Seq(Seq(11L, 12L, 13L), Seq(14L, 15L, 16L))) {
      val admit = jobs(CurationPipeline.admitBatch(spark,
        batchDf(ids.map(i => i -> text(i)) :+ (ids.head + 10, text(ids.head - 10))), root, stats))
      assert(tailReads(admit).isEmpty, s"an admit read tail files: ${tailReads(admit)}")
    }
    assert(stats.admitted.get == 6 && stats.recent.count(_.reason == "exact_dup_corpus") == 2,
      stats.recent)
  }

  test("driver-written tail appends read back and compact exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft_tail").toString
    val ctl = java.nio.file.Files.createTempDirectory("graft_tail_ctl").toString
    val stats = new CurationPipeline.Stats
    val sCtl = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"t${i}u$w").mkString(s"tail entry $i ", " ", "")
    val batches = Seq(
      (1L to 6L).map(i => (i, text(i))) :+ (7L -> "tiny doc"),
      (8L to 10L).map(i => (i, text(i))) :+ (11L -> text(1)), // 11: exact_dup_corpus
      Seq(12L -> "short one", 13L -> "short two"))            // all short: no band rows
    for (b <- batches; (r, st) <- Seq(root -> stats, ctl -> sCtl))
      CurationPipeline.admitBatch(spark, batchDf(b), r, st)
    assert(stats.charsRedacted.get == 0, "premise: the scrub leaves these texts as they are")
    val admitted = batches.flatten.filter(_._1 != 11L)
    assert(stats.admitted.get == admitted.size)

    // one part file per admitting batch (none for the all-short batch),
    // beside checksum files only: no _SUCCESS, no temp-named file
    for ((dir, files) <- Seq("hash_tail" -> 3, "band_tail" -> 2)) {
      val names = new java.io.File(s"$root/$dir").list().toSeq
      assert(names.count(_.startsWith("part-")) == files, s"$dir: $names")
      assert(names.forall(n => (n.startsWith("part-") && n.endsWith(".snappy.parquet")) ||
        (n.startsWith(".part-") && n.endsWith(".crc"))), s"$dir: $names")
    }

    // read back through Spark's own listing: the file schema is the index
    // schema, and the rows are exactly the admissions' hashes and band rows
    def rows(dir: String, ddl: String): Seq[String] = {
      val df = spark.read.schema(ddl).parquet(s"$root/$dir")
      df.collect().map(_.mkString("|")).toSeq.sorted
    }
    for ((dir, ddl) <- Seq("hash_tail" -> CurationPipeline.HashSchema,
                           "band_tail" -> CurationPipeline.BandSchema))
      assert(spark.read.parquet(s"$root/$dir").schema == StructType.fromDDL(ddl), dir)
    val admittedDf = batchDf(admitted)
    assert(rows("hash_tail", CurationPipeline.HashSchema) ==
      admittedDf.select(md5(col("text"))).collect().map(_.mkString("|")).toSeq.sorted)
    assert(rows("band_tail", CurationPipeline.BandSchema) ==
      Dedup.bandKeys(Dedup.minhashSignaturesRowwise(admittedDf, col("doc_id"), col("text"),
        CurationPipeline.ShingleN)).collect().map(_.mkString("|")).toSeq.sorted)

    // compaction absorbs every tail file, and the generation decides as
    // the uncompacted control does
    val gen = CurationPipeline.compact(spark, root)
    assertAbsorbsTail(gen, root)
    val probe = Seq(
      21L -> text(2),               // exact_dup_corpus
      22L -> (text(3) + " more"),   // near_dup_corpus
      23L -> "tiny doc",            // exact_dup_corpus (short doc, hash only)
      24L -> (text(9) + " more"),   // near_dup_corpus (second batch)
      25L -> text(40))              // admitted
    for ((r, st) <- Seq(root -> stats, ctl -> sCtl))
      CurationPipeline.admitBatch(spark, batchDf(probe), r, st)
    val ids = probe.map(_._1).toSet
    val d = decisionsOf(stats, ids)
    assert(d == decisionsOf(sCtl, ids), s"compacted vs control decisions differ: $d")
    assert(d == Map(21L -> ("rejected", "exact_dup_corpus"),
      22L -> ("rejected", "near_dup_corpus"), 23L -> ("rejected", "exact_dup_corpus"),
      24L -> ("rejected", "near_dup_corpus"), 25L -> ("admitted", "")), d)
  }

  test("the fetch of a one-partition batch runs on every core, same decisions") {
    val rootOne = java.nio.file.Files.createTempDirectory("graft_fetch1").toString
    val rootAny = java.nio.file.Files.createTempDirectory("graft_fetchn").toString
    val sOne = new CurationPipeline.Stats
    val sAny = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"f${i}p$w").mkString(s"fetch entry $i ", " ", "")
    val seed = (1L to 8L).map(i => (i, text(i)))
    for ((r, st) <- Seq(rootOne -> sOne, rootAny -> sAny))
      CurationPipeline.admitBatch(spark, batchDf(seed), r, st)
    val probe = (11L to 40L).map(i => (i, text(i))) ++ Seq(
      41L -> text(2),              // exact_dup_corpus
      42L -> (text(3) + " more"),  // near_dup_corpus
      43L -> text(11),             // exact_dup_batch
      44L -> (text(12) + " more"), // near_dup_batch
      45L -> "tiny doc")           // admitted (short)

    // a MemoryStream micro-batch is one partition; coalesce(1) stands in
    val one = batchDf(probe).coalesce(1)
    assert(one.rdd.getNumPartitions == 1, "premise: a one-partition batch")
    val events = eventsDuring(CurationPipeline.admitBatch(spark, one, rootOne, sOne))
    CurationPipeline.admitBatch(spark, batchDf(probe), rootAny, sAny)

    // the fetch is the admit's first SQL execution; the final stage of its
    // last job is the stage that scrubs, shingles and MinHashes
    val jobs = events.collect { case j: SparkListenerJobStart => j }
      .map(j => (j.properties.getProperty(SQLExecution.EXECUTION_ID_KEY).toLong, j))
    val fetchJobs = jobs.filter(_._1 == jobs.map(_._1).min).map(_._2)
    val result = fetchJobs.maxBy(_.jobId).stageInfos.maxBy(_.stageId)
    assert(result.numTasks == spark.sparkContext.defaultParallelism,
      s"the fetch's result stage ran ${result.numTasks} tasks")

    val ids = probe.map(_._1).toSet
    val d = decisionsOf(sOne, ids)
    assert(d == decisionsOf(sAny, ids), s"one-partition vs default decisions differ: $d")
    assert(d == (11L to 40L).map(_ -> ("admitted", "")).toMap ++ Map(
      41L -> ("rejected", "exact_dup_corpus"), 42L -> ("rejected", "near_dup_corpus"),
      43L -> ("rejected", "exact_dup_batch"), 44L -> ("rejected", "near_dup_batch"),
      45L -> ("admitted", "")), d)
  }

  test("a generation in the old key-slot layout probes the same, compacts flat") {
    val rootOld = java.nio.file.Files.createTempDirectory("graft_kp_old").toString
    val rootCtl = java.nio.file.Files.createTempDirectory("graft_kp_ctl").toString
    val sOld = new CurationPipeline.Stats
    val sCtl = new CurationPipeline.Stats
    def corpusText(i: Long) =
      (0 until 14).map(w => s"k${i}v$w").mkString(s"legacy entry $i ", " ", "")
    val seed = (1L to 8L).map(i => (i, corpusText(i)))
    for ((root, stats) <- Seq(rootOld -> sOld, rootCtl -> sCtl))
      CurationPipeline.admitBatch(spark, batchDf(seed), root, stats)

    // hand-write the older layout over a fresh generation: band rows under
    // kp=<xxhash64(key) mod 8> directories, and keyParts in the marker
    val gen = CurationPipeline.compact(spark, rootOld)
    val bands = new java.io.File(s"${gen.dir}/bands")
    val slotted = s"${gen.dir}/bands_kp"
    spark.read.parquet(bands.getPath)
      .withColumn("kp", pmod(xxhash64(col("key")), lit(8L)).cast("int"))
      .write.partitionBy("kp").parquet(slotted)
    org.apache.commons.io.FileUtils.deleteDirectory(bands)
    assert(new java.io.File(slotted).renameTo(bands))
    val markerPath = new org.apache.hadoop.fs.Path(gen.dir, "_COMMITTED")
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(markerPath)
    val marker = try json.readTree(in).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    marker.put("keyParts", 8)
    val out = fs.create(markerPath, true)
    try out.write(json.writeValueAsBytes(marker)) finally out.close()
    assert(kpDirs(gen.dir).size > 1, "premise: bands sit under several kp= directories")
    assert(CurationPipeline.currentGeneration(spark, rootOld).map(_.version) ==
      Some(gen.version))
    assertProbesExact(rootOld, new scala.util.Random(5))

    val probe = Seq(
      11L -> corpusText(2),                  // exact_dup_corpus
      12L -> (corpusText(5) + " appended"),  // near_dup_corpus
      13L -> (corpusText(6) + " annexed"),   // near_dup_corpus
      14L -> corpusText(40))                 // admitted
    for ((root, stats) <- Seq(rootOld -> sOld, rootCtl -> sCtl))
      CurationPipeline.admitBatch(spark, batchDf(probe), root, stats)
    val ids = probe.map(_._1).toSet
    val dOld = decisionsOf(sOld, ids)
    assert(dOld == decisionsOf(sCtl, ids), s"old-layout vs control decisions differ: $dOld")
    assert(dOld == Map(11L -> ("rejected", "exact_dup_corpus"),
      12L -> ("rejected", "near_dup_corpus"), 13L -> ("rejected", "near_dup_corpus"),
      14L -> ("admitted", "")), dOld)

    // the next compaction folds the old generation into flat band files
    val next = CurationPipeline.compact(spark, rootOld)
    assert(kpDirs(next.dir).isEmpty, s"slot directories under ${next.dir}/bands")
    val post = Seq(21L -> (corpusText(7) + " trailer"), 22L -> (corpusText(40) + " trailer"))
    CurationPipeline.admitBatch(spark, batchDf(post), rootOld, sOld)
    val dPost = decisionsOf(sOld, post.map(_._1).toSet)
    assert(dPost == Map(21L -> ("rejected", "near_dup_corpus"),
      22L -> ("rejected", "near_dup_corpus")), dPost)
  }

  test("compactOnStart folds a bulk-seeded tail, no-ops when tail is empty") {
    val root = java.nio.file.Files.createTempDirectory("graft_cos").toString
    def corpusText(i: Long) =
      (0 until 14).map(w => s"c${i}y$w").mkString(s"seeded entry $i ", " ", "")
    val seed = (1L to 8L).map(i => (i, corpusText(i)))
    // docs 1-4 bulk-seeded by Spark writes, as an offline loader writes
    // the tail; docs 5-8 admitted on top as driver-written appends
    val bulk = batchDf(seed.take(4))
    bulk.select(md5(col("text")).as("text_hash"))
      .write.mode("overwrite").parquet(s"$root/hash_tail")
    Dedup.bandKeys(Dedup.minhashSignaturesRowwise(bulk, col("doc_id"), col("text"),
        CurationPipeline.ShingleN))
      .write.mode("overwrite").parquet(s"$root/band_tail")
    val stats = new CurationPipeline.Stats
    CurationPipeline.admitBatch(spark, batchDf(seed.drop(4)), root, stats)
    assert(stats.admitted.get == 4, "the admitted docs are new to the bulk seed")
    assert(CurationPipeline.currentGeneration(spark, root).isEmpty,
      "seed admissions should land in the tail, not a generation")

    // the serve-path default: startup folds the tail into a generation
    val gen = CurationPipeline.compactOnStart(spark, root)
    assert(gen.nonEmpty, "compactOnStart left a bulk-seeded tail unfolded")
    assert(CurationPipeline.currentGeneration(spark, root)
      .exists(_.version == gen.get.version))
    assertAbsorbsTail(gen.get, root)

    // idempotent when nothing new arrived: same generation, no rewrite
    val again = CurationPipeline.compactOnStart(spark, root)
    assert(again.map(_.version) === gen.map(_.version),
      "compactOnStart with an empty live tail must not rewrite the generation")

    // decisions against the startup-compacted index match the tail
    // semantics: dups of bulk-seeded and of admitted docs reject, fresh
    // admits
    val s2 = new CurationPipeline.Stats
    CurationPipeline.admitBatch(spark, batchDf(Seq((301L, corpusText(3)),
      (302L, corpusText(300)), (303L, corpusText(2) + " more"), (304L, corpusText(6)),
      (305L, corpusText(7) + " more"))), root, s2)
    val d = decisionsOf(s2, Set(301L, 302L, 303L, 304L, 305L))
    assert(d == Map(301L -> ("rejected", "exact_dup_corpus"), 302L -> ("admitted", ""),
      303L -> ("rejected", "near_dup_corpus"), 304L -> ("rejected", "exact_dup_corpus"),
      305L -> ("rejected", "near_dup_corpus")), d)
  }

  test("resident hits equal set membership over generation and live tail") {
    val root = java.nio.file.Files.createTempDirectory("graft_diff").toString
    val stats = new CurationPipeline.Stats
    val rnd = new scala.util.Random(7)
    def text(i: Long) =
      (0 until 14).map(w => s"d${i}r$w").mkString(s"diff entry $i ", " ", "")
    def admit(ids: Seq[Long]): Unit =
      CurationPipeline.admitBatch(spark, batchDf(ids.map(i => i -> text(i))), root, stats)
    admit(1L to 10L)
    admit(11L to 20L)
    assertProbesExact(root, rnd) // tail only
    val gen0 = CurationPipeline.compact(spark, root)
    assertProbesExact(root, rnd) // generation only
    admit(21L to 30L)
    assertProbesExact(root, rnd) // generation and live tail
    val gen1 = CurationPipeline.compact(spark, root)
    admit(31L to 40L)
    // inside the grace window: gen0 and the tail files gen1 absorbed are
    // still on disk, beside gen1 and a new live tail
    assert(new java.io.File(gen0.dir).exists() && gen1.absorbedHash.nonEmpty &&
      gen1.absorbedHash.forall(p => new java.io.File(p.stripPrefix("file:")).exists()),
      "premise: a grace window")
    assertProbesExact(root, rnd)
    assert(stats.admitted.get == 40)
  }

  test("a malformed index key fails the admit, never reads as a miss") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bad").toString
    val stats = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"m${i}n$w").mkString(s"malformed entry $i ", " ", "")
    CurationPipeline.admitBatch(spark, batchDf((1L to 4L).map(i => i -> text(i))), root, stats)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    def failsOnKey(batch: Seq[(Long, String)]): Unit = {
      val admitted = stats.admitted.get
      val e = intercept[Exception](CurationPipeline.admitBatch(spark, batchDf(batch), root, stats))
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("malformed")), e)
      assert(stats.admitted.get == admitted, "a failed admit recorded decisions")
    }
    // in a live tail file, read on the driver
    def names(dir: String): Set[String] = new java.io.File(s"$root/$dir").list().toSet
    val good = names("hash_tail")
    Seq("NOT-A-CONTENT-HASH").toDF("text_hash").write.mode("append").parquet(s"$root/hash_tail")
    failsOnKey(Seq(10L -> text(10)))
    // in a generation, read when its first probe builds it
    (names("hash_tail") -- good).foreach(n => new java.io.File(s"$root/hash_tail/$n").delete())
    Seq((99L, 0, "1_02")).toDF("id", "band", "key").write.mode("append").parquet(s"$root/band_tail")
    CurationPipeline.compact(spark, root)
    failsOnKey(Seq(11L -> text(11)))
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "a failed build left a persisted RDD")
  }

  test("one resident generation per root, released; a build logs one INFO line") {
    import org.apache.logging.log4j.Level
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val root = java.nio.file.Files.createTempDirectory("graft_resident").toString
    val stats = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"p${i}o$w").mkString(s"resident entry $i ", " ", "")
    def admit(ids: Seq[Long]): Unit =
      CurationPipeline.admitBatch(spark, batchDf(ids.map(i => i -> text(i))), root, stats)
    def residentNames: Seq[String] =
      sc.getPersistentRDDs.values.map(_.name).filter(n => n != null && n.contains(root)).toSeq
    admit(1L to 8L)
    for (round <- 1 to 3) {
      val gen = CurationPipeline.compact(spark, root)
      val rows = Seq("hash", "bands").map(sub => spark.read.parquet(s"${gen.dir}/$sub").count())
      val warns = logged("", Level.WARN) {
        val info = logged("graft.serve.CurationPipeline", Level.INFO) {
          admit((round * 10L) until (round * 10L + 4))
        }
        assert(info.size == 1 && info.head._1 == Level.INFO &&
          Seq(s"gen_${gen.version}", "keys=", "bytes=", "build_ms=").forall(info.head._2.contains),
          info)
      }
      assert(warns.isEmpty, s"WARN lines during a build:\n${warns.mkString("\n")}")
      assert(sc.getPersistentRDDs.size == base + 1, s"round $round: ${sc.getPersistentRDDs}")
      assert(residentNames.size == 1 && residentNames.head.endsWith(s"gen_${gen.version}"),
        residentNames)
      assert(stats.indexResidentKeys.get == rows.sum, s"resident keys vs rows $rows")
      assert(stats.indexResidentBytes.get == 8L * (2 * rows(0) + rows(1)))
      assert(stats.json.contains(s""""index_resident_keys":${rows.sum}"""), stats.json)
    }
    CurationPipeline.release(root)
    assert(sc.getPersistentRDDs.size == base, "release left the resident generation persisted")
  }

  test("admits and compaction start no process from a pipeline stack") {
    import jdk.jfr.consumer.RecordingStream
    val root = java.nio.file.Files.createTempDirectory("graft_forks").toString
    val stats = new CurationPipeline.Stats
    def text(i: Long) =
      (0 until 14).map(w => s"f${i}k$w").mkString(s"fork entry $i ", " ", "")
    def admit(ids: Seq[Long]): Unit =
      CurationPipeline.admitBatch(spark, batchDf(ids.map(i => i -> text(i))), root, stats)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marked = new java.util.concurrent.CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[CompactionForkMark])
      rs.onEvent("jdk.ProcessStart", e =>
        if (Option(e.getStackTrace).exists(_.getFrames.asScala
            .exists(_.getMethod.getType.getName.contains("CurationPipeline"))))
          starts.add(e.getString("command")))
      rs.onEvent("graft.CompactionSpec.Mark", _ => marked.countDown())
      rs.startAsync()
      admit(1L to 4L)
      admit(5L to 8L)
      CurationPipeline.compact(spark, root)
      admit(9L to 12L)
      new CompactionForkMark().commit()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the JFR stream never delivered the mark")
    } finally rs.close()
    assert(stats.admitted.get == 12)
    assert(starts.isEmpty, s"${starts.size} process starts, first: ${starts.asScala.headOption}")
  }

  test("a new SparkContext on the same root probes and decides the same") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    def text(i: Long) =
      (0 until 14).map(w => s"s${i}t$w").mkString(s"restart entry $i ", " ", "")
    def frame(s: org.apache.spark.sql.SparkSession, docs: Seq[(Long, String)]) =
      s.createDataFrame(docs).toDF("doc_id", "text").withColumn("ts", current_timestamp())
    val stats = new CurationPipeline.Stats
    CurationPipeline.admitBatch(spark, frame(spark, (1L to 8L).map(i => i -> text(i))), root, stats)
    CurationPipeline.compact(spark, root)
    CurationPipeline.admitBatch(spark, frame(spark, (9L to 12L).map(i => i -> text(i))), root, stats)
    val probe = Seq(21L -> text(2), 22L -> (text(3) + " more"),
      23L -> (text(10) + " more"), 24L -> text(40))
    def hits(s: org.apache.spark.sql.SparkSession): (Set[Long], Int) = {
      val df = frame(s, probe)
      (CurationPipeline.corpusBandHits(s, root, Dedup.bandKeys(Dedup.minhashSignaturesRowwise(
          df, col("doc_id"), col("text"), CurationPipeline.ShingleN)))
        .collect().map(_.getLong(0)).toSet,
        CurationPipeline.corpusHashHits(s, root, df.select(md5(col("text")).as("text_hash")))
          .collect().length)
    }
    val before = hits(spark)
    // 21 copies doc 2, so its band rows hit too
    assert(before == (Set(21L, 22L, 23L), 1), before)

    val old = spark.sparkContext
    spark.stop()
    val next = graft.SparkSpec.session()
    assert((next.sparkContext ne old) && !next.sparkContext.isStopped)
    assert(hits(next) == before, "a restarted context probes differently")
    val s2 = new CurationPipeline.Stats
    CurationPipeline.admitBatch(next, frame(next, probe), root, s2)
    assert(s2.recent.map(d => d.docId -> (d.decision, d.reason)).toMap == Map(
      21L -> ("rejected", "exact_dup_corpus"), 22L -> ("rejected", "near_dup_corpus"),
      23L -> ("rejected", "near_dup_corpus"), 24L -> ("admitted", "")))
    // the new context holds only its own resident generation
    assert(next.sparkContext.getPersistentRDDs.size == 1, next.sparkContext.getPersistentRDDs)
    CurationPipeline.release(root)
    assert(next.sparkContext.getPersistentRDDs.isEmpty)
  }
}
