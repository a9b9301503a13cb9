package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Materialize a k-times replica of a testdata directory as REAL parquet
  * (round-13 verdict #4): the full-suite bench at a 10x tier catches
  * operators whose constants work at sf0.1 but whose curves were only
  * ever probed per-family. The replication is written ONCE so the bench
  * reads genuine files with genuine row groups, not a 10-way union plan:
  * `MakeTier <src> <out> <k>` then `SPARK_GRAFT_SF_DIR=<out> Bench <filter>`
  * times the registered query bodies on the tier.
  *
  * Replication model (organic growth, not duplication):
  *   - fact keys are offset per replica by a 1e9 stride (far above every
  *     query-level id offset, e.g. the funnel's 1e5 variant offsets), so
  *     replicas never collide and bounded-id contracts (vec_id < TrainMax
  *     training slices, < MaxQueryId query sets) keep their fixed size;
  *   - document text goes through a per-replica word-substitution cipher
  *     (every word gains a replica suffix; replica 0 is byte-identical to
  *     the source): intra-replica dup/near-dup structure is preserved
  *     EXACTLY (the same 1:1 renaming applies to a doc and its planted
  *     copies), while cross-replica shingles, unigram hashes (simhash),
  *     and MinHash registers are all distinct — the planted dup rate
  *     stays the source's rate within each replica instead of every doc
  *     gaining 9 near-identical copies (pure replication, or a one-token
  *     salt, inflates candidate pairs quadratically — load no organic
  *     corpus produces; the first cut of this tool measured q_semdedup
  *     30x and q_dedup_simhash 17x purely from that artifact);
  *   - embeddings go through a per-replica ISOMETRY: a circular shift by
  *     (i mod Dim) composed, past the first Dim replicas, with a
  *     deterministic per-replica sign-flip mask (position j flips iff
  *     md5-prefix64 of "tierflip#i#j" is odd). Both factors preserve
  *     intra-replica dot products bit-for-bit — the shift only permutes
  *     the product pairing, and a flip contributes (-x)(-y) = xy exactly
  *     — so the planted similarity structure survives, while
  *     cross-replica cosines decorrelate: different shifts decorrelate
  *     by rotation, and two replicas sharing a shift (i and i+Dim)
  *     differ in their masks on ~half the positions, so their
  *     cross-products sign-cancel. Shift x flip yields Dim * 2^Dim
  *     distinct isometries — enough for a materialized 100x (or far
  *     larger) tier, where the shift alone aliased past k = Dim = 64.
  *     Replicas i < Dim keep the identity mask, so every tier written
  *     before the flip existed is reproduced byte-identically;
  *   - dimension tables (region, nation) are shared, like production.
  *
  * Usage: runMain graft.MakeTier <srcSfDir> <outDir> <k>
  */
object MakeTier {
  /** Sign-flip bit for (replica i, position j) — the JVM twin MakeTierSpec
    * replays. Identity (false everywhere) for i < Dim by the column
    * builder's branch, so this is only consulted for i >= Dim.
    */
  private[graft] def flipBit(i: Int, j: Int): Boolean = {
    val h = org.apache.spark.sql.graft.Md5Prefix64.hash(
      s"tierflip#$i#$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((h % 2) + 2) % 2 == 1
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_tier10x")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val Stride = 1000000000L
    // k is bounded only by the key stride now (the sign-flip mask keeps
    // isometries distinct past Dim replicas); 1000 replicas of sf0.1 is
    // a materialized 100-million-doc tier — far past what this box can
    // hold, so the cap is a sanity rail, not a scheme limit
    require(k >= 1 && k <= 1000, s"k=$k out of range: 1 <= k <= 1000")
    val spark = Sessions.batch("graft-maketier", 16)
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame)(f: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i.toLong * Stride)).reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[maketier] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", replicate(Tables.customer(spark, src)) { (d, off) =>
      d.withColumn("c_custkey", col("c_custkey") + off)
    })
    write("supplier", replicate(Tables.supplier(spark, src)) { (d, off) =>
      d.withColumn("s_suppkey", col("s_suppkey") + off)
    })
    write("part", replicate(Tables.part(spark, src)) { (d, off) =>
      d.withColumn("p_partkey", col("p_partkey") + off)
    })
    write("orders", replicate(Tables.orders(spark, src)) { (d, off) =>
      d.withColumn("o_orderkey", col("o_orderkey") + off)
        .withColumn("o_custkey", col("o_custkey") + off)
    })
    write("lineitem", replicate(Tables.lineitem(spark, src)) { (d, off) =>
      d.withColumn("l_orderkey", col("l_orderkey") + off)
        .withColumn("l_partkey", col("l_partkey") + off)
        .withColumn("l_suppkey", col("l_suppkey") + off)
    })
    // events: more users over the same time window (the ts encoding is
    // normalized by the adaptive loader on read, written back as plain
    // timestamps)
    write("events", replicate(Tables.events(spark, src)) { (d, off) =>
      d.withColumn("event_id", col("event_id") + off)
        .withColumn("user_id", col("user_id") + off)
    })
    write("documents", replicate(Tables.documents(spark, src)) { (d, off) =>
      val ciphered =
        if (off == 0L) d
        else d.withColumn("text",
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            w => concat(w, lit(s"q${off / Stride}")))))
      ciphered.withColumn("doc_id", col("doc_id") + off)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    write("embeddings", replicate(Tables.embeddings(spark, src)) { (d, off) =>
      val i = (off / Stride).toInt
      val dim = graft.operators.Similarity.Dim
      val shift = i % dim
      val shifted =
        if (shift == 0) d
        else d.withColumn("embedding",
          concat(slice(col("embedding"), lit(shift + 1), size(col("embedding")) - shift),
            slice(col("embedding"), lit(1), lit(shift))))
      // second isometry factor past the first Dim replicas: the
      // deterministic sign-flip mask (see the scaladoc; flipBit is the
      // JVM twin). The mask is a per-replica CONSTANT over j, so it
      // folds to literals here instead of hashing per row.
      val flipped =
        if (i < dim) shifted
        else {
          val mask = Array.tabulate(dim)(j => if (flipBit(i, j)) -1.0 else 1.0)
          shifted.withColumn("embedding",
            zip_with(col("embedding"),
              lit(mask),
              (x, m) => x * m))
        }
      flipped.withColumn("vec_id", col("vec_id") + off)
    })
    spark.stop()
  }
}
