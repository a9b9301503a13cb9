package graft.queries

import graft.QueryDef
import graft.operators.{Num, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Paragraph-level exact dedup (the C4 / CCNet line-dedup pass), the
  * granularity BETWEEN doc-level exact dedup (q_dedup_exact) and
  * sub-sequence span cutting (q_dedup_span_*): split every doc into
  * units, drop every unit whose exact text occurred earlier anywhere in
  * the corpus (including earlier in the same doc), keep the first global
  * occurrence, and reassemble the survivors. The synthetic corpus has no
  * newline structure, so the unit is a fixed 16-token block — the
  * mechanics (unit hash → global first-occurrence keeper → rebuild) are
  * exactly the line/paragraph pipeline's.
  *
  * Scale shape: block extraction is map-side (one slice per 16 tokens of
  * the array the scan already produced); the keeper table is one
  * map-side-combined groupBy on the 60-bit block hash; membership is an
  * equijoin on that hash. Everything is OCCURRENCE-LINEAR — a block
  * repeated k times costs k rows, never k², so the 100 TB boilerplate
  * case (the same footer on millions of pages) stays a skewed-but-linear
  * aggregation, and the rebuild is a per-doc sort of at most
  * ceil(len/16) rows. Input is the truncated-copies variant corpus
  * (every 5th doc gains a half-length copy) so partial overlap genuinely
  * occurs: the copy's full prefix blocks duplicate the original's, its
  * final short block (half-length is rarely a multiple of 16) stays
  * unique — keeps, partial drops, and full drops all appear.
  *
  * The keeper ordinal `k = id * 2^20 + blk` is engine-exact BIGINT
  * arithmetic (ids stay far below 2^40 even with the variant offset;
  * blk below 2^20 for any doc under a million tokens).
  */
object BlockDedupQueries {

  /** Block width in tokens. 16 gives ~4 blocks per synthetic doc. */
  private val BlockTokens = 16

  private val KeeperBase = 1048576L // 2^20

  private val wsSql = TextOps.wordsSql("text")

  /** (id, blk, btext, blk_n) — the unit table. Map-only: sequence +
    * slice + array_join inside one projection, then posexplode.
    */
  private def blockTable(docs: DataFrame): DataFrame = {
    val t = docs.select(col("id"), TextOps.words(col("text")).as("ws"))
    val nBlk = ceil(size(col("ws")) / lit(BlockTokens.toDouble)).cast("int")
    val blocks = transform(sequence(lit(0), nBlk - 1),
      i => array_join(slice(col("ws"), i * BlockTokens + 1, lit(BlockTokens)), " "))
    t.select(col("id"), size(col("ws")).as("n"),
        posexplode(blocks).as(Seq("blk", "btext")))
      .select(col("id"), col("blk"), col("btext"),
        least(lit(BlockTokens), col("n") - col("blk") * BlockTokens).as("blk_n"))
  }

  /** Block table joined with its per-hash first-occurrence ordinal:
    * (id, blk, btext, blk_n, k, k0); a block survives iff k = k0.
    */
  private def marked(docs: DataFrame): DataFrame = {
    // cached: m feeds both the keeper aggregation and the probe side of
    // the membership join — uncached, the block extraction runs twice
    val m = blockTable(docs)
      .withColumn("h", TextOps.hash64(col("btext")))
      .withColumn("k", col("id") * KeeperBase + col("blk"))
      .cache()
    val k0 = m.groupBy(col("h")).agg(min(col("k")).as("k0"))
    m.join(k0, Seq("h"))
  }

  /** Shared CTE chain `base -> j(id, blk, btext, blk_n, k, k0)` replaying
    * `marked` over the truncated-copies corpus.
    */
  private val markedSql =
    s"""${DedupQueries.truncatedBaseSql},
       |t AS (SELECT id, $wsSql AS ws FROM base),
       |bx AS (
       |  SELECT id, len(ws) AS n,
       |         unnest(range(0, CAST(ceil(len(ws) / $BlockTokens.0) AS BIGINT))) AS blk,
       |         ws
       |  FROM t),
       |blocks AS (
       |  SELECT id, blk,
       |         array_to_string(ws[(blk * $BlockTokens + 1):(blk * $BlockTokens + $BlockTokens)], ' ') AS btext,
       |         least($BlockTokens, n - blk * $BlockTokens) AS blk_n
       |  FROM bx),
       |m AS (
       |  SELECT id, blk, btext, blk_n, ${TextOps.hash64Sql("btext")} AS h,
       |         id * $KeeperBase + blk AS k
       |  FROM blocks),
       |k0 AS (SELECT h, min(k) AS k0 FROM m GROUP BY h),
       |j AS (SELECT m.*, k0.k0 FROM m JOIN k0 USING (h))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Per-doc dedup evidence: how many of the doc's blocks are repeats of
    // an earlier occurrence.
    QueryDef(
      "q_dedup_blocks",
      s"""WITH $markedSql
         |SELECT id AS doc_id, count(*) AS n_blocks,
         |       CAST(sum(CASE WHEN k != k0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_blocks,
         |       ${Num.r4Sql(
               "sum(CASE WHEN k != k0 THEN 1 ELSE 0 END) * 1.0 / count(*)")}
         |         AS dup_frac
         |FROM j GROUP BY id""".stripMargin) { (s, dir) =>
      blockStats(DedupQueries.withTruncatedCopies(s, dir))
    },

    // The materialized rebuild: each doc reassembled from its surviving
    // blocks, in order, with the rebuilt text fingerprinted (hash64) so
    // the oracle checks the exact cleaned text without shipping it. Docs
    // whose every block occurred earlier rebuild to the empty string —
    // the left join keeps them visible as drop candidates.
    QueryDef(
      "q_dedup_block_rebuild",
      s"""WITH $markedSql,
         |kept AS (SELECT * FROM j WHERE k = k0),
         |agg AS (
         |  SELECT id, count(*) AS nbk,
         |         CAST(sum(blk_n) AS BIGINT) AS nwk,
         |         string_agg(btext, ' ' ORDER BY blk) AS rebuilt
         |  FROM kept GROUP BY id)
         |SELECT b.id AS doc_id,
         |       CAST(COALESCE(a.nbk, 0) AS BIGINT) AS n_blocks_kept,
         |       CAST(COALESCE(a.nwk, 0) AS BIGINT) AS n_words_kept,
         |       ${TextOps.hash64Sql("COALESCE(a.rebuilt, '')")} AS text_hash
         |FROM base b LEFT JOIN agg a ON a.id = b.id""".stripMargin) { (s, dir) =>
      blockRebuild(DedupQueries.withTruncatedCopies(s, dir))
    })

  /** q_dedup_blocks body over an arbitrary (id, text) corpus. */
  def blockStats(docs: DataFrame): DataFrame =
    marked(docs)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("k") =!= col("k0"), 1L).otherwise(0L)).as("n_dup_blocks"),
        Num.r4(sum(when(col("k") =!= col("k0"), 1L).otherwise(0L)) * 1.0
          / count(lit(1))).as("dup_frac"))

  /** q_dedup_block_rebuild body over an arbitrary (id, text) corpus. */
  def blockRebuild(docs: DataFrame): DataFrame = {
    val agg = marked(docs)
      .filter(col("k") === col("k0"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("nbk"),
        sum(col("blk_n")).cast("long").as("nwk"),
        array_join(
          transform(array_sort(collect_list(struct(col("blk"), col("btext")))),
            x => x.getField("btext")), " ").as("rebuilt"))
    docs.select(col("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("nbk"), lit(0L)).as("n_blocks_kept"),
        coalesce(col("nwk"), lit(0L)).as("n_words_kept"),
        TextOps.hash64(coalesce(col("rebuilt"), lit(""))).as("text_hash"))
  }
}
