package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Packing, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence-packing surface (operators/Packing.scala): the concat-and-cut
  * manifest a training loader consumes, plus the per-source packing
  * summary. The Spark side runs the two-pass distributed prefix sum; the
  * oracle replays the equivalent window formulation — hash equality IS
  * the distributed-scan parity proof at data scale.
  *
  * Also here: q_chunk_manifest, packing's per-doc dual — instead of
  * concatenating docs into fixed sequences, each doc is SPLIT into
  * overlapping fixed-width token windows (the retrieval / long-context
  * preparation step).
  */
object PackingQueries {

  private val L = Packing.SeqLen

  /** Chunk width and stride (overlap = ChunkSize - ChunkStride tokens). */
  val ChunkSize = 40
  val ChunkStride = 30

  /** q_chunk_manifest body: one row per (doc, chunk window). Entirely map-side — tokenize, explode the
    * arithmetic start positions, slice; NO shuffle anywhere, so at 100 TB
    * this is a single pass over the text bytes, embarrassingly parallel,
    * and composes with any upstream filter without a re-partition.
    */
  def chunkManifest(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val endTok = least(col("start_tok") + (ChunkSize - 1), col("n_words"))
    docs
      .select(col("doc_id"), ws.as("ws"),
        size(ws).cast("long").as("n_words"))
      .select(col("doc_id"), col("ws"), col("n_words"),
        explode(sequence(lit(1L), col("n_words"), lit(ChunkStride.toLong)))
          .as("start_tok"))
      .select(col("doc_id"),
        expr(s"(start_tok - 1) div $ChunkStride + 1").as("chunk_id"),
        col("start_tok"),
        endTok.as("end_tok"),
        (endTok - col("start_tok") + 1).as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("ws"), col("start_tok").cast("int"),
            (endTok - col("start_tok") + 1).cast("int"))).as("chunk_text"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_pack_manifest",
      s"""WITH ${Packing.offsetsSql}
         |SELECT doc_id, source, n_tokens,
         |       end_off - n_tokens AS start_off,
         |       (end_off - n_tokens) // $L AS seq_first,
         |       CASE WHEN n_tokens = 0 THEN (end_off - n_tokens) // $L
         |            ELSE (end_off - 1) // $L END AS seq_last,
         |       CASE WHEN n_tokens = 0 THEN 0
         |            ELSE (end_off - 1) // $L - (end_off - n_tokens) // $L + 1
         |            END AS n_seqs
         |FROM poffs""".stripMargin) { (s, dir) =>
      Packing.manifest(
        Packing.endOffsets(Packing.tokenCounts(Tables.documents(s, dir))))
    },

    // Per-source packing summary: stream length in sequences, how many
    // documents straddle a cut, and the fill of the final (partial)
    // sequence — the numbers that size a training epoch.
    QueryDef(
      "q_pack_stats",
      s"""WITH ${Packing.offsetsSql},
         |pm AS (
         |  SELECT doc_id, source, n_tokens,
         |         (end_off - n_tokens) // $L AS seq_first,
         |         CASE WHEN n_tokens = 0 THEN (end_off - n_tokens) // $L
         |              ELSE (end_off - 1) // $L END AS seq_last,
         |         end_off
         |  FROM poffs)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       (max(end_off) + $L - 1) // $L AS n_seqs,
         |       CAST(sum(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_straddlers,
         |       CASE WHEN max(end_off) = 0 THEN 0
         |            ELSE max(end_off) - ((max(end_off) - 1) // $L) * $L
         |            END AS last_fill
         |FROM pm
         |GROUP BY source""".stripMargin) { (s, dir) =>
      val m = Packing.manifest(
        Packing.endOffsets(Packing.tokenCounts(Tables.documents(s, dir))))
        .withColumn("end_off", col("start_off") + col("n_tokens"))
      m.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          expr(s"(max(end_off) + $L - 1) div $L").as("n_seqs"),
          sum(when(col("seq_last") > col("seq_first"), 1L).otherwise(0L))
            .as("n_straddlers"),
          // guard the all-zero-token source: (max-1) would put a negative
          // operand under div, the one case truncate (Spark) and floor
          // (DuckDB //) disagree — same hazard Packing.manifest documents
          expr(s"CASE WHEN max(end_off) = 0 THEN 0" +
            s" ELSE max(end_off) - ((max(end_off) - 1) div $L) * $L END").as("last_fill"))
    },

    // Overlapping chunk manifest (chunk = ChunkSize tokens, stride
    // ChunkStride, so consecutive chunks share ChunkSize - ChunkStride
    // tokens): the doc -> retrieval-unit explosion a RAG index or a
    // long-context training prep runs. Start positions are pure
    // arithmetic (1, 1+stride, ...), the text is an array slice — the
    // whole query is one codegen'd map-side projection + explode with
    // zero shuffles (PlanSpec-guarded).
    QueryDef(
      "q_chunk_manifest", {
        val ws = TextOps.wordsSql("text")
        val end = s"least(start_tok + ${ChunkSize - 1}, n_words)"
        s"""WITH w AS (
           |  SELECT doc_id, $ws AS ws, len($ws) AS n_words FROM documents),
           |st AS (
           |  SELECT doc_id, ws, n_words,
           |         unnest(range(1, n_words + 1, $ChunkStride)) AS start_tok
           |  FROM w)
           |SELECT doc_id,
           |       (start_tok - 1) // $ChunkStride + 1 AS chunk_id,
           |       CAST(start_tok AS BIGINT) AS start_tok,
           |       CAST($end AS BIGINT) AS end_tok,
           |       CAST($end - start_tok + 1 AS BIGINT) AS n_chunk_tokens,
           |       array_to_string(ws[start_tok:$end], ' ') AS chunk_text
           |FROM st""".stripMargin
      }) { (s, dir) =>
      chunkManifest(Tables.documents(s, dir))
    })
}
