package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE tokenizer-training surface (operators/Bpe.scala): the learned
  * merge table and the segmentation it induces on the dictionary.
  */
object BpeQueries {

  val defs: Seq[QueryDef] = Seq(

    // The merge table IS the tokenizer model — one row per round.
    QueryDef(
      "q_bpe_merges",
      s"""WITH ${Bpe.trainSql}
         |SELECT merge_round, left_sym, right_sym, merged, cnt
         |FROM bmerges""".stripMargin) { (s, dir) =>
      Bpe.train(Tables.documents(s, dir))._1
    },

    // The dictionary after all merges: how each word segments under the
    // learned model, with its corpus frequency.
    QueryDef(
      "q_bpe_vocab",
      s"""WITH ${Bpe.trainSql}
         |SELECT word, trim(s) AS symbols,
         |       CAST(len(string_split(trim(s), ' ')) AS INT) AS n_syms, cnt
         |FROM bd${Bpe.Rounds}""".stripMargin) { (s, dir) =>
      Bpe.train(Tables.documents(s, dir))._2
        .select(col("word"), trim(col("s")).as("symbols"),
          size(split(trim(col("s")), " ")).as("n_syms"), col("cnt"))
    },

    // Apply the learned tokenizer: per-doc token counts under the trained
    // BPE vocab — what a packing/budget pass consumes. The dictionary is
    // vocab-sized and broadcasts; the corpus side is one explode +
    // groupBy, so the scan cost is the same as whitespace counting.
    QueryDef(
      "q_bpe_token_count",
      s"""WITH ${Bpe.trainSql},
         |wd AS (
         |  SELECT doc_id, unnest(${graft.operators.TextOps.wordsSql("text")}) AS word
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(string_split(trim(d.s), ' '))) AS BIGINT) AS bpe_tokens
         |FROM wd JOIN bd${Bpe.Rounds} d USING (word)
         |WHERE word != ''
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      tokenCount(Tables.documents(s, dir))
    })

  /** q_bpe_token_count body over an arbitrary documents relation: train
    * the merge table on the corpus, then broadcast the word->symbol-count
    * dictionary over one corpus word scan.
    */
  def tokenCount(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dict = Bpe.train(docs)._2
      .select(col("word"), size(split(trim(col("s")), " ")).as("n_syms"))
    docs.select(col("doc_id"),
        explode(graft.operators.TextOps.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("bpe_tokens"))
  }
}
