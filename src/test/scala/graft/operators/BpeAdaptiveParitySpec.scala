package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The BPE driver-local training kernel must be indistinguishable from the
  * distributed per-round loop: same merge table (winners, counts, order)
  * and same final segmentation, on corpora engineered to stress the
  * tie-break (equal pair counts), chain merges ('l r l r'), same-symbol
  * runs, and multi-round interaction — the exact surfaces where a kernel
  * could drift from the declarative rounds.
  */
class BpeAdaptiveParitySpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def bothRoutes(texts: Seq[String]) = {
    val d = docsOf(texts)
    val local = Bpe.train(d) // corpora here are far under Route.BpeWords
    val dist = Route.forcing(Route.BpeWords -> 0L)(Bpe.train(d))
    (local, dist)
  }

  private def canonMerges(df: org.apache.spark.sql.DataFrame) =
    df.select("merge_round", "left_sym", "right_sym", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq

  private def canonDict(df: org.apache.spark.sql.DataFrame) =
    df.select("word", "s", "cnt").as[(String, String, Long)]
      .collect().sortBy(_._1).toSeq

  test("local kernel == distributed rounds on a deterministic mixed corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Seq("join", "hash", "scan", "filter", "fast", "aaaaa",
      "lrlrlr", "data", "value", "zz", "a", "", "sort")
    val texts = (0 until 60).map(_ =>
      (0 until 1 + rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val ((lm, ld), (dm, dd)) = bothRoutes(texts)
    assert(canonMerges(lm) == canonMerges(dm))
    assert(canonDict(ld) == canonDict(dd))
  }

  test("tie-break parity: equal counts resolve to the same (l, r) winner") {
    // every pair occurs exactly once per word, so round 1 is a pure
    // (l asc, r asc) tie-break across many equal-count pairs
    val texts = Seq("ba", "ab", "bb", "aa", "ca", "ac")
    val ((lm, ld), (dm, dd)) = bothRoutes(texts)
    assert(canonMerges(lm) == canonMerges(dm))
    assert(canonDict(ld) == canonDict(dd))
  }

  test("chain and same-symbol-run merges segment identically") {
    val texts = Seq("lrlrlrlr lrlr", "aaaaaaa aaaa aa", "xyxy xyx")
    val ((lm, ld), (dm, dd)) = bothRoutes(texts)
    assert(canonMerges(lm) == canonMerges(dm))
    assert(canonDict(ld) == canonDict(dd))
  }

  test("non-ascii words keep byte-order tie-breaks aligned") {
    val texts = Seq("héllo wörld", "héllo héllo", "wörld 数据 数据", "数据库")
    val ((lm, ld), (dm, dd)) = bothRoutes(texts)
    assert(canonMerges(lm) == canonMerges(dm))
    assert(canonDict(ld) == canonDict(dd))
  }
}
