package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge induction (Sennrich et al. 2016) — tokenizer training as a
  * query. Classic BPE trains on the weighted word DICTIONARY, not the
  * corpus: the only full-scan stage is the word-count groupBy; every
  * merge round after that operates on vocab-sized data (here 31 rows) no
  * matter how big the corpus is — the 100 TB cost profile is one
  * aggregation plus R dictionary-local rounds.
  *
  * Each round is fully declarative and oracle-replayable, like the Lloyd
  * iterations in Ivf/Pq: count adjacent symbol pairs weighted by word
  * frequency, pick the argmax under (count desc, left asc, right asc),
  * and apply the merge with a plain left-to-right non-overlapping string
  * replace over the spaced symbol encoding (' j o i n ' → ' j oi n '),
  * whose greedy semantics match BPE's and are identical in both engines.
  * The best-pair winner is ONE row per round by construction, and train()
  * COLLECTS it to literal strings so each round applies as a flat
  * codegen'd select over the cached dictionary — a driver-bounded scalar
  * per round (the Packing bounded-subtotal precedent), not a driver loop
  * over data. The lazy cross-join formulation this replaced compounded
  * doubled replace-nesting through one deep uncheckpointed plan and
  * regressed the whole BPE family 3.5x (r10 verdict).
  */
object Bpe {

  val Rounds = 6

  /** (word, s, cnt): the weighted dictionary with the spaced symbol
    * encoding, e.g. ("join", " j o i n ", 964). The single corpus-scan
    * stage.
    */
  def dictionary(documents: DataFrame): DataFrame =
    documents
      .select(explode(TextOps.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"),
        concat(regexp_replace(col("word"), "(.)", " $1"), lit(" ")).as("s"),
        col("cnt"))

  /** Weighted adjacent-pair counts over the current segmentation:
    * (l, r, cnt). Vocab-sized input, pair-count-sized output.
    */
  def pairCounts(dict: DataFrame): DataFrame =
    dict
      .select(col("cnt"), split(trim(col("s")), " ").as("syms"))
      // single-symbol words have no pairs; also keeps sequence() ascending
      // (Spark's sequence(1, 0) counts DOWN, unlike DuckDB's empty range)
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1)," +
          " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("cnt"))

  /** The round's winning pair under (cnt desc, l asc, r asc) — one row. */
  def bestPair(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)

  /** Apply a merge: left-to-right replace of ' l r ' with ' lr ', applied
    * TWICE. One pass under-merges chains: the match consumes the space
    * that is also the next occurrence's leading delimiter, so in
    * 'l r l r' only the first pair merges ([lr, l, r] instead of BPE's
    * [lr, lr]). A skipped occurrence is never adjacent to another skip
    * (its own leading space survives), so the second pass reaches the
    * fixpoint — which for l ≠ r is EXACTLY BPE's greedy pairing
    * (occurrences cannot overlap). For l == r runs the pair COUNT matches
    * greedy but odd runs ≥ 5 place the unpaired symbol mid-run
    * ('a a a a a' → [aa, a, aa]) where Sennrich's scan leaves it last
    * ([aa, aa, a]) — a documented positional deviation, identical in both
    * engines. The winner is a LITERAL pair: one row per round, collected
    * on the driver (bounded by construction, the Packing-subtotals
    * precedent), so each round's plan is one flat codegen'd select
    * instead of a per-round broadcast join whose replace-nesting
    * compounds through a 6-round lazy chain (the r10 3.5× regression).
    */
  def applyMergeLit(dict: DataFrame, l: String, r: String): DataFrame = {
    val pat = lit(s" $l $r ")
    val rep = lit(s" $l$r ")
    dict.select(col("word"),
      replace(replace(col("s"), pat, rep), pat, rep).as("s"),
      col("cnt"))
  }

  /** DataFrame-best variant for spec-level semantics tests; `best` holds
    * 0 or 1 rows (an empty best table — exhausted vocab — is a no-op).
    */
  def applyMerge(dict: DataFrame, best: DataFrame): DataFrame =
    best.select(col("l"), col("r")).collect().headOption match {
      case Some(row) => applyMergeLit(dict, row.getString(0), row.getString(1))
      case None      => dict
    }

  /** Run `Rounds` merge rounds. Returns (merges, finalDict):
    * merges = (merge_round, left_sym, right_sym, merged, cnt), one row
    * per round; finalDict = (word, s, cnt) after all merges.
    *
    * Adaptive (the containmentDropsAdaptive pattern): the weighted
    * dictionary is materialized once (eager localCheckpoint — the one
    * corpus-scan stage), and when it is within `Route.BpeWords` the
    * `Rounds` merge rounds run in a driver-local kernel over the
    * collected rows — replacing `Rounds` scheduled jobs (each a
    * vocab-sized groupBy + argmax round-trip, pure per-job overhead at
    * any corpus size, since the dictionary does not grow with the
    * corpus) with ONE bounded collect. Same merges, same final
    * segmentation: the kernel replays the identical pair-count /
    * argmax / double-replace arithmetic (see trainLocal). Past the
    * bound, the distributed per-round loop runs unchanged
    * (BpeAdaptiveParitySpec holds the two routes equal on randomized
    * corpora).
    */
  def train(documents: DataFrame): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val d0 = dictionary(documents).localCheckpoint()
    if (Route.fits("Bpe.train", Route.BpeWords, d0)) {
      val rows = d0.as[(String, String, Long)].collect()
      val (winners, dict) = trainLocal(rows)
      (winners.toDF("merge_round", "left_sym", "right_sym", "merged", "cnt"),
        spark.createDataset(dict.toSeq).toDF("word", "s", "cnt"))
    } else trainDistributed(d0)
  }

  /** The distributed per-round loop over a materialized dictionary —
    * the fallback past `Route.BpeWords`.
    */
  private def trainDistributed(d0: DataFrame): (DataFrame, DataFrame) = {
    val spark = d0.sparkSession
    import spark.implicits._
    var d = d0
    val winners = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to Rounds) {
      bestPair(pairCounts(d)).collect().headOption.foreach { w =>
        val (l, rr, cnt) = (w.getString(0), w.getString(1), w.getLong(2))
        winners += ((r, l, rr, l + rr, cnt))
        d = applyMergeLit(d, l, rr)
      }
    }
    val merges = winners.result()
      .toDF("merge_round", "left_sym", "right_sym", "merged", "cnt")
    (merges, d)
  }

  /** UTF-8 byte order — Spark/DuckDB's binary string collation. The
    * driver kernel must not tie-break the argmax with String.compareTo
    * (UTF-16 code-unit order), which disagrees with byte order for
    * supplementary characters vs [U+E000, U+FFFF].
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local kernel replaying EXACTLY the distributed rounds over a
    * collected (word, s, cnt) dictionary. Same arithmetic end-to-end:
    * pairs from adjacent symbols of trim(s) split on ' ' (weighted by
    * cnt, summed in Long), winner under (cnt desc, l asc, r asc) with
    * the tie-break in UTF-8 BYTE order (Spark's binary collation — see
    * utf8Lt), and the merge applied as the same left-to-right
    * non-overlapping literal replace TWICE (Java String.replace and
    * Spark's `replace` share those semantics; see applyMergeLit for why
    * two passes reach the fixpoint).
    */
  private[graft] def trainLocal(rows: Array[(String, String, Long)])
      : (Seq[(Int, String, String, String, Long)], Array[(String, String, Long)]) = {
    var dict = rows
    val winners = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to Rounds) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      for ((_, s, cnt) <- dict) {
        val syms = s.trim.split(" ")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((l, rr), cnt) = counts.minBy(identity)(Ordering.fromLessThan[
          ((String, String), Long)] { case (((al, ar), ac), ((bl, br), bc)) =>
          if (ac != bc) ac > bc
          else if (al != bl) utf8Lt(al, bl)
          else utf8Lt(ar, br)
        })
        winners += ((r, l, rr, l + rr, cnt))
        val pat = s" $l $rr "
        val rep = s" $l$rr "
        dict = dict.map { case (w, s, c) =>
          (w, s.replace(pat, rep).replace(pat, rep), c)
        }
      }
    }
    (winners.result(), dict)
  }

  // ------------------------------------------------------------ oracle SQL

  /** CTE chain bd0 → (bp_r → bb_r → bd_r)×Rounds, mirroring train(). */
  def trainSql: String = {
    val head =
      s"""bd0 AS (
         |  SELECT word, regexp_replace(word, '(.)', ' \\1', 'g') || ' ' AS s,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(${TextOps.wordsSql("text")}) AS word FROM documents)
         |  WHERE word != ''
         |  GROUP BY word)""".stripMargin
    val steps = (1 to Rounds).map { r =>
      s"""bp$r AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT syms, cnt, unnest(range(1, len(syms))) AS i
         |    FROM (SELECT string_split(trim(s), ' ') AS syms, cnt FROM bd${r - 1}))
         |  GROUP BY 1, 2),
         |bb$r AS (
         |  SELECT l, r, cnt FROM bp$r ORDER BY cnt DESC, l, r LIMIT 1),
         |bd$r AS (
         |  SELECT d.word,
         |         coalesce(replace(replace(d.s, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '), ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '), d.s) AS s,
         |         d.cnt
         |  FROM bd${r - 1} d LEFT JOIN bb$r b ON true)""".stripMargin
    }
    val merges =
      s"""bmerges AS (
         |${(1 to Rounds).map(r =>
        s"  SELECT $r AS merge_round, l AS left_sym, r AS right_sym, l || r AS merged, cnt FROM bb$r")
        .mkString("\n  UNION ALL\n")})""".stripMargin
    (Seq(head) ++ steps :+ merges).mkString(",\n")
  }
}
