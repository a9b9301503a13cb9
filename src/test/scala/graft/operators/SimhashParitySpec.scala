package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native map-side SimHash expression (`SimhashBits`) must equal the
  * r18 explode + 60-sum groupBy formulation bit-for-bit — the oracle SQL
  * still computes the groupBy form, so any divergence is a correctness
  * break, not a perf regression. Randomized corpora cover the traps: empty
  * text (tokenizes to [""] — both paths emit a row), null text (no words
  * — neither path emits a row), repeated words (multiset votes),
  * whitespace-edged text (wordsJvm/words parity), and exact vote ties
  * (2 * ones == n -> bit clear).
  */
class SimhashParitySpec extends SparkSpec {

  /** The r18-era explode + groupBy SimHash — the parity reference for
    * `Dedup.simhash` (same integers; the query path uses the map-side
    * expression).
    */
  private def simhashViaGroupBy(docs: DataFrame, id: Column,
                                text: Column): DataFrame = {
    import Dedup.SimBits
    val wordRows = docs.select(id.as("id"),
        explode(TextOps.words(text)).as("w"))
      .select(col("id"), TextOps.hash64(col("w")).as("h"))
    val sums = (0 until SimBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j")
    }
    val sig = (0 until SimBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    wordRows.groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x1", "zz", "q")
    (0 until n).map { i =>
      val words = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val text = rnd.nextInt(5) match {
        case 0 => ""                       // empty -> [""] token
        case 1 => " " + words.mkString(" ") // leading space (trim path)
        case 2 => words.mkString("  ")      // double spaces
        case 3 => words.mkString(" ") + "\n" // trailing newline kept token
        case _ => words.mkString(" ")
      }
      (i.toLong, text)
    }
  }

  test("SimhashBits equals the explode+groupBy formulation on randomized corpora") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(1L, 2L, 3L)) {
      val docs = (corpus(seed, 120) :+ ((120L, null: String))).toDF("id", "text")
      val fast = Dedup.simhash(docs, col("id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = simhashViaGroupBy(docs, col("id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast.keySet == ref.keySet, s"seed $seed: id sets differ")
      assert(!fast.contains(120L), s"seed $seed: null text got a signature")
      for ((id, sig) <- ref)
        assert(fast(id) == sig, s"seed $seed: simhash differs for id $id")
    }
  }

  test("MinhashRegisters equals the per-register HOF arithmetic") {
    val s = spark
    import s.implicits._
    val docs = corpus(7L, 100).toDF("id", "text")
    val fast = Dedup.minhashSignaturesRowwise(docs, col("id"), col("text"), 3)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    // reference: the old 12 x array_min(transform(...)) HOF columns
    val regs = (0 until Dedup.NumHashes).map { i =>
      array_min(transform(col("hs"),
        h => (h * Dedup.hashA(i) + Dedup.hashB(i)) % Dedup.P)).as(s"m$i")
    }
    val ref = docs.select(col("id"),
        org.apache.spark.sql.graft.ArrayExpressions.shingleHashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("id") +: regs: _*)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(fast.keySet == ref.keySet)
    for ((id, ms) <- ref) assert(fast(id) == ms, s"registers differ for id $id")
  }
}
