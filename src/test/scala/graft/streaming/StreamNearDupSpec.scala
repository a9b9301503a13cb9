package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Per-row minhash signatures (`Dedup.minhashSignaturesRowwise`, the
  * shuffle-free shape the corpus-ingest admit computes per micro-batch)
  * must equal the batch groupBy signatures (`shingleHashes` →
  * `minhashSignatures`) register for register.
  */
class StreamNearDupSpec extends SparkSpec {

  private val N = 3 // shingle size for the tiny fixture texts

  private val corpusDocs = Seq(
    (100L, "the quick brown fox jumps over the lazy dog"),
    (101L, "pack my box with five dozen liquor jugs"),
    (102L, "how vexingly quick daft zebras jump"))

  test("rowwise minhash signatures match the batch groupBy signatures") {
    import spark.implicits._
    val docs = corpusDocs.toDF("id", "text")
    val viaGroupBy = Dedup.minhashSignatures(
      Dedup.shingleHashes(docs, col("id"), col("text"), N))
    val viaRowwise = Dedup.minhashSignaturesRowwise(
      docs, col("id"), col("text"), N)
    assert(viaGroupBy.except(viaRowwise).isEmpty
      && viaRowwise.except(viaGroupBy).isEmpty)
  }
}
