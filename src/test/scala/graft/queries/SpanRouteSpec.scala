package graft.queries

import graft.SparkSpec
import graft.operators.Route
import scala.util.Random

/** The driver-local span-cut kernel (one collect + spanCutLocal) and the
  * distributed window chain inside `spanSurvivors` implement ONE
  * contract — hold them equal on randomized corpora with planted
  * verbatim runs, so the bounded route can never drift from the
  * oracle-gated distributed plan. (RandomizedParitySpec separately holds
  * the default route equal to an independent mask-based oracle.)
  */
class SpanRouteSpec extends SparkSpec {

  test("local span route == distributed span route on 8 random corpora") {
    import spark.implicits._
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    for (seed <- 0 until 8) {
      val rnd = new Random(1700 + seed)
      val shared = Seq.fill(55 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val docs = (0 until 20 + rnd.nextInt(15)).map { i =>
        val own = Seq.fill(rnd.nextInt(60))(s"u${i}x${rnd.nextInt(1000)}")
        val ws = rnd.nextInt(3) match {
          case 0 => shared ++ own          // long shared prefix → trim/drop
          case 1 => own ++ shared ++ own   // shared middle
          case _ => own                    // clean
        }
        (i.toLong, ws.mkString(" "))
      }.toDF("doc_id", "text")
      def via(maxDocs: Long) = Route.forcing(Route.Docs -> maxDocs)(
        DedupQueries.spanSurvivors(docs)
          .collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
          .toMap)
      assert(via(100000) == via(0), s"seed=$seed")
      spark.catalog.clearCache()
    }
  }

  test("n_words passthrough column is honored on both routes") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h", 8L), (2L, "a b", 2L))
      .toDF("doc_id", "text", "n_words")
    def via(maxDocs: Long) = Route.forcing(Route.Docs -> maxDocs)(
      DedupQueries.spanSurvivors(docs)
        .select("doc_id", "n_words", "action").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
    val expect = Set((1L, 8L, "keep"), (2L, 2L, "keep"))
    assert(via(100000) == expect && via(0) == expect)
  }
}
