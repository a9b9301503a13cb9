package graft.serve

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The resident probe's key packing (`CurationPipeline.Keys`): content
  * hashes and band keys pack exactly, the packed hash order is the hex
  * strings' order, membership of the packed keys is membership of the
  * strings, and a malformed key throws instead of reading as a miss.
  */
class CorpusKeysSpec extends AnyFunSuite {
  import CurationPipeline.{KeyBuilder, Keys}

  private val rng = new scala.util.Random(11)

  private def hex(hi: Long, lo: Long): String = f"$hi%016x$lo%016x"

  private def unpackBand(k: Long): String = s"${k >>> 31}_${k & ((1L << 31) - 1)}"

  /** Edge pairs (zero, all ones, high bits set) and random ones. */
  private val pairs: Seq[(Long, Long)] =
    Seq((0L, 0L), (-1L, -1L), (Long.MinValue, 0L), (0L, Long.MinValue),
      (Long.MaxValue, -1L), (-1L, 0L), (1L, Long.MinValue + 1)) ++
      Seq.fill(500)((rng.nextLong(), rng.nextLong()))

  test("an md5 hex round-trips through its (hi, lo) pair, high bits included") {
    for ((hi, lo) <- pairs) {
      val s = hex(hi, lo)
      assert(Keys.hashHi(s) == hi && Keys.hashLo(s) == lo, s)
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
    for (i <- 0 until 200) {
      val s = md5.digest(s"doc $i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(hex(Keys.hashHi(s), Keys.hashLo(s)) == s)
    }
  }

  test("a band key round-trips through one long, registers 0 and P - 1 too") {
    val top = Dedup.P - 1
    val regs = Seq(0L, 1L, 9L, 10L, top - 1, top) ++ Seq.fill(300)(rng.nextLong(Dedup.P))
    for (r0 <- regs.take(40); r1 <- regs.takeRight(40)) {
      val s = s"${r0}_$r1"
      val k = Keys.band(s)
      assert(k >= 0 && k < (1L << 62), s)
      assert(unpackBand(k) == s, s)
    }
    assert(Keys.band(s"${top}_$top") == (top << 31 | top))
    assert(Keys.band("0_0") == 0L)
  }

  test("sorted packed hashes are in the hex strings' order, membership exact") {
    val b = new KeyBuilder
    pairs.foreach { case (hi, lo) => b.hash(hi, lo) }
    val ks = b.result()
    val sorted = ks.hashes.grouped(2).map(p => hex(p(0), p(1))).toSeq
    assert(sorted == pairs.map { case (hi, lo) => hex(hi, lo) }.sorted)
    // every held pair, its neighbours in one bit of either long (the sign
    // bits included), and random pairs
    val held = pairs.toSet
    val probes = pairs ++ Seq.fill(500)((rng.nextLong(), rng.nextLong())) ++
      pairs.flatMap { case (hi, lo) =>
        Seq((hi, lo ^ 1L), (hi ^ 1L, lo), (hi ^ Long.MinValue, lo), (hi, lo ^ Long.MinValue))
      }
    for ((hi, lo) <- probes) assert(ks.hasHash(hi, lo) == held((hi, lo)), hex(hi, lo))
  }

  test("band membership equals string-set membership, per band") {
    val rows = Seq.fill(2000)((rng.nextInt(Dedup.Bands),
      s"${rng.nextLong(Dedup.P)}_${rng.nextLong(Dedup.P)}"))
    val held = rows.take(1000)
    val b = new KeyBuilder
    held.foreach { case (band, k) => b.band(band, Keys.band(k)) }
    val ks = b.result()
    val set = held.toSet
    // a held key under another band is a miss
    for ((band, k) <- rows ++ held.map { case (band, k) => ((band + 1) % Dedup.Bands, k) })
      assert(ks.hasBand(band, Keys.band(k)) == set((band, k)), s"$band $k")
    val q = rows.flatMap { case (band, k) => Seq(band.toLong, Keys.band(k)) }.toArray
    assert(ks.bandHits(q, _ => true).toSeq == rows.indices.filter(i => set(rows(i))))
  }

  test("partOf spreads packed keys over every partition") {
    val n = 4
    val parts = Seq.fill(4000)(Keys.band(s"${rng.nextLong(1000)}_${rng.nextLong(1000)}"))
      .map(Keys.partOf(_, n))
    assert(parts.forall(p => p >= 0 && p < n))
    val counts = parts.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.size == n && counts.values.min > 800, counts)
  }

  test("a malformed key throws, never reads as a miss") {
    val good = hex(0x0123456789abcdefL, -1L)
    for (s <- Seq(good.toUpperCase, good.dropRight(1), good + "0", good.updated(5, 'g'),
                  good.updated(31, ' '), " " + good.drop(1), "", null)) {
      intercept[IllegalArgumentException](Keys.hashHi(s) + Keys.hashLo(s))
      intercept[IllegalArgumentException](new KeyBuilder().hash(s))
    }
    for (s <- Seq("", "_", "1_", "_1", "01_2", "1_02", "+1_2", "-1_2", "1_-2", "1_2_3",
                  s"${Dedup.P}_0", s"0_${Dedup.P}", "99999999999_1", "1 _2", "1_2 ", "a_b",
                  "12", null))
      intercept[IllegalArgumentException](Keys.band(s))
    intercept[IllegalArgumentException](new KeyBuilder().band(Dedup.Bands, 0L))
    intercept[IllegalArgumentException](new KeyBuilder().band(-1, 0L))
  }
}
