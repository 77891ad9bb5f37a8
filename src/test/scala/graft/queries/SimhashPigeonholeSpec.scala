package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** Brute-force check of `dedup_simhash`'s recall GUARANTEE, not just its
  * output: with a 64-bit signature split into 8 byte-bands, any pair at
  * hamming distance ≤ 7 differs in at most 7 of the 8 bytes, so at least
  * one byte matches and the band join MUST surface the pair (pigeonhole —
  * no probability involved). The spec computes all-pairs hamming over the
  * identical signatures (500 docs at sf0.001 → 125k pairs, driver-side)
  * and asserts every ≤ 7 pair appears in the query output; pairs at
  * exactly 8 are allowed to miss only when all 8 differing bits land in 8
  * distinct bytes.
  */
class SimhashPigeonholeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every pair at hamming <= 7 surfaces (8-band pigeonhole bound)") {
    val sigs = DedupQueries.simhashSignatures(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val low = for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 7
    } yield {
      val (x, y) = (sigs(i)._1, sigs(j)._1)
      (math.min(x, y), math.max(x, y))
    }
    // the corpus's planted near-dups put real mass in the <= 7 regime —
    // guard against the assertion becoming vacuous if the fixture changes
    assert(low.nonEmpty, "no pairs at hamming <= 7: pigeonhole check is vacuous")
    val surfaced = SparkEntry.queries("dedup_simhash")(spark, sf)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = low.filterNot(surfaced.contains)
    assert(missing.isEmpty,
      s"pigeonhole violated: ${missing.size} of ${low.size} pairs at " +
        s"hamming <= 7 missing from dedup_simhash, e.g. ${missing.take(5)}")
    // the query's audit runs the same check on every Verify run
    SparkEntry.audits("dedup_simhash")(spark, sf)
  }

  test("pairs at exactly hamming 8 miss only with 8 distinct differing bytes") {
    val sigs = DedupQueries.simhashSignatures(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val surfaced = SparkEntry.queries("dedup_simhash")(spark, sf)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
      x = sigs(i)._2 ^ sigs(j)._2
      if java.lang.Long.bitCount(x) == 8
    } {
      val pair = (math.min(sigs(i)._1, sigs(j)._1),
        math.max(sigs(i)._1, sigs(j)._1))
      val bytesDiffering = (0 until 8).count(b => ((x >>> (b * 8)) & 0xffL) != 0)
      if (bytesDiffering < 8)
        assert(surfaced.contains(pair),
          s"pair $pair at hamming 8 with only $bytesDiffering differing " +
            "bytes shares a band and must surface")
      else
        assert(!surfaced.contains(pair),
          s"pair $pair differs in all 8 bytes yet surfaced — band join broken")
    }
  }
}
