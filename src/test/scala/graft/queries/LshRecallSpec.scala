package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** Pins the LSH recall claims as MEASURED numbers, not band-formula
  * theory. The planted fixture is 100 deterministic twins at
  * cos(v, twin) = 0.95 (the regime near-dup dedup targets); 4×8-bit
  * random-hyperplane bands predict recall 1-(1-p^8)^4 ≈ 0.89 there
  * (p = 1 - acos(0.95)/π ≈ 0.899). Everything is seeded, so the
  * measured value is a constant — the ≥ 0.8 bound is a real floor,
  * not a flaky statistical test.
  */
class LshRecallSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("planted twins sit at cosine 0.95 of their originals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val twins = SimilarityQueries.plantedTwins(spark, sf)
      .select(($"vec_id" - 10000000L).as("vec_id"), $"embedding".as("t"))
    val orig = graft.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".as("v"))
    val cos = twins.join(orig, "vec_id")
      .select(
        (expr("aggregate(zip_with(v, t, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, d) -> a + d)") /
          (sqrt(expr("aggregate(zip_with(v, v, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, d) -> a + d)")) *
           sqrt(expr("aggregate(zip_with(t, t, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, d) -> a + d)"))))
          .as("c"))
      .as[Double].collect()
    assert(cos.length == 100)
    cos.foreach(c => assert(math.abs(c - 0.95) < 1e-5,
      s"planted cosine drifted: $c"))
  }

  test("measured planted recall at c=0.95 is >= 0.8") {
    val row = SparkEntry.queries("ann_lsh_recall")(spark, sf).collect().head
    val plantedPairs = row.getAs[Long]("planted_pairs")
    // the audit measures the recall (and requires its 0.6 floor); the
    // measured values ride the instrument side-channel
    SparkEntry.audits("ann_lsh_recall")(spark, sf)
    val inst = SimilarityQueries.lastInstrument.get("ann_lsh_recall")
    val plantedFound = inst("planted_found")
    val plantedRecall = inst("planted_recall")
    assert(plantedPairs == 100L)
    assert(plantedRecall >= 0.8,
      s"planted recall $plantedRecall ($plantedFound/$plantedPairs) below the 0.8 floor")
  }

  test("autoBandGeometry: historical geometry at small n, occupancy-constant bits and recall-held bands as n grows") {
    // small corpora resolve to the pinned 4×8-bit geometry exactly —
    // the sf0.001/sf0.01 correctness surface cannot move
    assert(SimilarityQueries.autoBandGeometry(200L) == (32, 8))
    assert(SimilarityQueries.autoBandGeometry(2100L) == (32, 8))
    val p = 1.0 - math.acos(0.95) / math.Pi
    for (n <- Seq(20000L, 33600L, 1000000L, 100000000L)) {
      val (planes, bits) = SimilarityQueries.autoBandGeometry(n)
      assert(planes % bits == 0)
      // occupancy stays within [8, 32) while bits is inside the clamp:
      // ⌈log₂(n/16)⌉ bits means 2^bits ∈ [n/16, n/8)
      if (bits < 16)
        assert(n / math.pow(2, bits) <= 16.0 + 1e-9 &&
          n / math.pow(2, bits) > 4.0,
          s"occupancy drifted at n=$n: bits=$bits")
      // the band count must hold theoretical recall at the planted cosine
      val bands = planes / bits
      val recall = 1 - math.pow(1 - math.pow(p, bits), bands)
      assert(recall >= 0.85, s"n=$n geometry $bands×$bits-bit " +
        s"theoretical recall $recall below target")
      // and not overshoot: one band fewer would drop below target
      // (minimality is what keeps the signature narrow)
      val recallLess = 1 - math.pow(1 - math.pow(p, bits), bands - 1)
      assert(recallLess < 0.85, s"n=$n band count $bands not minimal")
    }
  }
}
