package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** Pins the PQ tier's measured quality as numbers, not theory: ADC over
  * 8 one-byte subspace codes (32× compression of the 64-float vectors)
  * plus a 50-candidate exact re-rank must keep most of the exact
  * top-10. Training is fully deterministic (seeded sample order, first-K
  * distinct init, fixed Lloyd iterations), so the measured recall is a
  * constant per dataset — the bound is a real floor, not a flaky
  * statistical test.
  */
class PqRecallSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("PQ ADC + re-rank keeps recall >= 0.6 at 32x compression") {
    val df = SparkEntry.queries("ann_pq_recall")(spark, sf)
    val row = df.collect().head
    // the audit measures the recall (and requires its 0.6 floor); the
    // measured value rides the instrument side-channel
    SparkEntry.audits("ann_pq_recall")(spark, sf)
    val recall = SimilarityQueries.lastInstrument
      .get("ann_pq_recall")("recall")
    val comp = row.getAs[Long]("compression_x")
    assert(comp === 32L, s"8 subspaces over 64 floats must compress 32x, got $comp")
    assert(recall >= 0.6, s"PQ recall floor broken: $recall")
  }

  test("the top-k query returns 10 rows ranked by exact re-rank score") {
    val rows = SparkEntry.queries("ann_pq_topk")(spark, sf).collect()
    assert(rows.length === 10)
    val dots = rows.map(_.getAs[Double]("dot")).toSeq
    assert(dots === dots.sorted.reverse, "re-ranked dots must be descending")
    assert(!rows.exists(_.getAs[Long]("vec_id") == 0L),
      "the query vector must not return itself")
  }
}
