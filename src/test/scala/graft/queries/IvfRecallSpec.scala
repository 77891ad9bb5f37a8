package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** The IVF tier's measured recall floor (the LSH analog is
  * LshRecallSpec): probing 4 of 16 cells must recover most of the exact
  * dot-product top-10 on the fixed seeded fixture. Measured 0.9 at both
  * sf0.001 and sf0.01; the floor is 0.7 so a regenerated fixture has
  * headroom while a broken quantizer (recall ~nprobe/cells ≈ 0.25 for
  * random assignment) still fails loudly.
  */
class IvfRecallSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the sf0.001 fixture tables (TESTDATA.md), checked in byte for byte
  // next to the benchmark; tests run from the repository root
  private val sf = "perfbench/tables/sf0.001"

  test("ivf nprobe=4/16 recovers >= 0.7 of the exact top-10") {
    val row = SparkEntry.queries("ann_ivf_recall")(spark, sf).collect().head
    // the audit measures the recall (and requires its 0.5 floor); the
    // measured value rides the instrument side-channel
    SparkEntry.audits("ann_ivf_recall")(spark, sf)
    val recall = SimilarityQueries.lastInstrument
      .get("ann_ivf_recall")("recall")
    assert(row.getAs[Long]("n_exact") == 10L)
    assert(recall >= 0.7, s"ivf recall degraded: $recall")
  }
}
