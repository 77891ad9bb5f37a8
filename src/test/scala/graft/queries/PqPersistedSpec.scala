package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** The persisted PQ index: codes packed into one BIGINT per vector in a
  * native-format table, queried via `vec_adc_packed` with exact re-rank
  * — recall must match the in-flight PQ tier (identical deterministic
  * training), and a second run must reuse the staged index.
  */
class PqPersistedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("persisted index keeps the in-flight tier's recall and stages once") {
    SparkEntry.queries("ann_pq_persisted")(spark, sf).collect()
    // measured values ride the instrument side-channel since the
    // emission went oracle-checked (geometry columns + floor bits)
    val inst1 = SimilarityQueries.lastInstrument.get("ann_pq_persisted")
    val recall = inst1("recall")
    assert(recall >= 0.6, s"persisted-PQ recall floor broken: $recall")
    // identical deterministic training => identical recall to the
    // in-flight tier on the same corpus
    SparkEntry.audits("ann_pq_recall")(spark, sf)
    val inflight = SimilarityQueries.lastInstrument
      .get("ann_pq_recall")("recall")
    assert(recall == inflight,
      s"persisted ($recall) and in-flight ($inflight) PQ recalls must " +
        "agree — same codebooks, same candidates")
    // second run: staged index is reused (marker present), same answer
    SparkEntry.queries("ann_pq_persisted")(spark, sf).collect()
    val inst2 = SimilarityQueries.lastInstrument.get("ann_pq_persisted")
    assert(inst2("recall") == recall)
    assert(inst2("index_bytes_per_vec") == inst1("index_bytes_per_vec"))
  }
}
