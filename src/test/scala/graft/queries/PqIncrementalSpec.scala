package graft.queries

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.{DwrfLog, DwrfUtil, TestSpark}

/** Incrementally maintained PQ index: the maintain must encode only the
  * change-feed delta with FROZEN codebooks, land as one atomic append
  * commit, re-apply as a no-op, and search as well as a full build.
  * Determinism across runs matters doubly here — the query RESETS the
  * index to pristine v0 (metadata-only restore) each run, so the same
  * maintain re-executes and the emitted row never depends on how many
  * times the query has run before.
  */
class PqIncrementalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("maintain is delta-only, idempotent, and deterministic across runs") {
    val row1 = SparkEntry.queries("ann_pq_incremental")(spark, sf).collect()
    assert(row1.length == 1)
    val r = row1.head
    val nTotal = r.getAs[Long]("n_total")
    val nDelta = r.getAs[Long]("n_delta")
    assert(nDelta > 0 && nDelta < nTotal,
      s"staging must hold out a real delta ($nDelta of $nTotal)")
    assert(r.getAs[Long]("encoded_delta_only") == 1L)
    assert(r.getAs[Long]("reapply_noop") == 1L)
    assert(r.getAs[Long]("recall_within_floor") == 1L)
    // the maintained codes equal a one-pass re-encode (the audit)
    SparkEntry.audits("ann_pq_incremental")(spark, sf)
    // dir-qualified key: race-free against PqDriftEscalationSpec's
    // parallel run on its own corpus
    val inst1 = SimilarityQueries.lastInstrument.get(s"ann_pq_incremental@$sf")
    assert(inst1("encoded_delta") == nDelta.toDouble,
      "the instrument must record the delta-only encode count")
    // drift policy: the probe-escalated re-rank must hold the raised
    // floor (0.7) — the r12 stress sat at 0.5 with a fixed pool — and
    // record the pool it settled on (bounded by the n/8 cap)
    assert(inst1("recall") >= SimilarityQueries.PqIncProbeTarget,
      s"recall ${inst1("recall")} under the ${SimilarityQueries.PqIncProbeTarget} target")
    assert(inst1("rerank_pool") >= 50.0 &&
      inst1("rerank_pool") <= math.max(50.0, nTotal.toDouble / 8),
      s"re-rank pool ${inst1("rerank_pool")} outside [base, n/8]")
    // codebooks are frozen: the training table is written at staging
    // only — capture its stamp, re-run, and require it untouched. The
    // lookup pins THIS corpus's staging dirs by the same dir-derived
    // tag prefix the query uses (a Verify/opscale run in the same
    // checkout stages other pqinc-* corpora — matching any of them
    // would assert against the wrong table, vacuously).
    val conf = DwrfUtil.sessionHadoopConf()
    val tagPrefix = "pqinc-codebook-" + sf.replaceAll("[^A-Za-z0-9]+", "_")
    def mtimeMax(p: java.nio.file.Path): Long = {
      val walk = java.nio.file.Files.walk(p)
      try walk.mapToLong(f => f.toFile.lastModified).max.orElse(-1L)
      finally walk.close()
    }
    val cbPath = {
      val list = java.nio.file.Files.list(Staging.root)
      try {
        val it = list.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith(tagPrefix)) found = p
        }
        found
      } finally list.close()
    }
    assert(cbPath != null, s"staging must persist the codebook table ($tagPrefix*)")
    val cbStamp = mtimeMax(cbPath)

    val row2 = SparkEntry.queries("ann_pq_incremental")(spark, sf).collect()
    assert(row2.head == r, "the emitted row must not depend on run count")
    val inst2 = SimilarityQueries.lastInstrument.get(s"ann_pq_incremental@$sf")
    assert(inst2("recall") == inst1("recall"),
      "restore-reset + re-maintain must reproduce the identical search")
    val cbStamp2 = mtimeMax(cbPath)
    assert(cbStamp2 == cbStamp,
      "codebooks must stay frozen — a re-train on maintain is the bug")

    // the index log shows the restore + append lifecycle, never a rebuild
    val idxPrefix = "pqinc-index-" + sf.replaceAll("[^A-Za-z0-9]+", "_")
    val idxPath = {
      val list = java.nio.file.Files.list(Staging.root)
      try {
        val it = list.iterator()
        var found: Path = null
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith(idxPrefix))
            found = new Path(p.toAbsolutePath.toString)
        }
        found
      } finally list.close()
    }
    assert(idxPath != null)
    val hist = DwrfLog.history(idxPath, conf)
    assert(hist.head.version == 0L,
      "pristine v0 must survive (the restore target is never vacuumed)")
    assert(hist.last.op == "append",
      s"the latest commit must be the maintain's append, got ${hist.last.op}")
  }
}
