package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.dwrf.TestSpark

/** The per-query audits ([[Q]]): which queries carry one, that a
  * violated claim makes an audit throw, and that the layout and
  * streaming audits hold after their queries.
  */
class QueryAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the sf0.001 fixture tables (TESTDATA.md), checked in byte for byte
  // next to the benchmark; tests run from the repository root
  private val sf = "perfbench/tables/sf0.001"

  test("exactly the twelve audited queries carry a non-trivial audit") {
    val audited = SparkEntry.allQueries.filter(_.audit ne Q.noAudit)
      .map(_.name).toSet
    assert(audited == Set(
      "q_quantile_sketch", "q_profile_sketch", "dedup_simhash",
      "dwrf_zorder_scan", "dwrf_bloom_stride", "dwrf_optimize_scan",
      "stream_cdc_apply", "stream_agg_maintain",
      "ann_lsh_recall", "ann_ivf_recall", "ann_pq_recall",
      "ann_pq_incremental"))
  }

  test("the KLL rank audit rejects quantiles taken from the wrong column") {
    graft.Tables.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT kll_sketch_get_quantile_double(
        |    kll_sketch_agg_double(l_extendedprice, 400), array(0.5D, 0.9D, 0.99D)),
        |  kll_sketch_get_quantile_double(
        |    kll_sketch_agg_double(l_quantity, 400), array(0.5D, 0.9D, 0.99D)),
        |  COUNT(*) FROM lineitem""".stripMargin).collect().head
    val phis = Seq(0.5, 0.9, 0.99)
    val n = r.getLong(2)
    // the right column's quantiles hold the bound...
    CoreQueries.requireRankBound(spark, "l_extendedprice", phis,
      r.getSeq[Double](0), n)
    // ...and l_quantity's (1..50) rank near 0 among extended prices
    val e = intercept[IllegalArgumentException] {
      CoreQueries.requireRankBound(spark, "l_extendedprice", phis,
        r.getSeq[Double](1), n)
    }
    assert(e.getMessage.contains("KLL rank error"))
  }

  test("the layout and streaming audits hold after their queries") {
    for (name <- Seq("dwrf_zorder_scan", "dwrf_bloom_stride",
        "dwrf_optimize_scan", "stream_cdc_apply", "stream_agg_maintain")) {
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, name)
      SparkEntry.audits(name)(spark, sf)
    }
  }
}
