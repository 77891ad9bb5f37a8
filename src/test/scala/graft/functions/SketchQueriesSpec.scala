package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** The sketch queries on Spark's built-in KLL and theta sketches: each
  * query runs with its in-query gates on (the rank-error and drift
  * REQUIREs) and must report its bound bit as 1, and the SQL-surface
  * behaviour those queries rely on is pinned against the built-ins.
  */
class SketchQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the sf0.001 fixture tables (TESTDATA.md), checked in byte for byte
  // next to the benchmark; tests run from the repository root
  private val sf = "perfbench/tables/sf0.001"

  private def run(query: String) = {
    assert(graft.queries.Gates.enabled, "the sketch audits run only with gates on")
    graft.SparkEntry.queries(query)(spark, sf).collect()
  }

  test("q_quantile_sketch holds the 0.02 rank bound") {
    val rows = run("q_quantile_sketch")
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("kll_within_bound") == 1L)
  }

  test("q_distinct_sketch holds the 5% drift bound on both columns") {
    val rows = run("q_distinct_sketch")
    assert(rows.map(_.getString(0)).toSeq == Seq("l_partkey", "l_suppkey"))
    assert(rows.forall(_.getAs[Long]("kmv_within_bound") == 1L))
  }

  test("q_profile_sketch holds every sketch bound in one scan") {
    val rows = run("q_profile_sketch")
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("sketches_within_bound") == 1L)
  }

  test("kll_sketch_agg_double skips NULL and NaN inputs") {
    val r = spark.sql(
      """SELECT kll_sketch_get_n_double(s),
        |  kll_sketch_get_quantile_double(s, array(0.5D))[0]
        |FROM (SELECT kll_sketch_agg_double(x, 64) AS s FROM VALUES
        |  (CAST('NaN' AS DOUBLE)), (1.0D), (CAST(NULL AS DOUBLE)), (2.0D),
        |  (3.0D) AS t(x))""".stripMargin).collect().head
    assert(r.getLong(0) == 3L, "only the three finite values are counted")
    assert(r.getDouble(1) == 2.0, s"NaN must be skipped, got median ${r.getDouble(1)}")
  }

  private def theta(df: org.apache.spark.sql.DataFrame, c: String): Long =
    df.agg(expr(s"theta_sketch_estimate(theta_sketch_agg($c, 12))"))
      .collect().head.getLong(0)

  test("theta is exact below its nominal entries, for longs and strings") {
    val df = spark.range(0, 100000, 1, 8).select(
      (col("id") % 4000).as("low"),
      // residues ≡ 0 (mod 10) are always null: 270 distinct strings
      when(col("id") % 10 =!= 0, concat(lit("s"), col("id") % 300)).as("s"))
    assert(theta(df, "low") == 4000L, "4000 < 4096 nominal entries must be exact")
    assert(theta(df, "s") == 270L, "270 distinct strings, nulls skipped")
  }

  test("theta estimate does not depend on partitioning") {
    val base = spark.range(0, 200000, 1, 1).select((col("id") % 20000).as("v"))
    val one = theta(base.repartition(1), "v")
    val many = theta(base.repartition(32), "v")
    assert(one == many, s"repartition(1) gave $one, repartition(32) gave $many")
    assert(math.abs(one - 20000.0) / 20000.0 <= 0.05, s"estimate $one for 20000")
  }
}
