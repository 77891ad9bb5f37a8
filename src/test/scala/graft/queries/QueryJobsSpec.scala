package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkEntry, Tables}
import graft.sources.dwrf.TestSpark

/** Job-count guards for the benchmark pipeline's dedup queries. Under
  * adaptive execution every exchange, every global aggregate and every
  * range-partitioned sort is a Spark job of its own, and on driver-sized
  * inputs those jobs' fixed cost is most of a query's time. Each query
  * materializes its driver-sized phases with one action each; these
  * guards keep the job counts from creeping back up, and pin the rows so
  * the fewer jobs still compute the same answer.
  *
  * Runs on the benchmark's fixed sf0.001 tables, after one warm-up run
  * (schemas memoized, as in a benchmark round).
  */
class QueryJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "perfbench/tables/sf0.001"

  private def counted(q: String): (Seq[String], Int) = {
    Tables.registerAll(spark, sf)
    SparkEntry.queries(q)(spark, sf).collect()
    val (rows, jobs) = JobCount.of(spark)(SparkEntry.queries(q)(spark, sf).collect())
    info(s"$q: $jobs jobs")
    (rows.map(_.toString).toSeq, jobs)
  }

  test("dedup_semantic: at most 12 Spark jobs, rows unchanged") {
    val (rows, jobs) = counted("dedup_semantic")
    assert(rows === Seq("[600,5,141,0.9,100,100,1.0,100,100,1.0,100]"))
    assert(jobs <= 12, s"dedup_semantic launched $jobs jobs")
  }

  test("dedup_minhash_lsh: at most 10 Spark jobs, rows unchanged") {
    val (rows, jobs) = counted("dedup_minhash_lsh")
    assert(rows === Seq(
      "[0,50,0.9375,0.9474]", "[0,82,0.9688,0.95]", "[5,450,0.9375,0.9744]",
      "[8,12,0.9375,0.973]", "[8,120,1.0,0.9861]", "[8,360,0.9688,0.9863]",
      "[12,120,0.9375,0.9595]", "[12,360,0.9688,0.9865]", "[16,369,0.9688,0.9881]",
      "[26,176,1.0,0.9882]", "[33,436,0.875,0.8571]", "[45,487,0.9688,0.9615]",
      "[50,82,0.9063,0.9]", "[56,157,1.0,0.9808]", "[77,459,1.0,0.9868]",
      "[89,114,0.875,0.9167]", "[99,174,0.9688,0.9878]", "[110,467,1.0,0.989]",
      "[119,425,0.8438,0.9697]", "[120,360,0.9688,0.9726]", "[144,161,1.0,0.9884]",
      "[211,404,1.0,0.9841]", "[229,263,0.9063,0.9524]", "[260,391,1.0,0.9885]",
      "[270,329,1.0,0.9878]", "[328,428,1.0,0.973]", "[349,411,0.9688,0.98]",
      "[474,498,1.0,0.9891]"))
    assert(jobs <= 10, s"dedup_minhash_lsh launched $jobs jobs")
  }
}
