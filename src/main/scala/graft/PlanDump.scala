package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for named declared queries to files —
  * the plan evidence behind plans/r{N}/<query>_{before,after}.txt.
  *
  * Usage: SPARK_GRAFT_PLAN_OUT=plans/r14 SPARK_GRAFT_PLAN_SUFFIX=after \
  *          sbt "runMain graft.PlanDump dedup_simhash ann_pq_topk"
  *
  * Runs under BENCH conditions (production float arithmetic) so the
  * dumped plan is the one the bench times; set SPARK_GRAFT_PLAN_EXACT=1
  * to dump the Verify-mode plan instead (exact-decimal arithmetic).
  * Session shape is shared with Bench via [[BenchSession]].
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // neutral default (ADVICE r14): a round-specific default would let a
    // future round that forgets the env var silently overwrite committed
    // plan evidence with same-named files
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/scratch")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val spark = BenchSession.build()
    val exact = sys.env.get("SPARK_GRAFT_PLAN_EXACT").contains("1")
    // exact mode emulates Verify's default arithmetic; default mode
    // emulates Bench
    if (!exact) graft.queries.Exact.disableForBench()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Inner-plan probes for driver-materialized queries whose declared
    // plan is just a LocalTableScan: the names below dump the actual
    // distributed computation feeding the collect.
    val probes: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "ngram_jaccard_inner" ->
        ((s, d) => graft.queries.DedupQueries.ngramJaccardPlan(s, d)),
      "dedup_clusters_edges" ->
        ((s, d) => graft.queries.DedupQueries.ngramJaccardPlan(s, d,
          sorted = false)))
    val queries = SparkEntry.queries ++ probes
    // scripted evidence generation must be able to DETECT a failed dump
    // (ADVICE r14): NonFatal only — a fatal error propagates — and any
    // per-query failure (including an unknown name) exits nonzero
    var failed = 0
    args.foreach { name =>
      queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
          failed += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              ExplainMode.fromString("formatted"))
            val header =
              s"query: $name\nsf: $sfDir\nmode: ${if (exact) "exact (Verify)" else "float (Bench)"}\n\n"
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
              (header + txt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
              failed += 1
          }
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed dump(s) failed")
      sys.exit(1)
    }
  }
}
