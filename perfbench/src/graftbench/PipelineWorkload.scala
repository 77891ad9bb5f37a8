package graftbench

import scala.collection.mutable

/** Query-tier workload: a closed loop over queries registered in
  * `graft.SparkEntry.queries`, on fixed tables. Spark's shuffle and driver
  * paths and graft's queries/functions/operators do the work; the inputs
  * are parquet, so dwrf reading and writing barely runs. That makes this
  * the bypass case for format work.
  *
  * Correctness: the first (warm-up) execution of each query is dumped as
  * parquet, for the harness to compare with the query's DuckDB oracle SQL;
  * every timed repeat must reproduce the warm-up's checksum exactly.
  */
final class PipelineWorkload(env: Env) extends Workload {
  import env._
  val name = "pipeline"

  val queries: Seq[String] = Seq(
    "q1_pricing", "q3_shipping_priority", "adv_window_battery",
    "q_quantile_sketch", "text_heavy_hitters",
    "dedup_minhash_lsh", "dedup_semantic",
    "ann_ivf_topk", "multimodal_meta")

  /** 27 ops, a tail at the 63rd percentile; more rounds would not fit the
    * run budget (a round takes about 7 s). */
  val timedRounds = 3

  private val expected = mutable.Map.empty[String, Checksum]
  private val resultDir = s"$workDir/results"

  def source(): Unit = {
    val known = graft.SparkEntry.queries.keySet
    queries.foreach(q => require(known(q), s"graft.SparkEntry.queries has no $q"))
  }

  def stage(): Unit = graft.Tables.registerAll(spark, dataDir)

  /** Writes the queries' oracle SQL for the harness's DuckDB compare. */
  def prepareChecks(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = queries.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(resultDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultDir, "oracle_sql.json"),
      Json.obj(queries.map(q => q -> Json.str(sql(q)))))
  }

  /** The first execution of a query (the untimed warm-up round, which also
    * trains and stages the JVM-lifetime structures) collects its rows,
    * dumps them for the oracle compare and keeps their checksum; every
    * later execution must reproduce that checksum. */
  def round(r: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + r).shuffle(queries).map { q =>
      new Op(q) {
        private val first = !expected.contains(q)
        private var got: Checksum = _
        def run(): Unit = {
          val df = graft.SparkEntry.queries(q)(spark, dataDir)
          if (first) {
            val local = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
            local.coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$q")
            got = Checksum.of(local)
          } else got = checksum(df)
        }
        def check(): Option[String] =
          if (first) { expected(q) = got; None }
          else expect("checksum vs first run", got, expected(q))
      }
    }

  def ownMetrics(recs: Seq[OpRecord]): Seq[Metric] = Nil
}
