package graft.sources.dwrf


import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key skew mitigation for storage-partitioned joins: a bucketed
  * table with a declared salt (`dwrf.bucket.salt.column/count` table
  * properties) clusters its writes by `bucket(n, k) × bucket(s, salt)`,
  * so one hot join key's rows spread across up to `s` files inside its
  * bucket instead of concentrating into the single split a zero-shuffle
  * join cannot rebalance. With
  * `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  * .enabled`, Spark leaves the salted fact side's splits UNGROUPED and
  * replicates the dim side over them — the hot bucket becomes parallel
  * tasks, still with zero shuffle on either side.
  */
class DwrfBucketSaltSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftsalt", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftsalt.warehouse", warehouse)
    s
  }
  private lazy val warehouse = graft.TestDirs.tmp("dwrf-salt-wh-").toString

  private def shufflesIn(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = df.queryExecution.executedPlan
    val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    (p +: expanded).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum
  }

  test("salt spreads a hot key over files; partially-clustered SPJ splits the straggler task") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftsalt.lake")
    for (t <- Seq("fact", "dim")) s.sql(s"DROP TABLE IF EXISTS graftsalt.lake.$t")
    s.sql("CREATE TABLE graftsalt.lake.fact (k BIGINT, x BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES (" +
      "'dwrf.bucket.salt.column'='x', 'dwrf.bucket.salt.count'='8')")
    s.sql("CREATE TABLE graftsalt.lake.dim (k BIGINT, w BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k))")
    // hot key 0 owns 64k rows (~80x a cold key); 100 cold keys share 64k.
    // AQE's partition coalescing is off for the staging write: at toy
    // scale the whole table fits one advisory-sized partition, which
    // would legally merge the salt sub-clusters back together — at real
    // scale each sub-cluster exceeds the advisory size on its own.
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      s.range(0, 128000).select(
          when($"id" < 64000, 0L).otherwise($"id" % 100).as("k"),
          $"id".as("x"))
        .writeTo("graftsalt.lake.fact").append()
      s.range(0, 100).select($"id".as("k"), ($"id" * 10).as("w"))
        .writeTo("graftsalt.lake.dim").append()
    } finally
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    // the salt must have materialized: the hot key's bucket holds
    // multiple files (one per salt sub-cluster the write produced)
    val hotBucket = DwrfBucket.id(0L, 8)
    val files = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(s"$warehouse/lake/fact"),
      DwrfUtil.sessionHadoopConf())
    val hotFiles = files.filter(f => DwrfBucket.of(f.getName).contains(hotBucket))
    assert(hotFiles.size > 3,
      s"salted write left the hot bucket in ${hotFiles.size} file(s) — " +
        "the salt sub-clustering did not spread it")

    val oldBt = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "true")
    val taskDurations =
      scala.collection.concurrent.TrieMap.empty[(Int, Long), (Long, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskDurations.put((t.stageId, t.taskInfo.taskId),
            (t.taskInfo.duration, t.taskMetrics.inputMetrics.recordsRead))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val bare = s.table("graftsalt.lake.fact")
        .join(s.table("graftsalt.lake.dim"), "k")
      assert(shufflesIn(bare) == 0,
        "salted fact × dim must still plan as a zero-shuffle " +
          "storage-partitioned join")
      val joined = bare.selectExpr("COUNT(*) AS n", "SUM(x * w) AS dot")
      val row = joined.head()
      // exact expectation: every fact row matches exactly one dim row
      assert(row.getLong(0) == 128000L, s"join lost rows: ${row.getLong(0)}")
      // the listener bus is async; settle until the task map stops moving
      var prev = -1
      while (prev != taskDurations.size) {
        prev = taskDurations.size
        Thread.sleep(200)
      }
      // the hot bucket must NOT be one straggler task: with the salt's
      // sub-files ungrouped, no join task reads more than ~2x the rows
      // an even split would (the hot key's 64k rows over >3 sub-files)
      val joinTasks = taskDurations.values.map(_._2).filter(_ > 0L).toSeq
      assert(joinTasks.nonEmpty, "no join tasks recorded input rows")
      val maxRows = joinTasks.max
      assert(maxRows < 40000L,
        s"one task read $maxRows rows — the hot key still rides a " +
          s"single straggler split (task reads: ${joinTasks.sorted.reverse.take(8)})")
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      s.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      for (t <- Seq("fact", "dim"))
        s.sql(s"DROP TABLE IF EXISTS graftsalt.lake.$t")
    }
  }

  test("dwrf.* table properties act as write-option defaults (unprefixed knobs too)") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftsalt.lake")
    s.sql("DROP TABLE IF EXISTS graftsalt.lake.props")
    // 'dwrf.compress' must reach the writer as its unprefixed
    // "compress" option — r13's review caught the prefixed forward
    // silently matching nothing
    s.sql("CREATE TABLE graftsalt.lake.props (id BIGINT, v DOUBLE) " +
      "USING dwrf TBLPROPERTIES ('dwrf.compress'='ZSTD')")
    try {
      s.range(0, 5000).select($"id", ($"id" * 1.5).as("v"))
        .writeTo("graftsalt.lake.props").append()
      val files = DwrfUtil.listDataFiles(
        new org.apache.hadoop.fs.Path(s"$warehouse/lake/props"),
        DwrfUtil.sessionHadoopConf())
      assert(files.nonEmpty)
      val r = new DwrfFileReader(files.head, DwrfUtil.sessionHadoopConf())
      try assert(r.postScript.compression == graft.format.CompressionKind.Zstd,
        s"table default ignored: wrote ${r.postScript.compression}")
      finally r.close()
      assert(s.table("graftsalt.lake.props").count() == 5000L)
    } finally s.sql("DROP TABLE IF EXISTS graftsalt.lake.props")
  }

  test("target-file-bytes roll caps hot-bucket splits even without a salt") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftsalt.lake")
    for (t <- Seq("fact2", "dim2"))
      s.sql(s"DROP TABLE IF EXISTS graftsalt.lake.$t")
    // no salt: the hot key's 64k rows all land in ONE write task — the
    // roll is what keeps them from becoming one unsplittable file
    s.sql("CREATE TABLE graftsalt.lake.fact2 (k BIGINT, x BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES (" +
      "'dwrf.target.file.bytes'='131072')")
    s.sql("CREATE TABLE graftsalt.lake.dim2 (k BIGINT, w BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k))")
    s.range(0, 128000).select(
        when($"id" < 64000, 0L).otherwise($"id" % 100).as("k"),
        $"id".as("x"))
      .writeTo("graftsalt.lake.fact2").append()
    s.range(0, 100).select($"id".as("k"), ($"id" * 10).as("w"))
      .writeTo("graftsalt.lake.dim2").append()

    val hotBucket = DwrfBucket.id(0L, 8)
    val files = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(s"$warehouse/lake/fact2"),
      DwrfUtil.sessionHadoopConf())
    val hotFiles = files.filter(f => DwrfBucket.of(f.getName).contains(hotBucket))
    assert(hotFiles.size > 3,
      s"roll left the hot bucket in ${hotFiles.size} file(s): " +
        hotFiles.map(_.getName).mkString(", "))
    assert(hotFiles.exists(_.getName.contains("-r1-")),
      "rolled files must carry the -rN marker before the bucket suffix")

    val oldBt = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "true")
    try {
      val bare = s.table("graftsalt.lake.fact2")
        .join(s.table("graftsalt.lake.dim2"), "k")
      assert(shufflesIn(bare) == 0,
        "rolled fact × dim must still plan as a zero-shuffle SPJ")
      val row = bare.selectExpr("COUNT(*) AS n").head()
      assert(row.getLong(0) == 128000L, s"join lost rows: ${row.getLong(0)}")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      s.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      for (t <- Seq("fact2", "dim2"))
        s.sql(s"DROP TABLE IF EXISTS graftsalt.lake.$t")
    }
  }
}
