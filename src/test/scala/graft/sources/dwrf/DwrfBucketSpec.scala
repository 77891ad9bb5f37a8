package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hash-bucketed catalog tables (`PARTITIONED BY (bucket(n, col))`):
  * rows route to per-bucket files, the scan reports the bucket layout,
  * and two tables co-bucketed on their join keys join with ZERO
  * shuffles (storage-partitioned join through the catalog's `bucket`
  * function). Mismatched bucket counts fall back to a shuffled plan
  * with identical values — the report degrades, correctness never.
  */
class DwrfBucketSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftbkt",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftbkt.warehouse", warehouse)
    s
  }
  private lazy val warehouse = graft.TestDirs.tmp("dwrf-bkt-wh-").toString

  private def shufflesIn(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = df.queryExecution.executedPlan
    val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    (p +: expanded).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum
  }

  test("bucketed write routes rows to per-bucket files, reads back exactly") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    s.sql("DROP TABLE IF EXISTS graftbkt.lake.bf")
    s.sql("CREATE TABLE graftbkt.lake.bf (id BIGINT, v DOUBLE) USING dwrf " +
      "PARTITIONED BY (bucket(4, id))")
    s.range(0, 1000).select($"id", ($"id" * 1.5).as("v"))
      .writeTo("graftbkt.lake.bf").append()
    // every data file carries a parseable in-range bucket id
    val files = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(s"$warehouse/lake/bf"),
      DwrfUtil.sessionHadoopConf())
    assert(files.nonEmpty)
    val buckets = files.map(f => DwrfBucket.of(f.getName))
    assert(buckets.forall(b => b.exists(i => i >= 0 && i < 4)),
      s"unbucketed file names: ${files.map(_.getName)}")
    assert(buckets.flatten.toSet.size > 1, "rows must spread across buckets")
    // content round-trips and each row sits in ITS key's bucket file
    assert(s.table("graftbkt.lake.bf").count() == 1000L)
    val misplaced = s.table("graftbkt.lake.bf").select($"id", col("_file"))
      .collect().count { r =>
        DwrfBucket.ofPath(r.getString(1)).get != DwrfBucket.id(r.getLong(0), 4)
      }
    assert(misplaced == 0, s"$misplaced rows in the wrong bucket file")
  }

  test("co-bucketed tables join with zero shuffles; per-key agg rides along") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    for (t <- Seq("fact", "dim")) s.sql(s"DROP TABLE IF EXISTS graftbkt.lake.$t")
    s.sql("CREATE TABLE graftbkt.lake.fact (k BIGINT, x BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k))")
    s.sql("CREATE TABLE graftbkt.lake.dim (k BIGINT, w BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(8, k))")
    s.range(0, 4000).select(($"id" % 100).as("k"), $"id".as("x"))
      .writeTo("graftbkt.lake.fact").append()
    s.range(0, 100).select($"id".as("k"), ($"id" * 10).as("w"))
      .writeTo("graftbkt.lake.dim").append()

    val oldBucketing = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val oldBt = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val joined = s.table("graftbkt.lake.fact")
        .join(s.table("graftbkt.lake.dim"), "k")
      assert(shufflesIn(joined) == 0,
        s"co-bucketed equi-join must not shuffle:\n${joined.queryExecution.executedPlan}")
      val got = joined.agg(count(lit(1)), sum($"x" * $"w")).collect().head
      // cross-check against the shuffled control plan
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val control = s.table("graftbkt.lake.fact")
        .join(s.table("graftbkt.lake.dim"), "k")
      assert(shufflesIn(control) > 0, "control plan should shuffle")
      val want = control.agg(count(lit(1)), sum($"x" * $"w")).collect().head
      assert(got.getLong(0) == 4000L && got.getLong(0) == want.getLong(0))
      assert(got.getLong(1) == want.getLong(1))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      oldBucketing match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("mismatched bucket counts degrade to a shuffle, values identical") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    s.sql("DROP TABLE IF EXISTS graftbkt.lake.dim16")
    s.sql("CREATE TABLE graftbkt.lake.dim16 (k BIGINT, w BIGINT) USING dwrf " +
      "PARTITIONED BY (bucket(16, k))")
    s.range(0, 100).select($"id".as("k"), ($"id" * 7).as("w"))
      .writeTo("graftbkt.lake.dim16").append()
    val oldBt = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = s.table("graftbkt.lake.fact").join(s.table("graftbkt.lake.dim16"), "k")
      val n = j.count()
      assert(n == 4000L, s"mismatched-width join must stay correct, got $n")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("copy-on-write MERGE preserves the bucketed layout and the SPJ") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    // reuses fact/dim staged by the join test (suite runs in order);
    // restage defensively if absent
    if (!s.catalog.tableExists("graftbkt.lake.fact")) {
      s.sql("CREATE TABLE graftbkt.lake.fact (k BIGINT, x BIGINT) USING dwrf " +
        "PARTITIONED BY (bucket(8, k))")
      s.range(0, 4000).select(($"id" % 100).as("k"), $"id".as("x"))
        .writeTo("graftbkt.lake.fact").append()
    }
    val before = s.table("graftbkt.lake.fact").count()
    Seq((7L, -1L), (4242L, 1L)).toDF("k", "nx")
      .createOrReplaceTempView("bkt_merge_src")
    s.sql("""MERGE INTO graftbkt.lake.fact t USING bkt_merge_src c ON t.k = c.k
            |WHEN MATCHED THEN UPDATE SET x = c.nx
            |WHEN NOT MATCHED THEN INSERT (k, x) VALUES (c.k, c.nx)
            |""".stripMargin)
    // every file — the rewritten ones included — still carries a bucket
    val files = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(s"$warehouse/lake/fact"),
      DwrfUtil.sessionHadoopConf())
    assert(files.forall(f => DwrfBucket.of(f.getName).exists(_ < 8)),
      s"MERGE degraded the bucketed naming: ${files.map(_.getName)}")
    assert(s.table("graftbkt.lake.fact").count() == before + 1)
    assert(s.table("graftbkt.lake.fact").filter($"k" === 7L && $"x" =!= -1L)
      .isEmpty, "matched rows must carry the merged value")
    // the zero-shuffle join survives the DML
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val oldBt = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.table("graftbkt.lake.fact").join(s.table("graftbkt.lake.dim"), "k")
      assert(shufflesIn(j) == 0,
        s"SPJ must survive a copy-on-write MERGE:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 4000L, "the inserted key 4242 has no dim match")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("bucketed + snapshot log + merge-on-read DELETE: layout survives, time travel works") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    s.sql("DROP TABLE IF EXISTS graftbkt.lake.blog")
    s.sql("CREATE TABLE graftbkt.lake.blog (id BIGINT, v DOUBLE) USING dwrf " +
      "PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    s.range(0, 500).select($"id", ($"id" * 2.0).as("v"))
      .writeTo("graftbkt.lake.blog").append()
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/lake/blog")
    DwrfLog.enable(root, DwrfUtil.sessionHadoopConf())
    s.range(500, 600).select($"id", ($"id" * 2.0).as("v"))
      .writeTo("graftbkt.lake.blog").append() // v1: logged bucketed append
    // merge-on-read DELETE: DV sidecars only, the FILE SET is unchanged
    // so the bucketed naming (and the layout report) must survive
    s.sql("DELETE FROM graftbkt.lake.blog WHERE id % 50 = 0")
    val files = DwrfUtil.listDataFiles(root, DwrfUtil.sessionHadoopConf())
    assert(files.forall(f => DwrfBucket.of(f.getName).exists(_ < 4)),
      s"merge-on-read DELETE must not disturb bucket naming: " +
        s"${files.map(_.getName)}")
    assert(s.table("graftbkt.lake.blog").count() == 600L - 12L)
    // masked rows really are gone, per bucket file
    assert(s.table("graftbkt.lake.blog").filter($"id" % 50 === 0).isEmpty)
    // time travel reads the pre-delete version, still through the
    // bucketed layout
    assert(s.sql(
      "SELECT COUNT(*) FROM graftbkt.lake.blog VERSION AS OF 1")
      .head().getLong(0) == 600L)
    s.sql("DROP TABLE graftbkt.lake.blog")
  }

  test("path-based per-write bucket opt-in writes a bucketed layout") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-bkt-path-").toString
    // no catalog, no FunctionCatalog: the write must not request the
    // (unresolvable) bucket-transform distribution, just route rows
    s.range(0, 200).select($"id", ($"id" * 2).as("v"))
      .write.format("dwrf")
      .option(DwrfBucket.ColumnKey, "id")
      .option(DwrfBucket.CountKey, "4")
      .mode("overwrite").save(dir)
    val files = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), DwrfUtil.sessionHadoopConf())
    assert(files.nonEmpty && files.forall(f =>
      DwrfBucket.of(f.getName).exists(_ < 4)),
      s"path-based bucketed write produced: ${files.map(_.getName)}")
    assert(s.read.format("dwrf").load(dir).count() == 200L)
  }

  test("ALTER refuses dropping or renaming the bucket column") {
    val s = spark
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftbkt.lake")
    s.sql("DROP TABLE IF EXISTS graftbkt.lake.guard")
    s.sql("CREATE TABLE graftbkt.lake.guard (id BIGINT, v DOUBLE) USING dwrf " +
      "PARTITIONED BY (bucket(4, id))")
    val e1 = intercept[Exception](
      s.sql("ALTER TABLE graftbkt.lake.guard DROP COLUMN id"))
    assert(e1.getMessage.contains("bucket column"))
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE graftbkt.lake.guard RENAME COLUMN id TO id2"))
    assert(e2.getMessage.contains("bucket column"))
    s.sql("DROP TABLE graftbkt.lake.guard")
  }
}
