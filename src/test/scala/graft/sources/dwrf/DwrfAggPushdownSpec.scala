package graft.sources.dwrf


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Footer-stats aggregate pushdown: ungrouped, unfiltered COUNT/MIN/MAX
  * collapse to a driver-side LocalScan — no data page read, no executor
  * task. Everything else must keep the normal distributed plan.
  */
class DwrfAggPushdownSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def plan(df: DataFrame) = df.queryExecution.executedPlan

  private def collectAll[A](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] = {
    val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    (p +: expanded).flatMap(_.collect(f))
  }

  private def isLocal(df: DataFrame): Boolean = {
    val p = plan(df)
    collectAll(p) { case b: BatchScanExec => b }.isEmpty &&
      collectAll(p) { case l: LocalTableScanExec => l }.nonEmpty
  }

  private def writeFixture(): String = {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-aggpush-").toString
    // two files (two write partitions), nulls in `maybe`, strings incl.
    // an empty one, a timestamp column — every supported stats shape
    spark.range(0, 10000, 1, 2).select(
      col("id"),
      when(col("id") % 7 =!= 0, col("id") * 3).as("maybe"),
      concat(lit("s-"), format_string("%05d", lit(99999L) - col("id"))).as("s"),
      expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"))
      .write.format("dwrf").mode("overwrite").save(dir)
    dir
  }

  test("ungrouped COUNT/MIN/MAX collapse to a LocalScan with exact values") {
    val dir = writeFixture()
    val agg = spark.read.format("dwrf").load(dir).agg(
      count(lit(1)).as("n"),
      count(col("maybe")).as("n_maybe"),
      min(col("id")).as("min_id"),
      max(col("id")).as("max_id"),
      min(col("s")).as("min_s"),
      max(col("s")).as("max_s"),
      min(col("ts")).as("min_ts"),
      max(col("ts")).as("max_ts"))
    assert(isLocal(agg), s"must plan as a local footer scan:\n${plan(agg)}")
    val r = agg.head()
    assert(r.getLong(0) == 10000)
    assert(r.getLong(1) == 10000 - 10000 / 7 - 1) // multiples of 7 in [0,10000)
    assert(r.getLong(2) == 0 && r.getLong(3) == 9999)
    assert(r.getString(4) == "s-90000" && r.getString(5) == "s-99999")
    assert(r.getTimestamp(6).getTime == 1700000000000L)
    assert(r.getTimestamp(7).getTime == 1700000000000L + 9999 * 1000L)
  }

  test("all-null and empty-table edges return SQL-correct nulls/zeros") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-aggnull-").toString
    spark.range(0, 100, 1, 1)
      .select(col("id"), lit(null).cast("long").as("allnull"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val agg = spark.read.format("dwrf").load(dir).agg(
      count(col("allnull")).as("n"), min(col("allnull")).as("mn"),
      max(col("allnull")).as("mx"))
    assert(isLocal(agg), s"${plan(agg)}")
    val r = agg.head()
    assert(r.getLong(0) == 0 && r.isNullAt(1) && r.isNullAt(2))
  }

  test("filters, grouping, and inexact types keep the distributed plan") {
    val dir = writeFixture()
    val base = spark.read.format("dwrf").load(dir)
    // WHERE clause => Filter above the relation => no pushdown attempted
    assert(!isLocal(base.filter(col("id") > 10).agg(count(lit(1)))))
    // grouped
    assert(!isLocal(base.groupBy(col("maybe") % 2).agg(count(lit(1)))))
    // avg pushes via Spark's own avg -> sum/count rewrite (both footer-
    // answerable), and the division happens above the scan — exact
    val av = base.agg(avg(col("id")))
    assert(isLocal(av), s"avg must ride the sum/count rewrite:\n${plan(av)}")
    assert(av.head().getDouble(0) == 4999.5)
    // stddev needs the data — not footer-answerable
    assert(!isLocal(base.agg(stddev(col("id")))))
    // and each fallback still computes correctly through the real scan
    assert(base.filter(col("id") > 10).count() == 9989)
  }

  test("double/float MIN/MAX push when NaN-free, fall back when a NaN exists") {
    val ddir = graft.TestDirs.tmp("dwrf-aggdbl-").toString
    spark.range(0, 100, 1, 2).select(
      col("id"),
      (col("id") * 1.5 - 20.25).as("d"),
      (col("id").cast("float") * 0.5f).as("f"),
      when(col("id") % 3 =!= 0, col("id") * -2.0).as("dn"))
      .write.format("dwrf").mode("overwrite").save(ddir)
    val clean = spark.read.format("dwrf").load(ddir).agg(
      min(col("d")).as("mnd"), max(col("d")).as("mxd"),
      min(col("f")).as("mnf"), max(col("f")).as("mxf"),
      min(col("dn")).as("mnn"), max(col("dn")).as("mxn"),
      count(col("dn")).as("cn"))
    assert(isLocal(clean), s"NaN-free double stats must push:\n${plan(clean)}")
    val r = clean.head()
    assert(r.getDouble(0) == -20.25 && r.getDouble(1) == 99 * 1.5 - 20.25)
    assert(r.getFloat(2) == 0.0f && r.getFloat(3) == 49.5f)
    assert(r.getDouble(4) == -2.0 * 98 && r.getDouble(5) == -2.0)
    assert(r.getLong(6) == 100 - 34) // multiples of 3 in [0,100) are null
    // infinities are ordinary bounds (sum stays ±Inf, not NaN)
    val idir = graft.TestDirs.tmp("dwrf-agginf-").toString
    spark.range(10).select(
      when(col("id") === 0, lit(Double.PositiveInfinity))
        .otherwise(col("id") * 1.0).as("v"))
      .write.format("dwrf").mode("overwrite").save(idir)
    val inf = spark.read.format("dwrf").load(idir).agg(min(col("v")), max(col("v")))
    assert(isLocal(inf), s"${plan(inf)}")
    assert(inf.head().getDouble(1).isPosInfinity)
    // one NaN anywhere => the footer bounds are wrong for MAX (Spark
    // orders NaN above every double) => must keep the distributed plan,
    // which then returns the NaN
    val ndir = graft.TestDirs.tmp("dwrf-aggnan-").toString
    spark.range(10).select(
      when(col("id") === 7, lit(Double.NaN)).otherwise(col("id") * 1.0).as("v"))
      .write.format("dwrf").mode("overwrite").save(ndir)
    val nan = spark.read.format("dwrf").load(ndir).agg(min(col("v")), max(col("v")))
    assert(!isLocal(nan), s"NaN file must not push:\n${plan(nan)}")
    val nr = nan.head()
    assert(nr.getDouble(0) == 0.0 && nr.getDouble(1).isNaN)
    // COUNT on the NaN column is still footer-answerable (NaN is a value)
    val cnt = spark.read.format("dwrf").load(ndir).agg(count(col("v")))
    assert(isLocal(cnt) && cnt.head().getLong(0) == 10)
  }

  test("schema evolution (column missing in an older file) falls back") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-aggevo-").toString
    spark.range(0, 50, 1, 1).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir)
    spark.range(50, 100, 1, 1).select(col("id"), (col("id") * 2).as("extra"))
      .write.format("dwrf").mode("append").save(dir)
    val back = spark.read.format("dwrf").load(dir)
    // `extra` is absent in the first file => no footer answer for it
    assert(!isLocal(back.agg(min(col("extra")))))
    assert(back.agg(min(col("extra"))).head().getLong(0) == 100)
    // COUNT(*) only needs numRows, which every footer has
    val cnt = back.agg(count(lit(1)))
    assert(isLocal(cnt), s"${plan(cnt)}")
    assert(cnt.head().getLong(0) == 100)
  }

  test("SUM pushes for integrals, falls back on overflow/distinct") {
    val dir = writeFixture()
    val back = spark.read.format("dwrf").load(dir)
    val agg = back.agg(sum(col("id")).as("s"), sum(col("maybe")).as("sm"))
    assert(isLocal(agg), s"${plan(agg)}")
    val r = agg.head()
    assert(r.getLong(0) == (0L until 10000L).sum)
    assert(r.getLong(1) == (0L until 10000L).filter(_ % 7 != 0).map(_ * 3).sum)
    // sum over an all-null column is NULL
    val ndir = graft.TestDirs.tmp("dwrf-sumnull-").toString
    spark.range(10).select(lit(null).cast("long").as("n"))
      .write.format("dwrf").mode("overwrite").save(ndir)
    val nagg = spark.read.format("dwrf").load(ndir).agg(sum(col("n")))
    assert(isLocal(nagg) && nagg.head().isNullAt(0))
    // a file whose own running sum overflowed keeps the distributed plan
    val odir = graft.TestDirs.tmp("dwrf-sumovf-").toString
    spark.range(3).select(
      when(col("id") < 2, lit(Long.MaxValue / 2 + 1)).otherwise(lit(-1L)).as("v"))
      .write.format("dwrf").mode("overwrite").save(odir)
    assert(!isLocal(spark.read.format("dwrf").load(odir).agg(sum(col("v")))))
    // DISTINCT sums are not footer-answerable
    assert(!isLocal(back.agg(sum_distinct(col("maybe")))))
  }

  test("GROUP BY partition column answers per-group from footers") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-agggrp-").toString
    spark.range(0, 1200, 1, 3)
      .select(col("id"), (col("id") % 4).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dir)
    val back = spark.read.format("dwrf").load(dir)
    val grouped = back.groupBy(col("p")).agg(
      count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    assert(isLocal(grouped), s"grouped footer rollup must be local:\n${plan(grouped)}")
    val got = grouped.orderBy("p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = (0L until 4L).map(p =>
      (p, 300L, p, 1196L + p)) // ids p, p+4, ... 1196+p
    assert(got == want)
    // grouping by a DATA column has no per-file constant => distributed
    assert(!isLocal(back.groupBy(col("id")).agg(count(lit(1)))))
  }

  test("fuzz: footer answers equal the distributed plan across seeds") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 500 + rnd.nextInt(2000)
      val nullEvery = 2 + rnd.nextInt(9)
      val dir = graft.TestDirs.tmp(s"dwrf-aggfuzz-").toString
      val base = rnd.nextLong() % 1000000
      spark.range(0, n, 1, 1 + rnd.nextInt(3)).select(
        (col("id") * (rnd.nextInt(100) - 50) + base).as("v"),
        when(col("id") % nullEvery =!= 0,
          concat(lit(s"k$seed-"), col("id") % 37)).as("t"))
        .write.format("dwrf").mode("overwrite").save(dir)
      val pushedDf = spark.read.format("dwrf").load(dir)
        .agg(count(lit(1)), count(col("t")), min(col("v")), max(col("v")),
          sum(col("v")), min(col("t")), max(col("t")))
      val plainDf = spark.read.format("dwrf")
        .option("aggregate.pushdown", "false").load(dir)
        .agg(count(lit(1)), count(col("t")), min(col("v")), max(col("v")),
          sum(col("v")), min(col("t")), max(col("t")))
      assert(isLocal(pushedDf), s"seed=$seed must push:\n${plan(pushedDf)}")
      assert(!isLocal(plainDf), s"seed=$seed opt-out must not push")
      assert(pushedDf.head() == plainDf.head(), s"seed=$seed answers differ")
    }
  }

  test("partitioned table: partition-column aggregates fall back, data ones push") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-aggpart-").toString
    spark.range(0, 1000, 1, 2)
      .select(col("id"), (col("id") % 5).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dir)
    val back = spark.read.format("dwrf").load(dir)
    // partition column never lives in the data files
    assert(!isLocal(back.agg(max(col("p")))))
    assert(back.agg(max(col("p"))).head().getLong(0) == 4)
    val pushed = back.agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(isLocal(pushed), s"${plan(pushed)}")
    val r = pushed.head()
    assert(r.getLong(0) == 1000 && r.getLong(1) == 0 && r.getLong(2) == 999)
  }
}
