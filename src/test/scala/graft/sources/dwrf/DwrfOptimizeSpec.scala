package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPTIMIZE through the snapshot log ([[DwrfOptimize]]): sorted rewrite,
  * z-order variant, the rewrite-vs-concurrent-commit conflict rules, and
  * the layout actually becoming selective.
  */
class DwrfOptimizeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String = graft.TestDirs.tmp("dwrf-opt-").toString

  /** An out-of-order table: ids shuffled across 6 files. */
  private def messyTable(dir: String, n: Int = 20000): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => ((i * 7919) % n).toLong)
      .toDF("id").withColumn("v", col("id") % 100)
      .repartition(6).write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024").save(dir)
    DwrfLog.enable(new Path(dir), conf)
  }

  test("sorted rewrite: one commit, disjoint file ranges, stride-selective scans") {
    import org.apache.spark.sql.sources.LessThan
    val dir = tmpDir()
    messyTable(dir)
    val res = DwrfOptimize.rewrite(spark, dir, Seq("id"))
    assert(res.version === 1L && res.filesBefore === 6)
    assert(DwrfLog.latest(new Path(dir), conf).get.op === "optimize")
    // data intact
    val got = spark.read.format("dwrf").load(dir)
      .agg(count(lit(1)), sum("id")).head()
    assert(got.getLong(0) === 20000L)
    assert(got.getLong(1) === (0L until 20000L).sum)
    // the rewritten layout must actually skip: a 5% prefix filter on the
    // sorted key surfaces a small fraction once history is vacuumed
    // (surfacedRows raw-lists the directory)
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    val (rows, strides, stripes) = DwrfUtil.surfacedRows(
      dir, "id", Seq(LessThan("id", 1000L)))
    assert(rows <= 4096, s"sorted scan surfaced $rows rows for a 1000-row band")
    assert(strides + stripes > 0, "no stride/stripe skipping after optimize")
  }

  test("z-order rewrite clusters both axes without changing the schema") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val n = 1 << 14
    // two independent uniform dims — unsorted arrival
    (0 until n).map { i => (((i * 7919) % 128).toLong, ((i * 104729) % 128).toLong) }
      .toDF("x", "y").repartition(4)
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val res = DwrfOptimize.rewrite(spark, dir, Seq("x", "y"), zOrder = true,
      targetBytes = 64L * 1024)
    assert(res.version === 1L)
    val back = spark.read.format("dwrf").load(dir)
    assert(back.schema.fieldNames.toSeq === Seq("x", "y")) // no __graft_z
    assert(back.count() === n)
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    // an eighth-band on EACH axis must skip (the z property): raw row
    // interleave would leave one axis unclustered
    val (xr, xs, xst) = DwrfUtil.surfacedRows(dir, "x", Seq(LessThanOrEqual("x", 15L)))
    val (yr, ys, yst) = DwrfUtil.surfacedRows(dir, "y", Seq(LessThanOrEqual("y", 15L)))
    assert(xr < n / 2 && xs + xst > 0, s"x-axis not clustered: $xr rows, $xs skips")
    assert(yr < n / 2 && ys + yst > 0, s"y-axis not clustered: $yr rows, $ys skips")
  }

  test("three-column ZORDER rewrite clusters every axis") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val n = 1 << 16
    // three independent uniform dims, scrambled arrival order (Long
    // arithmetic: an Int product would overflow negative and smear the
    // band geometry below)
    (0 until n).map { i =>
      ((i.toLong * 7919L) % 64, (i.toLong * 104729L) % 64,
        (i.toLong * 15485863L) % 64)
    }.toDF("x", "y", "w").repartition(4)
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    // one output file: per-file stride grids restart at offset 0, so a
    // single file keeps the 64 strides aligned with the curve order and
    // the skip geometry exact
    val res = DwrfOptimize.rewrite(spark, dir, Seq("x", "y", "w"),
      zOrder = true, targetBytes = 64L * 1024 * 1024)
    assert(res.version === 1L)
    val back = spark.read.format("dwrf").load(dir)
    assert(back.schema.fieldNames.toSeq === Seq("x", "y", "w"))
    assert(back.count() === n)
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    // 64 strides of 1024 rows = a 6-bit curve prefix = 2 top bits per
    // axis: a quarter-band (x ≤ 15 of 0..63) ideally surfaces the 16
    // strides whose two axis bits are 00 — 25% of rows. Allow sampler
    // slop to 45%, and require real stride skips on EVERY axis: that is
    // what the 3-ary interleave buys over 2-ary + an ignored column.
    for (c <- Seq("x", "y", "w")) {
      val (rows, strides, stripes) = DwrfUtil.surfacedRows(
        dir, c, Seq(LessThanOrEqual(c, 15L)))
      assert(rows < (n * 0.45).toLong && strides + stripes > 0,
        s"$c-axis not clustered: $rows of $n rows, $strides stride skips")
    }
  }

  test("optimize survives a concurrent append and conflicts with a concurrent delete") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    messyTable(dir, n = 5000)
    val root = new Path(dir)
    // concurrent append between optimize's read and its commit: simulate
    // by committing the append AFTER capturing the base version, then
    // running optimize against the stale base via the writer option
    val base = DwrfLog.latest(root, conf).get
    Seq(999999L).toDF("id").withColumn("v", lit(0L))
      .write.format("dwrf").mode("append").save(dir)
    // optimize rewrites base (v0) while parent is v1 (append): must keep
    // the appended file alive
    s.read.format("dwrf").option("versionAsOf", base.version).load(dir)
      .repartitionByRange(2, col("id"))
      .write.format("dwrf").mode("overwrite")
      .option("sort.columns", "id")
      .option(DwrfLog.RewriteOfKey, base.version.toString)
      .save(dir)
    val after = spark.read.format("dwrf").load(dir)
    assert(after.count() === 5001L, "concurrent append lost by optimize")
    assert(after.filter(col("id") === 999999L).count() === 1L)

    // concurrent DELETE: rewrite of a base whose files a delete replaced
    // must conflict, not resurrect the deleted rows
    val base2 = DwrfLog.latest(root, conf).get
    import org.apache.spark.sql.sources.LessThan
    DwrfDelete.deleteWhere(spark, dir,
      spark.read.format("dwrf").load(dir).schema,
      Array(LessThan("id", 1000L)))
    val err = intercept[Exception] {
      s.read.format("dwrf").option("versionAsOf", base2.version).load(dir)
        .repartitionByRange(2, col("id"))
        .write.format("dwrf").mode("overwrite")
        .option("sort.columns", "id")
        .option(DwrfLog.RewriteOfKey, base2.version.toString)
        .save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a conflict, got: $err")
  }

  test("optimize refuses plain dirs and partition-column sort keys") {
    val s = spark
    import s.implicits._
    val plain = tmpDir()
    Seq(1L, 2L).toDF("id").write.format("dwrf").mode("overwrite").save(plain)
    val e1 = intercept[IllegalStateException](
      DwrfOptimize.rewrite(spark, plain, Seq("id")))
    assert(e1.getMessage.contains("no log"))

    val parted = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(parted)
    DwrfLog.enable(new Path(parted), conf)
    val e2 = intercept[IllegalArgumentException](
      DwrfOptimize.rewrite(spark, parted, Seq("p")))
    assert(e2.getMessage.contains("per-directory constants"))
  }

  test("partition-scoped optimize rewrites only the selected partition") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val n = 6000
    (0 until n).map(i => (((i * 7919) % n).toLong, s"g${i % 3}"))
      .toDF("id", "p").repartition(4)
      .write.format("dwrf").partitionBy("p").mode("overwrite")
      .option("row.index.stride", "1024").save(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val qualified = DwrfUtil.qualify(root, conf)
    def stamps(pred: Path => Boolean) =
      DwrfUtil.listDataFileStatuses(root, conf)
        .filter(st => pred(st.getPath))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    def inPart(v: String)(f: Path): Boolean =
      PartitionLayout.specOf(qualified, f).toMap.get("p").contains(v)
    val otherBefore = stamps(f => !inPart("g1")(f))

    val res = DwrfOptimize.rewrite(spark, dir, Seq("id"),
      targetBytes = 1L << 20, partitions = Map("p" -> "g1"))
    assert(res.version === 1L && res.filesBefore === 4)
    // untouched partitions: byte- and reference-identical
    assert(stamps(f => !inPart("g1")(f)) === otherBefore)
    val after = DwrfLog.latest(root, conf).get
    val live = after.resolved(qualified)
    assert(live.count(inPart("g1")) === res.filesAfter)
    // rows intact across the whole table, and g1 now sorted: a narrow
    // band in g1 surfaces selectively
    val back = spark.read.format("dwrf").load(dir)
    assert(back.count() === n)
    assert(back.where("p = 'g1'").count() === n / 3)
    // scope validation fails loud
    val err = intercept[IllegalArgumentException](
      DwrfOptimize.rewrite(spark, dir, Seq("id"),
        partitions = Map("p" -> "nope")))
    assert(err.getMessage.contains("no files match"))
    val err2 = intercept[IllegalArgumentException](
      DwrfOptimize.rewrite(spark, dir, Seq("id"),
        partitions = Map("zz" -> "g1")))
    assert(err2.getMessage.contains("layout columns"))
  }

  test("partitioned optimize sorts within each directory and preserves the layout") {
    import org.apache.spark.sql.sources.LessThan
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val n = 9000
    (0 until n).map(i => (((i * 7919) % n).toLong, s"g${i % 3}"))
      .toDF("id", "p").repartition(6)
      .write.format("dwrf").partitionBy("p").mode("overwrite")
      .option("row.index.stride", "1024").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val res = DwrfOptimize.rewrite(spark, dir, Seq("id"),
      targetBytes = 1L << 20)
    assert(res.version === 1L)
    val back = spark.read.format("dwrf").load(dir)
    assert(back.count() === n)
    // layout preserved: partition column still directory-encoded
    val qualified = DwrfUtil.qualify(new Path(dir), conf)
    val liveNow = DwrfLog.latest(new Path(dir), conf).get.resolved(qualified)
    assert(liveNow.forall(f =>
      PartitionLayout.specOf(qualified, f).map(_._1) == Seq("p")))
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    // every directory's files are sorted by id, so a prefix band skips
    // within EACH of the 3 partitions (≤ one 1024-row stride surfaces
    // per file; 9000 rows would surface if the sort silently degraded)
    val (rows, strides, stripes) = DwrfUtil.surfacedRows(
      dir, "id", Seq(LessThan("id", 300L)))
    assert(rows <= 4096, s"partitioned optimize not selective: $rows rows")
    assert(strides + stripes > 0)
  }
}
