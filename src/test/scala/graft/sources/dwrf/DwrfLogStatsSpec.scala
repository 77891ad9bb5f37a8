package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.ColumnStats

/** Manifest-carried file stats ([[DwrfLogStats]]): snapshot-table scan
  * planning prunes files from the commit's stats sidecar before opening
  * any footer, and every fallback path (missing sidecar, corrupt
  * sidecar, unknown file) degrades to footer reads — never to wrong
  * results.
  */
class DwrfLogStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-lstats-").toString

  /** 8 range-disjoint files over id 0..799 (file k holds [k*100,(k+1)*100)). */
  private def writeRanged(dir: String): Unit =
    spark.range(0, 800, 1, 8)
      .select(col("id"), concat(lit("n-"), format_string("%04d", col("id"))).as("name"),
        (col("id") * 0.5).as("score"))
      .sortWithinPartitions("id")
      .write.format("dwrf").mode("overwrite").save(dir)

  /** Canonical order-insensitive view, restricted to the fields the
    * sidecar serializes (sums/lengths only round-trip as the NaN flag). */
  private def norm(m: DwrfLogStats.Summaries): Seq[(String, Seq[(String, ColumnStats)])] =
    m.toSeq.sortBy(_._1).map { case (f, cs) =>
      // NaN-poisoned sums normalize to a comparable sentinel (NaN != NaN
      // would fail case-class equality even for identical stats)
      f -> cs.toSeq.sortBy(_._1).map { case (c, st) => c -> st.copy(
        doubleSum = if (java.lang.Double.isNaN(st.doubleSum)) -1.25 else 0.0,
        longSum = 0L, longSumOverflowed = false, totalLength = 0L) }
    }

  private def idsWhere(dir: String, cond: String): Seq[Long] =
    spark.read.format("dwrf").load(dir).where(cond)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("sidecar serde round-trips exotic names, bounds, and NaN poisoning") {
    val sums: DwrfLogStats.Summaries = Map(
      "a=1/part \"w\"\t x\n.dwrf" -> Map(
        "col\twith\ttabs" -> ColumnStats(5, hasNull = true, longMin = -3, longMax = 9),
        "d" -> ColumnStats(2, hasNull = false,
          doubleMin = -0.0, doubleMax = 1.5e300, doubleSum = Double.NaN),
        "s" -> ColumnStats(3, hasNull = false, stringMin = "a\nb", stringMax = "π🙂")),
      "plain.dwrf" -> Map(
        "b" -> ColumnStats(4, hasNull = false, trueCount = 2)))
    val parsed = DwrfLogStats.parse(DwrfLogStats.render(sums))
    assert(norm(parsed) === norm(sums))
    // over-long string bounds are dropped, not truncated (a truncated
    // max would sanction wrong skips)
    val long = "x" * 300
    val p2 = DwrfLogStats.parse(DwrfLogStats.render(
      Map("f" -> Map("s" -> ColumnStats(1, hasNull = false,
        stringMin = "lo", stringMax = long)))))
    assert(p2("f")("s").stringMin === "lo" && p2("f")("s").stringMax === null)
  }

  test("narrow filter on a snapshot table prunes files before any footer read") {
    val dir = tmpDir()
    writeRanged(dir)
    DwrfLog.enable(new Path(dir), conf)
    assert(DwrfLogStats.load(new Path(dir), conf, 0L).exists(_.size === 8))

    val fr0 = DwrfPlanningProbe.footerReads.get()
    val mp0 = DwrfPlanningProbe.manifestPruned.get()
    assert(idsWhere(dir, "id BETWEEN 150 AND 249") === (150L to 249L))
    val footersOpened = DwrfPlanningProbe.footerReads.get() - fr0
    val pruned = DwrfPlanningProbe.manifestPruned.get() - mp0
    assert(pruned === 6, s"6 of 8 range-disjoint files must prune, got $pruned")
    assert(footersOpened === 2,
      s"only the 2 surviving files' footers may be read, got $footersOpened")

    // string bounds prune too
    val mp1 = DwrfPlanningProbe.manifestPruned.get()
    assert(idsWhere(dir, "name = 'n-0042'") === Seq(42L))
    assert(DwrfPlanningProbe.manifestPruned.get() - mp1 === 7)
  }

  test("missing or corrupt sidecar falls back to the footer pass, same rows") {
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val expected = (300L to 399L)

    val fs = root.getFileSystem(conf)
    val sidecar = new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(0L))
    // corrupt: parse fails → None → footer pass
    val out = fs.create(sidecar, true)
    out.write("not a sidecar".getBytes("UTF-8")); out.close()
    val fr0 = DwrfPlanningProbe.footerReads.get()
    assert(idsWhere(dir, "id BETWEEN 300 AND 399") === expected)
    assert(DwrfPlanningProbe.footerReads.get() - fr0 === 8)

    // missing: same fallback
    fs.delete(sidecar, false)
    assert(idsWhere(dir, "id BETWEEN 300 AND 399") === expected)
  }

  test("DML commits keep the sidecar in lockstep with the manifest") {
    import org.apache.spark.sql.sources.LessThan
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDelete.deleteWhere(spark, dir, schema, Array(LessThan("id", 150L)))

    val snap = DwrfLog.latest(root, conf).get
    val sums = DwrfLogStats.load(root, conf, snap.version).get
    assert(sums.keySet === snap.files.toSet,
      "every live file must be summarized after a copy-on-write commit")
    // the rewritten file's manifest stats agree with its actual footer
    val fresh = DwrfLogStats.summarize(root, conf, snap.files)
    assert(norm(sums) === norm(fresh))
    // post-delete pruning still exact
    assert(idsWhere(dir, "id BETWEEN 100 AND 199") === (150L to 199L))
  }

  test("appends carry parent summaries forward; vacuum drops stale sidecars") {
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    spark.range(800, 900, 1, 1)
      .select(col("id"), concat(lit("n-"), format_string("%04d", col("id"))).as("name"),
        (col("id") * 0.5).as("score"))
      .write.format("dwrf").mode("append").save(dir)
    val v1 = DwrfLog.latest(root, conf).get
    assert(v1.version === 1L)
    val sums = DwrfLogStats.load(root, conf, 1L).get
    assert(sums.keySet === v1.files.toSet)

    val fs = root.getFileSystem(conf)
    DwrfLog.vacuum(root, conf, retainLast = 1)
    assert(!fs.exists(new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(0L))))
    assert(fs.exists(new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(1L))))
    assert(idsWhere(dir, "id >= 850") === (850L until 900L))
  }

  test("pruning soundness fuzz: manifest-pruned scans equal full-scan filters") {
    val dir = tmpDir()
    val r = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      (r.nextInt(1000).toLong, f"k-${r.nextInt(500)}%05d", r.nextDouble() * 100 - 50)
    }
    val s = spark
    import s.implicits._
    rows.toDF("id", "key", "v").repartition(6)
      .write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val df = spark.read.format("dwrf").load(dir)
    val conds = Seq(
      "id < 17", "id BETWEEN 990 AND 1000", "key = 'k-00007'",
      "v > 49.5", "v <= -49.9", "id = 123 AND v > 0",
      "key >= 'k-00490' AND id < 500", "id IN (1, 500, 999)",
      "key LIKE 'k-0001%'", "key LIKE 'q%'")
    val mem = rows.toDF("id", "key", "v") // in-memory semantics oracle
    conds.foreach { c =>
      val got = df.where(c).collect().map(_.toString).sorted.toSeq
      val want = mem.where(c).collect().map(_.toString).sorted.toSeq
      assert(got === want, s"condition: $c")
    }
  }
}
