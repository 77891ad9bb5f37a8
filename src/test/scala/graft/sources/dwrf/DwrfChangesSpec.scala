package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Change data feed ([[DwrfChanges]]) and the provenance primitives it
  * rides on: the `_pos` metadata column and the `scan.files` scan
  * restriction.
  */
class DwrfChangesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-cdc-").toString

  private def writeRange(dir: String, lo: Int, hi: Int,
      mode: String = "overwrite", parts: Int = 2): Unit = {
    val s = spark
    import s.implicits._
    (lo until hi).map(i => (i.toLong, s"name-$i", i % 5))
      .toDF("id", "name", "grp")
      .repartition(parts)
      .write.format("dwrf").mode(mode).save(dir)
  }

  private def schemaOf(dir: String) =
    spark.read.format("dwrf").load(dir).schema

  // ------------------------------------------------------- primitives

  test("_pos is the physical row position; with _file it is a stable row id") {
    val dir = tmpDir()
    writeRange(dir, 0, 1000, parts = 3)
    val df = spark.read.format("dwrf").load(dir)
      .select(col("id"), col("_file"), col("_pos"))
    val rows = df.collect()
    assert(rows.length === 1000)
    // (file, pos) unique; positions within each file are 0..n-1 dense
    val byFile = rows.groupBy(_.getString(1))
    byFile.foreach { case (_, rs) =>
      val ps = rs.map(_.getLong(2)).sorted
      assert(ps.toSeq === (0L until ps.length))
    }
    // deterministic: a second read yields the identical mapping
    val again = spark.read.format("dwrf").load(dir)
      .select(col("id"), col("_file"), col("_pos")).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      again.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    // masked reads keep PHYSICAL numbering: delete a row, its position
    // disappears (no renumbering of the survivors)
    DwrfLog.enable(new Path(dir), conf)
    val victim = rows.head
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", victim.getLong(0))))
    val after = spark.read.format("dwrf").load(dir)
      .select(col("_file"), col("_pos")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(!after.contains((victim.getString(1), victim.getLong(2))))
    assert(after.size === 999)
    val survivors = rows.map(r => (r.getString(1), r.getLong(2))).toSet -
      ((victim.getString(1), victim.getLong(2)))
    assert(after === survivors)
  }

  test("scan.files restricts the planned set; unknown names fail loud") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val snap = DwrfLog.latest(new Path(dir), conf).get
    val one = snap.files.head
    val restricted = spark.read.format("dwrf")
      .option(DwrfUtil.ScanFilesKey, one).load(dir)
    val full = spark.read.format("dwrf").load(dir)
    assert(restricted.count() < full.count())
    val expected = full.select("id", "_file").collect()
      .filter(_.getString(1).endsWith("/" + one)).map(_.getLong(0)).toSet
    assert(restricted.select("id").collect().map(_.getLong(0)).toSet === expected)
    val err = intercept[Exception](
      spark.read.format("dwrf")
        .option(DwrfUtil.ScanFilesKey, "no-such-file.dwrf").load(dir).count())
    assert(err.getMessage.contains("scan.files") ||
      Option(err.getCause).exists(_.getMessage.contains("scan.files")))
  }

  // -------------------------------------------------------- the feed

  /** Multiset replay check: old snapshot + feed = new snapshot. */
  private def replayHolds(dir: String, from: Long, to: Long): Unit = {
    val base = spark.read.format("dwrf")
      .option(DwrfLog.VersionAsOfKey, from).load(dir)
      .select("id", "name", "grp")
    val target = spark.read.format("dwrf")
      .option(DwrfLog.VersionAsOfKey, to).load(dir)
      .select("id", "name", "grp")
    val feed = DwrfChanges.between(spark, dir, from, to)
    val inserts = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "insert")
      .select("id", "name", "grp")
    val deletes = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "delete")
      .select("id", "name", "grp")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val replayed = {
      val b = multiset(base); val i = multiset(inserts); val d = multiset(deletes)
      val add = (b.keySet ++ i.keySet).map(k =>
        k -> (b.getOrElse(k, 0) + i.getOrElse(k, 0))).toMap
      add.map { case (k, n) => k -> (n - d.getOrElse(k, 0)) }
        .filter(_._2 != 0)
    }
    assert(replayed === multiset(target).filter(_._2 != 0),
      s"replaying the ($from, $to] feed must reproduce v$to")
  }

  test("appends surface as inserts; MoR deletes as exact row-level deletes") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 2)
    DwrfLog.enable(new Path(dir), conf) // v0
    writeRange(dir, 100, 150, mode = "append", parts = 1) // v1
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), // v2 (MoR)
      Array(In("id", Array(7L, 120L, 99L))))

    val feed = DwrfChanges.between(spark, dir, 0, 2)
    val byType = feed.groupBy(DwrfChanges.ChangeTypeColumn).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("insert" -> 50L, "delete" -> 3L))
    // the delete rows are the exact rows, with the right commit version
    val dels = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "delete")
      .select("id", DwrfChanges.VersionColumn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dels === Set((7L, 2L), (120L, 2L), (99L, 2L)))
    // inserts carry v1 and exactly the appended ids
    val ins = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "insert")
      .select("id", DwrfChanges.VersionColumn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ins === (100L until 150L).map(i => (i, 1L)).toSet)
    replayHolds(dir, 0, 2)
    // sub-spans compose
    replayHolds(dir, 1, 2)
    assert(DwrfChanges.between(spark, dir, 2, 2).count() === 0L)
  }

  test("second MoR delete feeds only the NEWLY masked rows") {
    val dir = tmpDir()
    writeRange(dir, 0, 60, parts = 1)
    DwrfLog.enable(new Path(dir), conf) // v0
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(LessThan("id", 10L))) // v1
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(LessThan("id", 15L))) // v2
    val feed = DwrfChanges.between(spark, dir, 1, 2)
    val dels = feed.select("id").collect().map(_.getLong(0)).toSet
    assert(dels === (10L until 15L).toSet) // not the 0..9 from v1
    replayHolds(dir, 0, 2)
  }

  test("copy-on-write commits feed whole-file delete+insert, still replayable") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 2)
    DwrfLog.enable(new Path(dir), conf) // v0
    DwrfDelete.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 42L))) // v1: CoW rewrite of the file holding 42
    val feed = DwrfChanges.between(spark, dir, 0, 1)
    // coarse: the rewritten file's survivors appear as delete+insert
    // pairs — but the multiset delta is exactly {42 deleted}
    replayHolds(dir, 0, 1)
    val net = feed.groupBy("id", DwrfChanges.ChangeTypeColumn).count()
    val deleted = net.filter(col(DwrfChanges.ChangeTypeColumn) === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    val inserted = net.filter(col(DwrfChanges.ChangeTypeColumn) === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
    assert((deleted -- inserted) === Set(42L))
  }

  test("compaction and OPTIMIZE are silent in the feed") {
    val dir = tmpDir()
    writeRange(dir, 0, 200, parts = 8)
    DwrfLog.enable(new Path(dir), conf) // v0
    DwrfCompact.compact(spark, dir, targetBytes = 1L << 30) // v1
    DwrfOptimize.rewrite(spark, dir, Seq("id")) // v2
    assert(DwrfChanges.between(spark, dir, 0, 2).count() === 0L)
    // and a real change after maintenance still feeds
    writeRange(dir, 200, 210, mode = "append", parts = 1) // v3
    val feed = DwrfChanges.between(spark, dir, 0, 3)
    assert(feed.select("id").collect().map(_.getLong(0)).toSet ===
      (200L until 210L).toSet)
    replayHolds(dir, 0, 3)
  }

  test("INSERT OVERWRITE feeds delete-all + insert-all") {
    val dir = tmpDir()
    writeRange(dir, 0, 30, parts = 1)
    DwrfLog.enable(new Path(dir), conf) // v0
    writeRange(dir, 500, 520, mode = "overwrite", parts = 1) // v1
    val feed = DwrfChanges.between(spark, dir, 0, 1)
    val dels = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    val ins = feed.filter(col(DwrfChanges.ChangeTypeColumn) === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dels === (0L until 30L).toSet && ins === (500L until 520L).toSet)
    replayHolds(dir, 0, 1)
  }

  test("partitioned tables feed with partition columns spliced") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "p")
      .repartition(1)
      .write.format("dwrf").mode("overwrite").partitionBy("p").save(dir)
    DwrfLog.enable(new Path(dir), conf) // v0
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDv.deleteWhere(spark, dir, schema,
      Array(In("id", Array(5L, 6L)))) // v1: rows in p=1, p=2
    val feed = DwrfChanges.between(spark, dir, 0, 1)
    // partition values infer from the directory strings (long-typed)
    val got = feed.select("id", "p").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((5L, 1L), (6L, 2L)))
  }

  test("a vacuumed span fails loud instead of skipping") {
    val dir = tmpDir()
    writeRange(dir, 0, 20, parts = 1)
    DwrfLog.enable(new Path(dir), conf) // v0
    writeRange(dir, 20, 30, mode = "append", parts = 1) // v1
    writeRange(dir, 30, 40, mode = "append", parts = 1) // v2
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    val err = intercept[Exception](DwrfChanges.between(spark, dir, 0, 2).count())
    assert(err.getMessage.contains("no snapshot version"))
  }
}
