package graft.sources.dwrf


import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Partition-scoped INSERT OVERWRITE: the static `PARTITION (p=v)` form
  * (OVERWRITE_BY_FILTER) and Spark's dynamic partitionOverwriteMode
  * (OVERWRITE_DYNAMIC) — the daily-reload shape for a partitioned lake
  * table. Untouched partitions must come through byte-identical; on
  * log-enabled tables the replacement is ONE atomic commitReplace and
  * history keeps the replaced files readable; data-column filters are
  * refused (that's DELETE/MERGE's job).
  */
class DwrfOverwriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def conf = DwrfUtil.sessionHadoopConf()

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-ovw-").toString

  private def files(dir: String): Map[String, (Long, Long)] =
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime))
      .toMap

  private def seed(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "p").repartition($"p")
      .write.format("dwrf").mode("overwrite").partitionBy("p").save(dir)
  }

  test("static INSERT OVERWRITE PARTITION replaces only the named partition") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    seed(dir)
    s.sql("DROP TABLE IF EXISTS ovw_static")
    s.sql(s"CREATE TABLE ovw_static USING dwrf LOCATION '$dir'")
    val before = files(dir)
    s.sql("INSERT OVERWRITE ovw_static PARTITION (p = 'a') VALUES (10L), (11L)")
    val after = files(dir)
    // every non-a file untouched, byte-identical
    val untouchedBefore = before.filterNot(_._1.contains("p=a"))
    assert(untouchedBefore.forall { case (k, v) => after.get(k).contains(v) },
      s"non-matching partitions must be byte-identical:\n$before\n$after")
    val got = s.sql("SELECT id, p FROM ovw_static ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "b"), (4L, "b"), (5L, "c"), (10L, "a"), (11L, "a")),
      s"got $got")
    s.sql("DROP TABLE ovw_static")
  }

  test("dynamic partitionOverwriteMode replaces exactly the touched partitions") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    seed(dir)
    s.sql("DROP TABLE IF EXISTS ovw_dyn")
    s.sql(s"CREATE TABLE ovw_dyn USING dwrf LOCATION '$dir'")
    val before = files(dir)
    val old = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // new data touches a and c — b must survive byte-identical
      s.sql("INSERT OVERWRITE ovw_dyn VALUES (20L, 'a'), (21L, 'c')")
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    val after = files(dir)
    val bBefore = before.filter(_._1.contains("p=b"))
    assert(bBefore.nonEmpty && bBefore.forall { case (k, v) =>
      after.get(k).contains(v) }, "untouched partition b must be byte-identical")
    val got = s.sql("SELECT id, p FROM ovw_dyn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "b"), (4L, "b"), (20L, "a"), (21L, "c")), s"got $got")
    s.sql("DROP TABLE ovw_dyn")
  }

  test("log-enabled table: partition overwrite is ONE atomic commit with history") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    seed(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    s.sql("DROP TABLE IF EXISTS ovw_log")
    s.sql(s"CREATE TABLE ovw_log USING dwrf LOCATION '$dir'")
    s.sql("INSERT OVERWRITE ovw_log PARTITION (p = 'b') VALUES (30L)")
    val snap = DwrfLog.latest(root, conf).get
    assert(snap.version == 1L && snap.op == "overwrite-where",
      s"one commit expected, got v${snap.version} op=${snap.op}")
    val got = s.sql("SELECT id, p FROM ovw_log ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "a"), (5L, "c"), (30L, "b")), s"got $got")
    // time travel still reads the replaced partition
    val v0 = s.read.format("dwrf").option(DwrfLog.VersionAsOfKey, 0L).load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v0 == Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c")))
    // dynamic on the same snapshot table
    val old = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try s.sql("INSERT OVERWRITE ovw_log VALUES (40L, 'c')")
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    val snap2 = DwrfLog.latest(root, conf).get
    assert(snap2.version == 2L && snap2.op == "overwrite-dynamic")
    val got2 = s.sql("SELECT id, p FROM ovw_log ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got2 == Seq((1L, "a"), (2L, "a"), (30L, "b"), (40L, "c")), s"got $got2")
    s.sql("DROP TABLE ovw_log")
  }

  test("overwrite filters on data columns are refused") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    seed(dir)
    s.sql("DROP TABLE IF EXISTS ovw_refuse")
    s.sql(s"CREATE TABLE ovw_refuse USING dwrf LOCATION '$dir'")
    val e = intercept[Exception] {
      Seq((9L, "a")).toDF("id", "p").writeTo("ovw_refuse")
        .overwrite(org.apache.spark.sql.functions.col("id") === 1L)
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).mkString
    assert(msg.contains("PARTITION columns only"), s"unexpected error: $msg")
    // nothing replaced
    assert(s.sql("SELECT COUNT(*) FROM ovw_refuse").head().getLong(0) == 5L)
    s.sql("DROP TABLE ovw_refuse")
  }

  test("dynamic overwrite of an unpartitioned table degenerates to truncate") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "x")).toDF("id", "v")
      .write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS ovw_flat")
    s.sql(s"CREATE TABLE ovw_flat USING dwrf LOCATION '$dir'")
    val old = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // one "partition" total: dynamic mode must behave as full overwrite
      s.sql("INSERT OVERWRITE ovw_flat VALUES (2L, 'y')")
      val got = s.sql("SELECT id, v FROM ovw_flat").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((2L, "y")))
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    s.sql("DROP TABLE ovw_flat")
  }
}
