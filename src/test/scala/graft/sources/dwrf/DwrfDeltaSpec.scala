package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Delta-based (merge-on-read) UPDATE / MERGE / complex DELETE through
  * SQL: positions mask via sidecars, new row versions append, existing
  * data files stay byte-identical, one atomic manifest commit.
  */
class DwrfDeltaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-delta-").toString

  private def seed(dir: String, n: Int, parts: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"name-$i", (i % 5).toLong))
      .toDF("id", "name", "v")
      .repartition(parts)
      .write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
  }

  private def morTable(name: String, dir: String, modes: String*): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val props = modes.map(m => s"'$m'='merge-on-read'").mkString(", ")
    spark.sql(
      s"CREATE TABLE $name USING dwrf LOCATION '$dir' TBLPROPERTIES ($props)")
  }

  private def fileStamps(dir: String): Map[String, (Long, Long)] =
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap

  private def ids(dir: String, version: Option[Long] = None): Seq[Long] = {
    val r = spark.read.format("dwrf")
    version.foreach(v => r.option("versionAsOf", v))
    r.load(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("MoR UPDATE: sidecar + appended file, originals byte-identical") {
    val dir = tmpDir()
    seed(dir, 100, parts = 4)
    val before = fileStamps(dir)
    morTable("dwrf_delta_upd", dir, "update.mode")
    try {
      spark.sql(
        "UPDATE dwrf_delta_upd SET v = v + 100, name = concat(name, '-u') " +
          "WHERE id % 10 = 3")

      // every pre-existing data file untouched; exactly the appended
      // row-versions file is new
      val after = fileStamps(dir)
      before.foreach { case (f, stamp) => assert(after(f) === stamp, f) }
      val appended = (after.keySet -- before.keySet).toSeq
      assert(appended.size === 1 &&
        new Path(appended.head).getName.startsWith("rlo-"))

      val snap = DwrfLog.latest(new Path(dir), conf).get
      assert(snap.op === "update-mor")
      assert(snap.dvs.size === 4) // all four files held an id%10==3 row
      assert(snap.files.size === 5)

      val rows = spark.table("dwrf_delta_upd")
        .selectExpr("id", "name", "v").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(rows.size === 100)
      (0 until 100).foreach { i =>
        val (name, v) = rows(i.toLong)
        if (i % 10 == 3) {
          assert(name === s"name-$i-u" && v === (i % 5) + 100L, s"id=$i")
        } else assert(name === s"name-$i" && v === (i % 5).toLong, s"id=$i")
      }
      // pre-update version intact
      assert(ids(dir, Some(0L)) === (0L until 100L))
      assert(spark.read.format("dwrf").option("versionAsOf", 0)
        .load(dir).filter("name like '%-u'").count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_upd")
  }

  test("MoR MERGE: update + delete + insert in one delta commit") {
    val dir = tmpDir()
    seed(dir, 50, parts = 2)
    val before = fileStamps(dir)
    morTable("dwrf_delta_merge", dir, "merge.mode")
    try {
      val s = spark
      import s.implicits._
      // id<10: update; id 10..14: delete; 100..104: insert
      ((0 until 10).map(i => (i.toLong, "upd")) ++
        (10 until 15).map(i => (i.toLong, "del")) ++
        (100 until 105).map(i => (i.toLong, "ins")))
        .toDF("mid", "op").createOrReplaceTempView("delta_changes")
      s.sql("""MERGE INTO dwrf_delta_merge t USING delta_changes c
              |ON t.id = c.mid
              |WHEN MATCHED AND c.op = 'del' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET v = t.v + 1000
              |WHEN NOT MATCHED THEN INSERT (id, name, v)
              |  VALUES (c.mid, concat('new-', c.mid), 0)
              |""".stripMargin)

      val after = fileStamps(dir)
      before.foreach { case (f, stamp) => assert(after(f) === stamp, f) }
      val snap = DwrfLog.latest(new Path(dir), conf).get
      assert(snap.op === "merge-mor" && snap.dvs.size === 2)

      val t = s.table("dwrf_delta_merge")
      assert(t.count() === 50L - 5 + 5)
      assert(t.filter("v >= 1000").count() === 10L)
      assert(t.filter("name like 'new-%'").count() === 5L)
      assert(ids(dir) === ((0L until 50L).filterNot(i => i >= 10 && i < 15)
        ++ (100L until 105L)).sorted)
      assert(ids(dir, Some(0L)) === (0L until 50L))
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_merge")
  }

  test("second MoR UPDATE unions positions; all-rows-masked drops the file") {
    val dir = tmpDir()
    seed(dir, 40, parts = 1)
    morTable("dwrf_delta_seq", dir, "update.mode", "delete.mode")
    try {
      spark.sql("UPDATE dwrf_delta_seq SET v = -1 WHERE id < 10")
      val dv1 = DwrfLog.latest(new Path(dir), conf).get.dvs
      assert(dv1.size === 1)
      assert(DwrfDv.count(new Path(dir, dv1.values.head), conf) === 10L)

      spark.sql("UPDATE dwrf_delta_seq SET v = -2 WHERE id >= 10 AND id < 20")
      val snap2 = DwrfLog.latest(new Path(dir), conf).get
      // seed file's sidecar unions 10+10; first update's append gets its
      // own sidecar for the 0 rows it loses — none, so no binding
      val seedDv = snap2.dvs.filterNot(_._1.contains("rlo-"))
      assert(DwrfDv.count(new Path(dir, seedDv.values.head), conf) === 20L)

      val t = spark.table("dwrf_delta_seq")
      assert(t.filter("v = -1").count() === 10L)
      assert(t.filter("v = -2").count() === 10L)
      assert(t.count() === 40L)

      // mask every remaining live row of the seed file -> whole-file drop
      spark.sql("UPDATE dwrf_delta_seq SET v = -3 WHERE id >= 20 AND v >= 0")
      val snap3 = DwrfLog.latest(new Path(dir), conf).get
      val seedFiles = snap3.files.filterNot(_.contains("rlo-"))
      assert(seedFiles.isEmpty,
        s"fully-masked seed file must leave the live set: $seedFiles")
      assert(spark.table("dwrf_delta_seq").count() === 40L)
      // but stays on disk for time travel
      assert(ids(dir, Some(0L)) === (0L until 40L))
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_seq")
  }

  test("complex DELETE (subquery) routes merge-on-read when asked") {
    val dir = tmpDir()
    seed(dir, 60, parts = 2)
    val before = fileStamps(dir)
    morTable("dwrf_delta_del", dir, "delete.mode")
    try {
      val s = spark
      import s.implicits._
      Seq(5L, 15L, 25L).toDF("kid").createOrReplaceTempView("delta_kill")
      s.sql(
        "DELETE FROM dwrf_delta_del WHERE id IN (SELECT kid FROM delta_kill)")
      val after = fileStamps(dir)
      before.foreach { case (f, stamp) => assert(after(f) === stamp, f) }
      val snap = DwrfLog.latest(new Path(dir), conf).get
      assert(snap.op === "delete-mor" && snap.dvs.nonEmpty)
      assert(ids(dir) === (0L until 60L).filterNot(Seq(5L, 15L, 25L).contains))
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_del")
  }

  test("MoR UPDATE on a partitioned table routes new versions to their dirs") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    (0 until 60).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "p")
      .repartition(2)
      .write.format("dwrf").mode("overwrite").partitionBy("p").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    morTable("dwrf_delta_part", dir, "update.mode")
    try {
      // partition-column SET: rows MOVE from p=a to p=c
      s.sql("UPDATE dwrf_delta_part SET p = 'c' WHERE id < 10 AND p = 'a'")
      val t = s.table("dwrf_delta_part")
      assert(t.filter("p = 'c'").select("id").collect().map(_.getLong(0)).sorted
        === Array(0L, 2L, 4L, 6L, 8L))
      assert(t.count() === 60L)
      // the new versions live under p=c/ (Hive layout preserved)
      val snap = DwrfLog.latest(new Path(dir), conf).get
      assert(snap.files.exists(_.startsWith("p=c/")))
      assert(snap.op === "update-mor")
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_part")
  }

  test("MoR UPDATE refuses tables without a snapshot log") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    (0 until 10).map(i => (i.toLong, i.toString)).toDF("id", "name")
      .write.format("dwrf").mode("overwrite").save(dir)
    morTable("dwrf_delta_nolog", dir, "update.mode")
    try {
      val err = intercept[Exception](
        s.sql("UPDATE dwrf_delta_nolog SET name = 'x' WHERE id = 1"))
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(err).exists(_.getMessage != null) &&
        chain(err).exists(t =>
          t.getMessage != null && t.getMessage.contains("snapshot log")))
    } finally spark.sql("DROP TABLE IF EXISTS dwrf_delta_nolog")
  }
}
