package graft.sources.dwrf


import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Runtime group filtering on the copy-on-write tier: a join-keyed
  * MERGE has NO static pushed condition, so before round 11 it rewrote
  * every statically-surviving file. With `requiredMetadataAttributes`
  * declaring `_file` and the scan accepting the derived
  * `_file IN (matched)` runtime predicate, the rewrite must narrow to
  * exactly the files holding matched rows — everything else stays
  * byte-identical on disk and OUT of the replace set.
  */
class DwrfGroupFilterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-gf-").toString

  private def conf = DwrfUtil.sessionHadoopConf()

  private def dataFiles(dir: String): Set[(String, Long, Long)] =
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSet

  /** Four single-range files: keys 0-9, 10-19, 20-29, 30-39. */
  private def stage(dir: String, table: String): Unit = {
    val s = spark
    import s.implicits._
    for (base <- Seq(0L, 10L, 20L, 30L))
      (base until base + 10).map(i => (i, s"t$i", 1.0 * i)).toDF("id", "tag", "v")
        .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table USING dwrf LOCATION '$dir'")
  }

  test("join-keyed MERGE rewrites only the files holding matched rows") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    stage(dir, "dwrf_gf_merge")
    val before = dataFiles(dir)
    assert(before.size == 4)
    // source touches keys 12 and 17 (both in file #2) + inserts key 100
    Seq((12L, 120.0), (17L, 170.0), (100L, 1.0)).toDF("id", "nv")
      .createOrReplaceTempView("dwrf_gf_src")
    s.sql("""MERGE INTO dwrf_gf_merge t USING dwrf_gf_src c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET v = c.nv
            |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (c.id, 'new', c.nv)
            |""".stripMargin)
    val after = dataFiles(dir)
    val untouched = after.intersect(before)
    assert(untouched.size == 3,
      s"3 of 4 files must survive byte-identical; before=${before.size} " +
        s"after=${after.size} untouched=${untouched.size}")
    val got = s.sql("SELECT id, tag, v FROM dwrf_gf_merge ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.length == 41)
    assert(got(12) == ((12L, "t12", 120.0)) && got(17) == ((17L, "t17", 170.0)))
    assert(got(40) == ((100L, "new", 1.0)))
    // a non-matched row of the REWRITTEN file was copied through
    assert(got(13) == ((13L, "t13", 13.0)))
    s.sql("DROP TABLE dwrf_gf_merge")
  }

  test("group filter narrows the replace set on a snapshot-log table") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    stage(dir, "dwrf_gf_log")
    DwrfLog.enable(new Path(dir), conf)
    val liveBefore = DwrfLog.latest(new Path(dir), conf).get.files.toSet
    Seq((25L, -1.0)).toDF("id", "nv").createOrReplaceTempView("dwrf_gf_src2")
    s.sql("""MERGE INTO dwrf_gf_log t USING dwrf_gf_src2 c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET v = c.nv
            |""".stripMargin)
    val liveAfter = DwrfLog.latest(new Path(dir), conf).get.files.toSet
    assert(liveBefore.intersect(liveAfter).size == 3,
      s"the log's replace commit must retain the 3 unmatched files: " +
        s"before=$liveBefore after=$liveAfter")
    assert(s.sql("SELECT v FROM dwrf_gf_log WHERE id = 25").head().getDouble(0)
      == -1.0)
    assert(s.sql("SELECT COUNT(*) FROM dwrf_gf_log").head().getLong(0) == 40L)
    s.sql("DROP TABLE dwrf_gf_log")
  }

  test("MERGE with zero matches rewrites nothing (inserts only)") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    stage(dir, "dwrf_gf_none")
    val before = dataFiles(dir)
    Seq((500L, 5.0)).toDF("id", "nv").createOrReplaceTempView("dwrf_gf_src3")
    s.sql("""MERGE INTO dwrf_gf_none t USING dwrf_gf_src3 c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET v = c.nv
            |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (c.id, 'new', c.nv)
            |""".stripMargin)
    val after = dataFiles(dir)
    assert(after.intersect(before).size == 4,
      "no pre-existing file may be rewritten when nothing matches")
    assert(s.sql("SELECT COUNT(*) FROM dwrf_gf_none").head().getLong(0) == 41L)
    s.sql("DROP TABLE dwrf_gf_none")
  }
}
