package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Lake-maintenance SQL through the injected parser: DESCRIBE HISTORY /
  * VACUUM / OPTIMIZE as statements, with ordinary SQL falling through
  * to Spark's parser untouched.
  */
class LakeSqlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def stageLogTable(): String = {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("lakesql-").toString
    spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 7).as("grp"))
      .write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf) // v0
    spark.range(1000, 1200, 1, 2)
      .select($"id", ($"id" % 7).as("grp"))
      .write.format("dwrf").mode("append").save(dir) // v1
    dir
  }

  test("DESCRIBE HISTORY lists versions newest first from manifests only") {
    val dir = stageLogTable()
    val rows = spark.sql(s"DESCRIBE HISTORY '$dir'").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 0L))
    assert(rows.map(_.getString(1)).toSeq == Seq("append", "init"))
    assert(rows.forall(_.getInt(3) > 0)) // n_files
    assert(rows.forall(r => !r.isNullAt(2))) // commit_ts
  }

  test("OPTIMIZE ... SORT BY rewrites to one sorted commit; VACUUM reclaims") {
    val dir = stageLogTable()
    val opt = spark.sql(s"OPTIMIZE '$dir' SORT BY (id)").collect().head
    assert(opt.getLong(0) == 2L, "optimize must commit v2")
    assert(opt.getInt(1) == 6 && opt.getInt(2) < 6,
      s"6 input files must collapse, got ${opt.getInt(1)} -> ${opt.getInt(2)}")
    // full content preserved through the SQL route
    assert(spark.read.format("dwrf").load(dir).count() == 1200L)
    val vac = spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS").collect().head
    assert(vac.getLong(2) == 2L, "latest version must survive")
    assert(vac.getInt(0) == 6,
      s"the 6 replaced inputs must be reclaimed, got ${vac.getInt(0)}")
    assert(spark.sql(s"DESCRIBE HISTORY '$dir'").collect().length == 1)
    assert(spark.read.format("dwrf").load(dir).count() == 1200L)
  }

  test("bare OPTIMIZE bin-packs small files through one compaction commit") {
    val dir = stageLogTable() // 6 small files over v0+v1
    val before = spark.read.format("dwrf").load(dir)
      .selectExpr("sum(id)").head().getLong(0)
    val r = spark.sql(s"OPTIMIZE '$dir'").collect().head
    assert(r.getLong(0) == 2L, "compaction must report its commit version")
    assert(r.getInt(1) >= 1, "at least one pack group must form")
    assert(r.getInt(3) < r.getInt(2),
      s"file count must drop: ${r.getInt(2)} -> ${r.getInt(3)}")
    // one atomic commit; content byte-preserved (raw stripe merge)
    val hist = spark.sql(s"DESCRIBE HISTORY '$dir'").collect()
    assert(hist.head.getString(1) == "compact")
    assert(spark.read.format("dwrf").load(dir)
      .selectExpr("sum(id)").head().getLong(0) == before)
    // TARGET spelling parses; a second pass is a no-op at the SAME version
    val again = spark.sql(s"OPTIMIZE '$dir' TARGET 256 MB").collect().head
    assert(again.getInt(4) == 0, "nothing left to compact")
    assert(again.getLong(0) == 2L, "a no-op must not commit a new version")
  }

  test("DESCRIBE DETAIL reports version, live counts, bytes, partition columns") {
    val dir = stageLogTable() // v0 + v1, 6 files, flat layout
    val d = spark.sql(s"DESCRIBE DETAIL '$dir'").collect().head
    assert(d.getString(0) == "dwrf")
    assert(d.getLong(2) == 1L, s"must report the latest version, got $d")
    assert(d.getString(3) == "append")
    assert(!d.isNullAt(4), "commit timestamp must be populated")
    assert(d.getInt(5) == 6 && d.getInt(6) == 0)
    assert(d.getLong(7) > 0L)
    assert(d.getString(8) == "", "flat layout has no partition columns")
    // a partitioned plain directory (no log): version -1, columns named
    val s = spark
    import s.implicits._
    val pdir = graft.TestDirs.tmp("lakesql-part-").toString
    spark.range(0, 100).select($"id", ($"id" % 3).cast("int").as("grp"))
      .write.format("dwrf").partitionBy("grp").mode("overwrite").save(pdir)
    val p = spark.sql(s"DESCRIBE DETAIL '$pdir'").collect().head
    assert(p.getLong(2) == -1L && p.getString(3) == "none")
    assert(p.getString(8) == "grp")
    assert(p.getInt(5) > 0)
  }

  test("RESTORE TO VERSION rolls back metadata-only; vacuumed targets refuse") {
    val dir = stageLogTable() // v0 = 1000 rows, v1 = +200
    val r = spark.sql(s"RESTORE '$dir' TO VERSION 0").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L,
      s"restore must commit v2 re-referencing v0, got $r")
    assert(spark.read.format("dwrf").load(dir).count() == 1000L)
    // the appended v1 rows come back by restoring forward — history is
    // linear, nothing was deleted
    spark.sql(s"RESTORE '$dir' TO VERSION 1")
    assert(spark.read.format("dwrf").load(dir).count() == 1200L)
    // vacuum away v0's era, then a restore to it must fail loud
    spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS")
    val e = intercept[Exception] {
      spark.sql(s"RESTORE '$dir' TO VERSION 0").collect()
    }
    assert(e.getMessage.contains("no snapshot version") ||
      e.getMessage.contains("vacuumed"),
      s"restore to a vacuumed version must fail loud, got: ${e.getMessage}")
  }

  test("VACUUM ... OLDER THAN hours keeps young history intact") {
    val dir = stageLogTable()
    // both commits are seconds old — a 1000-hour horizon drops nothing
    val vac = spark.sql(s"VACUUM '$dir' OLDER THAN 1000 HOURS").collect().head
    assert(vac.getInt(0) == 0 && vac.getInt(1) == 0)
    assert(spark.sql(s"DESCRIBE HISTORY '$dir'").collect().length == 2)
  }

  test("ordinary SQL falls through; malformed lake SQL errors via Spark") {
    val s = spark
    import s.implicits._
    assert(spark.sql("SELECT 1 + 1").as[Int].head() == 2)
    // VACUUM without our clause shape reaches Spark's parser, which has
    // no such statement for a path literal => ParseException
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("VACUUM WITH BAD SYNTAX"))
  }
}
