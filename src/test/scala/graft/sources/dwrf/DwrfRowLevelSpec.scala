package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** UPDATE / MERGE INTO / complex DELETE through SQL — the group-based
  * copy-on-write route (SupportsRowLevelOperations). Files the
  * operation cannot touch must come through byte-identical (file-level
  * pruning only); matched files are fully rewritten (matching rows
  * transformed, the rest COPIED — the correctness edge: a scan that
  * row-skips would silently drop them); crash debris converges through
  * the swap-manifest recovery.
  */
class DwrfRowLevelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-rlo-").toString

  private def conf = DwrfUtil.sessionHadoopConf()

  private def dataFiles(dir: String): Seq[(String, Long, Long)] =
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))

  test("UPDATE rewrites matched files only; untouched files stay byte-identical") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq.tabulate(10)(i => (i.toLong, s"r$i", 1.0 * i)).toDF("id", "tag", "v")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq.tabulate(10)(i => (100L + i, s"r${100 + i}", 5.0)).toDF("id", "tag", "v")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_upd")
    s.sql(s"CREATE TABLE dwrf_rlo_upd USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    s.sql("UPDATE dwrf_rlo_upd SET tag = concat(tag, '-x'), v = v * 2 " +
      "WHERE id IN (2, 4)")
    val after = dataFiles(dir)
    // the second file's stats refute id IN (2,4): byte-identical survivor
    assert(after.toSet.intersect(before.toSet).size == 1,
      s"exactly one file untouched: before=$before after=$after")
    val got = s.sql(
      "SELECT id, tag, v FROM dwrf_rlo_upd WHERE id < 50 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.length == 10)
    // matched rows transformed...
    assert(got(2) == ((2L, "r2-x", 4.0)) && got(4) == ((4L, "r4-x", 8.0)))
    // ...and the file's NON-matching rows survived the rewrite
    assert(got(3) == ((3L, "r3", 3.0)) && got(9) == ((9L, "r9", 9.0)))
    assert(s.sql("SELECT COUNT(*) FROM dwrf_rlo_upd").head().getLong(0) == 20)
    s.sql("DROP TABLE dwrf_rlo_upd")
  }

  test("UPDATE moves rows across partitions (partition-column SET)") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p").repartition($"p")
      .write.format("dwrf").mode("overwrite").partitionBy("p").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_part")
    s.sql(s"CREATE TABLE dwrf_rlo_part USING dwrf LOCATION '$dir'")
    s.sql("UPDATE dwrf_rlo_part SET p = 'c' WHERE id = 2")
    val got = s.sql("SELECT id, p FROM dwrf_rlo_part ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "c"), (3L, "b")))
    // the row physically lives under p=c now
    assert(dataFiles(dir).exists(_._1.contains("p=c")))
    s.sql("DROP TABLE dwrf_rlo_part")
  }

  test("MERGE INTO: matched update, not-matched insert, matched delete") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_merge")
    s.sql(s"CREATE TABLE dwrf_rlo_merge USING dwrf LOCATION '$dir'")
    Seq((2L, 5.0, "upd"), (3L, 0.0, "del"), (9L, 90.0, "ins"))
      .toDF("id", "amt", "op").createOrReplaceTempView("rlo_changes")
    s.sql("""MERGE INTO dwrf_rlo_merge t USING rlo_changes c ON t.id = c.id
            |WHEN MATCHED AND c.op = 'del' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET bal = t.bal + c.amt
            |WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (c.id, c.amt)
            |""".stripMargin)
    val got = s.sql("SELECT id, bal FROM dwrf_rlo_merge ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 25.0), (9L, 90.0)))
    s.sql("DROP TABLE dwrf_rlo_merge")
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE update + delete") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // target rows 1..5; source names only 2 and 3 → 1, 4, 5 are
    // "not matched by source" and must take that clause's action
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
      .toDF("id", "bal")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_nmbs")
    s.sql(s"CREATE TABLE dwrf_rlo_nmbs USING dwrf LOCATION '$dir'")
    Seq((2L, 5.0), (9L, 90.0)).toDF("id", "amt")
      .createOrReplaceTempView("nmbs_changes")
    s.sql("""MERGE INTO dwrf_rlo_nmbs t USING nmbs_changes c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET bal = t.bal + c.amt
            |WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (c.id, c.amt)
            |WHEN NOT MATCHED BY SOURCE AND t.id >= 5 THEN DELETE
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = t.bal * -1
            |""".stripMargin)
    val got = s.sql("SELECT id, bal FROM dwrf_rlo_nmbs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 1 → negated (NMBS update), 2 → +5 (matched), 3 → negated,
    // 4 → negated, 5 → deleted (NMBS delete), 9 → inserted
    assert(got == Seq((1L, -10.0), (2L, 25.0), (3L, -30.0), (4L, -40.0),
      (9L, 90.0)), s"got $got")
    s.sql("DROP TABLE dwrf_rlo_nmbs")
  }

  test("NOT MATCHED BY SOURCE reaches files the source never touches " +
      "(pruning must not drop them)") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // two files with disjoint id ranges; the source only names ids from
    // the first. A scan that pruned by source-derived predicates would
    // silently skip the second file's NMBS rows.
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "bal")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq((100L, 100.0), (101L, 101.0)).toDF("id", "bal")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_nmbs2")
    s.sql(s"CREATE TABLE dwrf_rlo_nmbs2 USING dwrf LOCATION '$dir'")
    Seq((1L, 0.5)).toDF("id", "amt").createOrReplaceTempView("nmbs2_chg")
    s.sql("""MERGE INTO dwrf_rlo_nmbs2 t USING nmbs2_chg c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET bal = t.bal + c.amt
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = 0.0
            |""".stripMargin)
    val got = s.sql("SELECT id, bal FROM dwrf_rlo_nmbs2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.5), (2L, 0.0), (100L, 0.0), (101L, 0.0)),
      s"got $got")
    s.sql("DROP TABLE dwrf_rlo_nmbs2")
  }

  test("non-translatable DELETE routes through copy-on-write instead of failing") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq.tabulate(10)(i => i.toLong).toDF("id")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_rlo_del")
    s.sql(s"CREATE TABLE dwrf_rlo_del USING dwrf LOCATION '$dir'")
    s.sql("DELETE FROM dwrf_rlo_del WHERE id % 2 = 0")
    assert(s.sql("SELECT id FROM dwrf_rlo_del ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    s.sql("DROP TABLE dwrf_rlo_del")
  }

  test("interrupted swap converges; orphan temps are swept") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.format("dwrf").mode("overwrite").save(dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val input = DwrfUtil.listDataFiles(root, conf).head

    // stage a "crashed" swap: a complete temp + a manifest that renames
    // it and deletes the input — as if the job died inside apply()
    val temp = new Path(root, ".rlo-crash-p0-t0.tmp")
    val out = fs.create(temp, false)
    val w = new DwrfFileWriter(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      DwrfWriteOptions(), out)
    w.addRow(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](7L)))
    w.close()
    out.close()
    val manifest = new Path(root, ".rlo-commit-crash1")
    val mo = fs.create(manifest, false)
    mo.write((s"R\t$temp\t${new Path(root, "rlo-crash-p0-t0.dwrf")}\n" +
      s"D\t$input\n#end").getBytes("UTF-8"))
    mo.close()
    assert(DwrfCompact.recover(root, conf) >= 1)
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(7L))

    // torn manifest (no terminator) + orphan temp: rolled back + swept
    val t2 = fs.create(new Path(root, ".rlo-orphan-p0-t1.tmp"), false)
    t2.write("junk".getBytes); t2.close()
    val m2 = fs.create(new Path(root, ".rlo-commit-torn"), false)
    m2.write("R\t/nope\t/nope2".getBytes); m2.close()
    DwrfCompact.recover(root, conf)
    val leftover = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(".rlo-"))
    assert(leftover.isEmpty, s"debris: ${leftover.toSeq}")
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(7L))
  }
}
