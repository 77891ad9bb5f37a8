package graft.sources.dwrf


import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** `DELETE FROM <dwrf table>` end to end through SQL, plus the tiered
  * machinery underneath: the stats fast paths must not touch what they
  * keep (byte-identical files), the whole-file path must never decode,
  * the rewrite path must keep exactly the non-matching rows, and an
  * interrupted rewrite must converge through `DwrfCompact.recover`.
  */
class DwrfDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-delete-").toString

  private def conf = DwrfUtil.sessionHadoopConf()

  private def dataFiles(dir: String): Seq[(String, Long, Long)] = {
    val fs = new Path(dir).getFileSystem(conf)
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
  }

  test("partition fast path deletes whole directories without touching the rest") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "keep", 10.0), (2L, "keep", 20.0), (3L, "drop", 30.0),
      (4L, "drop", 40.0), (5L, "other", 50.0))
      .toDF("id", "tag", "v").repartition($"tag")
      .write.format("dwrf").mode("overwrite").partitionBy("tag").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_part")
    s.sql(s"CREATE TABLE dwrf_del_part USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    s.sql("DELETE FROM dwrf_del_part WHERE tag = 'drop'")
    val after = dataFiles(dir)
    // the kept partitions' files are the SAME files (same length+mtime:
    // provably-no-match tier never rewrites)
    assert(after.toSet == before.filterNot(_._1.contains("tag=drop")).toSet,
      s"before=$before after=$after")
    assert(s.sql("SELECT id FROM dwrf_del_part ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 5L))
    s.sql("DROP TABLE dwrf_del_part")
  }

  test("row-level rewrite keeps exactly the non-matching rows; clean files untouched") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // two files: ids 0-9 (mixed: some match) and 100-109 (none match)
    Seq.tabulate(10)(i => (i.toLong, s"r$i")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq.tabulate(10)(i => (100L + i, s"r${100 + i}")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_rows")
    s.sql(s"CREATE TABLE dwrf_del_rows USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    // (a modulo condition canDeleteWhere refuses now routes through the
    // copy-on-write row-level path instead — DwrfRowLevelSpec covers it;
    // this test pins the cheaper SupportsDelete tiers)
    s.sql("DELETE FROM dwrf_del_rows WHERE id IN (0, 2, 4, 6, 8) AND id < 50")
    assert(s.sql("SELECT id FROM dwrf_del_rows WHERE id < 50 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    // the all-clean file (100-109) is byte-identical, not rewritten
    val after = dataFiles(dir)
    assert(s.sql("SELECT COUNT(*) FROM dwrf_del_rows").head().getLong(0) == 15)
    assert(after.exists(f => before.contains(f)),
      s"expected the no-match file untouched: before=$before after=$after")
    // the rewritten file carries the delete- prefix
    assert(after.exists(_._1.contains("/delete-")),
      s"expected a promoted rewrite file: $after")
    s.sql("DROP TABLE dwrf_del_rows")
  }

  test("null semantics: NULL predicate keeps the row; IS NULL deletes it") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
      .toDF("id", "tag").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_null")
    s.sql(s"CREATE TABLE dwrf_del_null USING dwrf LOCATION '$dir'")
    // id > 0 is NULL for the null row -> kept
    s.sql("DELETE FROM dwrf_del_null WHERE id > 2")
    assert(s.sql("SELECT tag FROM dwrf_del_null ORDER BY tag")
      .as[String].collect().toSeq == Seq("a", "b"))
    s.sql("DELETE FROM dwrf_del_null WHERE id IS NULL")
    assert(s.sql("SELECT tag FROM dwrf_del_null ORDER BY tag")
      .as[String].collect().toSeq == Seq("a"))
    s.sql("DROP TABLE dwrf_del_null")
  }

  test("NOT predicates never whole-file-delete null rows (three-valued NOT)") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // one file where NO row matches id = 5 but a NULL row exists:
    // NOT(id = 5) is TRUE for id=7, NULL for the null row — the null
    // row must survive, so the whole-file fast path must NOT fire
    Seq[java.lang.Long](7L, null).toDF("id")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_not")
    s.sql(s"CREATE TABLE dwrf_del_not USING dwrf LOCATION '$dir'")
    s.sql("DELETE FROM dwrf_del_not WHERE NOT (id = 5)")
    val left = s.sql("SELECT id FROM dwrf_del_not").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    assert(left.toSeq == Seq(null), s"null row must survive NOT: ${left.toSeq}")
    // and on a null-free file the fast path still proves: both rows
    // vanish without a rewrite (file deleted whole)
    val dir2 = mkdir()
    Seq(7L, 9L).toDF("id")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir2)
    s.sql("DROP TABLE IF EXISTS dwrf_del_not2")
    s.sql(s"CREATE TABLE dwrf_del_not2 USING dwrf LOCATION '$dir2'")
    s.sql("DELETE FROM dwrf_del_not2 WHERE NOT (id = 5)")
    assert(dataFiles(dir2).isEmpty, s"null-free file should drop whole: ${dataFiles(dir2)}")
    s.sql("DROP TABLE dwrf_del_not")
    s.sql("DROP TABLE dwrf_del_not2")
  }

  test("zero-survivor rewrite removes the file; whole-table delete empties") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // stats window [2,4] with both rows matching IN (2,4): allMatch
    // can't prove it (min != max), so this exercises the rewrite path
    // converging to file removal
    Seq(2L, 4L).toDF("id").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq(7L, 9L).toDF("id").coalesce(1).write.format("dwrf")
      .mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_zero")
    s.sql(s"CREATE TABLE dwrf_del_zero USING dwrf LOCATION '$dir'")
    s.sql("DELETE FROM dwrf_del_zero WHERE id IN (2, 4)")
    assert(dataFiles(dir).size == 1, s"expected one file left: ${dataFiles(dir)}")
    assert(s.sql("SELECT id FROM dwrf_del_zero ORDER BY id")
      .as[Long].collect().toSeq == Seq(7L, 9L))
    s.sql("DROP TABLE dwrf_del_zero")
  }

  test("schema evolution: value predicates keep old files untouched; IS NULL reaches them") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "old1"), (2L, "old2")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq((3L, "new1", 30.0), (4L, "new2", 0.5)).toDF("id", "tag", "score")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_evo")
    s.sql(s"CREATE TABLE dwrf_del_evo USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    // score reads NULL in the old file: the predicate is never TRUE
    // there and the file must come through BYTE-identical
    s.sql("DELETE FROM dwrf_del_evo WHERE score > 1.0")
    assert(dataFiles(dir).exists(f =>
      before.contains(f) && f._1 == before.minBy(_._3)._1) ||
      dataFiles(dir).toSet.intersect(before.toSet).nonEmpty)
    assert(s.sql("SELECT id FROM dwrf_del_evo ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 4L))
    // IS NULL deletes every old-generation row
    s.sql("DELETE FROM dwrf_del_evo WHERE score IS NULL")
    assert(s.sql("SELECT id FROM dwrf_del_evo ORDER BY id")
      .as[Long].collect().toSeq == Seq(4L))
    s.sql("DROP TABLE dwrf_del_evo")
  }

  test("DELETE refuses an active streaming landing dir") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.format("dwrf").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val marker = new Path(new Path(dir), DwrfUtil.StreamMarkerName)
    fs.create(marker, true).close()
    s.sql("DROP TABLE IF EXISTS dwrf_del_stream")
    s.sql(s"CREATE TABLE dwrf_del_stream USING dwrf LOCATION '$dir'")
    val e = intercept[Exception] {
      s.sql("DELETE FROM dwrf_del_stream WHERE id = 1")
    }
    assert(e.getMessage.contains("landing dir") ||
      Option(e.getCause).exists(_.getMessage.contains("landing dir")),
      s"unexpected error: $e")
    assert(s.sql("SELECT COUNT(*) FROM dwrf_del_stream").head().getLong(0) == 2)
    s.sql("DROP TABLE dwrf_del_stream")
  }

  test("interrupted rewrite converges: complete temp promotes, torn temp rolls back") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val input = DwrfUtil.listDataFiles(new Path(dir), conf).head

    // a COMPLETE temp (manifest footer) simulating a crash after close
    // but before input-delete/promote: recovery must delete the input
    // and promote the temp
    val temp = new Path(input.getParent, ".delete-recov1.dwrf.inprogress")
    val out = fs.create(temp, false)
    val w = new DwrfFileWriter(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      DwrfWriteOptions(), out)
    w.addRow(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](2L)))
    w.close(Map(DwrfDelete.ManifestKey ->
      input.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    out.close()
    assert(DwrfCompact.recover(new Path(dir), conf) == 1)
    assert(!fs.exists(input), "recovery must finish the input delete")
    val promoted = DwrfUtil.listDataFiles(new Path(dir), conf)
    assert(promoted.map(_.getName) == Seq("delete-recov1.dwrf"))
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(2L))

    // a TORN temp (no readable footer): recovery removes it, data intact
    val torn = new Path(promoted.head.getParent, ".delete-torn.dwrf.inprogress")
    val o2 = fs.create(torn, false)
    o2.write("GRFTgarbage".getBytes)
    o2.close()
    DwrfCompact.recover(new Path(dir), conf)
    assert(!fs.exists(torn))
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(2L))
  }

  test("NaN and -0.0 follow Spark's ordering (NaN = NaN, NaN above all, -0.0 = 0.0)") {
    val s = spark
    import s.implicits._
    val rows = Seq[(Long, java.lang.Double)]((1L, 0.5), (2L, Double.NaN),
      (3L, 2.0), (4L, -0.0), (5L, null), (6L, 1.0))
    // a second file whose only NaN hides above a max of 0.5
    val nanOnly = Seq[(Long, java.lang.Double)]((7L, Double.NaN), (8L, 0.5))
    val all = (rows ++ nanOnly).toDF("id", "v")
    Seq("v > 1.0", "v = 0.0", "v = double('NaN')", "v <= 0.5",
      "v IN (0.0, double('NaN'))", "v <=> double('NaN')", "NOT (v < 1.0)")
      .foreach { cond =>
        val dir = mkdir()
        rows.toDF("id", "v").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
        nanOnly.toDF("id", "v").coalesce(1).write.format("dwrf").mode("append").save(dir)
        s.sql("DROP TABLE IF EXISTS dwrf_del_nan")
        s.sql(s"CREATE TABLE dwrf_del_nan USING dwrf LOCATION '$dir'")
        s.sql(s"DELETE FROM dwrf_del_nan WHERE $cond")
        val want = all.filter(s"NOT ($cond) OR ($cond) IS NULL")
          .select("id").as[Long].collect().sorted.toSeq
        assert(s.table("dwrf_del_nan").select("id").as[Long].collect().sorted.toSeq == want,
          s"DELETE WHERE $cond")
        s.sql("DROP TABLE dwrf_del_nan")
      }
  }
}
