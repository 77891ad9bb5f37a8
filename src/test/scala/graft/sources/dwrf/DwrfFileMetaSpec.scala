package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `_file` metadata column (SupportsMetadataColumns): row provenance as
  * a per-partition constant — selectable through path reads and catalog
  * tables, correct per file on both the columnar and the
  * partition-spliced row path, absent unless asked for, shadowed by a
  * real column of the same name.
  */
class DwrfFileMetaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-filemeta-").toString

  test("_file names each row's data file; partitioned + multi-file correct") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("id", "p").repartition($"p")
      .write.format("dwrf").mode("overwrite").partitionBy("p").save(dir)
    val got = s.read.format("dwrf").load(dir)
      .select($"id", $"p", col(DwrfUtil.FileMetaColumn).as("f"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == 3)
    got.foreach { case (_, p, f) =>
      assert(f.contains(s"p=$p") && f.endsWith(".dwrf"),
        s"file path $f must sit under its partition dir p=$p")
    }
    // grouping by _file reproduces the physical layout
    val perFile = s.read.format("dwrf").load(dir)
      .groupBy(col(DwrfUtil.FileMetaColumn)).count().collect()
    assert(perFile.map(_.getLong(1)).sum == 3)
    assert(perFile.length ==
      DwrfUtil.listDataFiles(new org.apache.hadoop.fs.Path(dir),
        DwrfUtil.sessionHadoopConf()).length)
  }

  test("_file through a catalog table and under a filter") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq.tabulate(20)(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_meta_t")
    s.sql(s"CREATE TABLE dwrf_meta_t USING dwrf LOCATION '$dir'")
    val rows = s.sql(
      s"SELECT id, ${DwrfUtil.FileMetaColumn} FROM dwrf_meta_t WHERE id >= 18")
      .collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(18L, 19L))
    rows.foreach(r => assert(r.getString(1).endsWith(".dwrf")))
    // not part of SELECT * (metadata columns are opt-in)
    assert(!s.sql("SELECT * FROM dwrf_meta_t").schema.fieldNames
      .contains(DwrfUtil.FileMetaColumn))
    s.sql("DROP TABLE dwrf_meta_t")
  }

  test("a real column named _file shadows the metadata column") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "user-data")).toDF("id", "_file")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    val got = s.read.format("dwrf").load(dir)
      .select($"id", $"_file").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "user-data")))
  }
}
