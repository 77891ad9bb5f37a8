package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Small-file compaction: byte-wise stripe merge, one group per Spark
  * task, partition-dir isolation, big files untouched, and crash-point
  * convergence via the footer-manifest recovery protocol.
  */
class DwrfCompactSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def mkdir(prefix: String): String =
    graft.TestDirs.tmp(prefix).toString

  private def files(dir: String): Seq[String] =
    DwrfUtil.listDataFiles(new Path(dir), conf).map(_.getName).sorted

  test("many small files merge to few; rows and values survive byte-exact") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compact-")
    spark.range(0, 10000, 1, 16)
      .select(col("id"), (col("id") % 97).cast("string").as("tag"))
      .write.format("dwrf").mode("overwrite").save(dir)
    assert(files(dir).size == 16)
    val before = spark.read.format("dwrf").load(dir)
      .as[(Long, String)].collect().toSet

    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.filesBefore == 16 && res.filesAfter == 1 && res.groups == 1,
      res.toString)
    assert(files(dir).forall(_.startsWith("compact-")))
    val after = spark.read.format("dwrf").load(dir)
      .as[(Long, String)].collect().toSet
    assert(after == before)
    // merged footer still answers aggregates locally (stats survived)
    val agg = spark.read.format("dwrf").load(dir)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
    val r = agg.head()
    assert(r.getLong(0) == 10000 && r.getLong(1) == 0 && r.getLong(2) == 9999)
  }

  test("groups respect the byte target and never cross partition dirs") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compactpart-")
    spark.range(0, 4000, 1, 8)
      .select(col("id"), (col("id") % 2).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dir)
    val perPart = files(dir).size
    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.filesAfter == 2, s"one merged file per partition dir: $res")
    val back = spark.read.format("dwrf").load(dir)
    assert(back.groupBy(col("p")).count().orderBy("p")
      .as[(Long, Long)].collect().toSeq == Seq((0L, 2000L), (1L, 2000L)),
      s"partition values must survive compaction (had $perPart files)")
  }

  test("files at or above the target are left alone") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compactbig-")
    spark.range(0, 1000, 1, 4).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val names = files(dir)
    // target below every file size => nothing qualifies as small
    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L)
    assert(res.groups == 0 && files(dir) == names)
  }

  test("mixed write generations compact per compatibility class, not fail") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compactmix-")
    // two generations with different codecs in ONE directory
    spark.range(0, 200, 1, 2).select(col("id"))
      .write.format("dwrf").option("compress", "ZLIB")
      .mode("overwrite").save(dir)
    spark.range(200, 400, 1, 2).select(col("id"))
      .write.format("dwrf").option("compress", "SNAPPY")
      .mode("append").save(dir)
    assert(files(dir).size == 4)
    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.groups == 2 && res.filesAfter == 2,
      s"one merged file per codec generation: $res")
    assert(spark.read.format("dwrf").load(dir).as[Long].collect().toSet
      == (0L until 400L).toSet)
  }

  test("an active streaming landing dir is refused unless forced") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compactstream-")
    spark.range(0, 100, 1, 4).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val marker = new Path(dir, DwrfUtil.StreamMarkerName)
    val out = fs.create(marker, true)
    out.write("/ckpt/of/some/query".getBytes("UTF-8")); out.close()

    val e = intercept[IllegalStateException](
      DwrfCompact.compact(spark, dir, targetBytes = 1L << 30))
    assert(e.getMessage.contains("landing dir") &&
      e.getMessage.contains("/ckpt/of/some/query"))
    assert(files(dir).size == 4, "refusal must leave the dir untouched")

    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30,
      force = true)
    assert(res.filesAfter == 1)
    assert(spark.read.format("dwrf").load(dir).as[Long].collect().toSet
      == (0L until 100L).toSet)
  }

  test("recovery converges both crash points, every row exactly once") {
    val s = spark
    import s.implicits._
    val dir = mkdir("compactrec-")
    spark.range(0, 300, 1, 3).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val inputs = DwrfUtil.listDataFiles(new Path(dir), conf)

    // crash point A: temp fully written + one input already deleted
    val temp = new Path(dir, ".compact-recov1.dwrf.inprogress")
    DwrfConcat.concat(temp, inputs, conf, Map("compact.inputs" ->
      inputs.map(_.getName).mkString("\n").getBytes("UTF-8")))
    val fs = temp.getFileSystem(conf)
    fs.delete(inputs.head, false)
    assert(DwrfCompact.recover(new Path(dir), conf) == 1)
    assert(files(dir) == Seq("compact-recov1.dwrf"))
    assert(spark.read.format("dwrf").load(dir).as[Long].collect().toSet
      == (0L until 300L).toSet)

    // crash point B: torn temp (write aborted mid-stream), inputs intact
    val dir2 = mkdir("compactrec2-")
    spark.range(0, 100, 1, 2).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir2)
    val torn = new Path(dir2, ".compact-torn.dwrf.inprogress")
    val os = fs.create(torn, true)
    os.write("DWRFnot-a-complete-file".getBytes("UTF-8")); os.close()
    assert(DwrfCompact.recover(new Path(dir2), conf) == 0)
    assert(!fs.exists(torn), "torn temp must be dropped")
    assert(files(dir2).size == 2, "inputs must be untouched")
    assert(spark.read.format("dwrf").load(dir2).as[Long].collect().toSet
      == (0L until 100L).toSet)
  }
}
