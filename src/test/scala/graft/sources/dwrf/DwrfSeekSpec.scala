package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** seekToRow parity grid (reference TestOrcFile.testSeek family, F3):
  * point access at many offsets across stripes/strides, plus user
  * metadata round trip (testMetaData).
  */
class DwrfSeekSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("rowsFrom(n) matches full scan at every probe offset") {
    val dir = graft.TestDirs.tmp("seek-").toString
    val n = 25000
    spark.range(0, n, 1, 1).select(
      col("id"),
      (col("id") % 33).cast("int").as("m"),
      concat(lit("s"), col("id") % 11).as("tag"),
      when(col("id") % 7 === 0, col("id") * 3).as("maybe"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("stripe.size", "40000") // force several stripes
      .save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      assert(r.footer.stripes.length > 1, "test needs multiple stripes")
      val schema = r.schema
      val probes = Seq(0L, 1L, 999L, 1000L, 1001L, 4999L, 12345L,
        n - 1L, n.toLong, 7777L, 20000L)
      for (p <- probes) {
        val got = r.rowsFrom(p, schema).take(5).toVector
        val expectN = math.min(5L, math.max(0L, n - p)).toInt
        assert(got.size == expectN, s"probe $p")
        got.zipWithIndex.foreach { case (row, i) =>
          val id = p + i
          assert(row.getLong(0) == id, s"probe $p row $i")
          assert(row.getInt(1) == (id % 33).toInt)
          assert(row.getUTF8String(2).toString == s"s${id % 11}")
          if (id % 7 == 0) assert(row.getLong(3) == id * 3)
          else assert(row.isNullAt(3))
        }
      }
      // skip-grid: read every Nth row via repeated seeks (reference grid)
      for (step <- Seq(1000, 3000, 9999)) {
        var p = 0L
        while (p < n) {
          val row = r.rowsFrom(p, schema).next()
          assert(row.getLong(0) == p, s"step $step at $p")
          p += step
        }
      }
    } finally r.close()
  }

  test("user metadata round trips through the DSv2 write") {
    val dir = graft.TestDirs.tmp("meta-").toString
    spark.range(0, 100).write.format("dwrf").mode("overwrite")
      .option("metadata.writer", "graft-test")
      .option("metadata.purpose", "unit")
      .save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val meta = r.footer.userMetadata.map { case (k, v) => k -> new String(v, "UTF-8") }
      assert(meta == Map("writer" -> "graft-test", "purpose" -> "unit"))
    } finally r.close()
  }

  test("dictionary memory cap forces early stripe flush") {
    val dir = graft.TestDirs.tmp("dictcap-").toString
    // unique-ish strings, tiny dictionary cap: writer must flush stripes
    // long before the 64 MB stripe budget
    spark.range(0, 20000, 1, 1)
      .select(col("id"), concat(lit("key-"), col("id") % 50).as("k"))
      .write.format("dwrf").mode("overwrite")
      .option("max.dictionary.size", "2000")
      .save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      assert(r.footer.numRows == 20000)
      assert(r.footer.stripes.length > 1,
        s"expected multiple stripes, got ${r.footer.stripes.length}")
    } finally r.close()
    // and the data still reads back whole
    assert(spark.read.format("dwrf").load(dir).count() == 20000)
  }
}
