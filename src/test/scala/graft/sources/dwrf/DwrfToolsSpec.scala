package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DwrfToolsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    graft.TestDirs.tmp(prefix).toString

  test("DwrfDump prints structure") {
    val dir = tmp("dump-")
    spark.range(0, 5000, 1, 1).select(
      col("id"), (col("id") % 10).cast("int").as("b"),
      concat(lit("x"), col("id") % 7).as("s"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val out = DwrfDump.dump(file, new Configuration())
    assert(out.contains("Rows: 5000"))
    assert(out.contains("Compression: ZLIB"))
    assert(out.contains("Stripe 0:"))
    assert(out.contains("DICTIONARY[10]"), out.linesIterator.filter(_.contains("Encoding")).mkString("\n"))
    assert(out.contains("ROW_INDEX"))
    assert(out.contains("min: 0 max: 4999"))
  }

  test("DwrfConcat merges files without decoding, results identical") {
    val dirA = tmp("cat-a-")
    val dirB = tmp("cat-b-")
    val mk = (lo: Int, hi: Int, dir: String) =>
      spark.range(lo, hi, 1, 1).select(
        col("id"), concat(lit("v"), col("id") % 13).as("s"),
        (col("id") * 0.5).as("d"))
        .write.format("dwrf").mode("overwrite").save(dir)
    mk(0, 3000, dirA)
    mk(3000, 8000, dirB)
    val conf = new Configuration()
    val outDir = tmp("cat-out-")
    val outFile = new Path(outDir, "merged.dwrf")
    DwrfConcat.concat(outFile,
      DwrfUtil.listDataFiles(new Path(dirA), conf) ++
        DwrfUtil.listDataFiles(new Path(dirB), conf), conf)

    val merged = spark.read.format("dwrf").load(outFile.toString)
    assert(merged.count() == 8000)
    val expect = spark.range(0, 8000).select(
      col("id"), concat(lit("v"), col("id") % 13).as("s"), (col("id") * 0.5).as("d"))
    assert(merged.exceptAll(expect).isEmpty && expect.exceptAll(merged).isEmpty)
    // filters still skip on the merged file (stats survived the concat)
    assert(merged.filter(col("id") === 7999).count() == 1)
  }
}
