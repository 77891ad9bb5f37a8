package graft.sources.dwrf

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Format validation (reference S10: checkIfORC / NotAnORCFileException):
  * non-GRFT inputs must fail with a useful error, not a decode crash.
  */
class DwrfValidationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("reading a directory without .dwrf files errors clearly") {
    val dir = graft.TestDirs.tmp("notdwrf-").toString
    spark.range(0, 10).write.mode("overwrite").parquet(dir)
    val e = intercept[Exception] {
      spark.read.format("dwrf").load(dir).count()
    }
    assert(e.getMessage.contains("no .dwrf files"), e.getMessage)
  }

  test("a non-GRFT file with .dwrf extension fails the magic check") {
    val dir = graft.TestDirs.tmp("badmagic-").toString
    val f = Paths.get(dir, "fake.dwrf")
    Files.write(f, Array.fill[Byte](4096)(42))
    val e = intercept[Exception] {
      new DwrfFileReader(new Path(f.toString), new Configuration())
    }
    assert(e.getMessage.contains("GRFT") || e.getMessage.contains("postscript"),
      e.getMessage)
  }

  test("a truncated file fails cleanly") {
    val dir = graft.TestDirs.tmp("trunc-").toString
    spark.range(0, 1000).write.format("dwrf").mode("overwrite").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val bytes = Files.readAllBytes(Paths.get(file.toUri))
    val cut = Paths.get(dir, "cut.dwrf")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    // delete the good file so only the truncated one remains
    Files.delete(Paths.get(file.toUri))
    val e = intercept[Exception] {
      spark.read.format("dwrf").load(dir).count()
    }
    // any structured failure is fine as long as it names the problem
    assert(e.getMessage != null && e.getMessage.nonEmpty)
  }
}
