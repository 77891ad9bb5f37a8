package graft.sources.dwrf

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden structural test (reference TestFileDump, SURVEY §5.3): a
  * deterministic 21000-row struct<i:int,l:bigint,s:string> file (the
  * reference's exact golden shape, seeded like TestFileDump.java:113-146)
  * must dump to a byte-identical committed fixture — locking stripe
  * geometry, stream layout, encodings and stats against regressions.
  *
  * Regenerate after an INTENTIONAL format change:
  *   REGEN_GOLDEN=1 sbt "testOnly graft.sources.dwrf.GoldenDumpSpec"
  */
class GoldenDumpSpec extends AnyFunSuite {

  private val fixturePath = Paths.get("src/test/resources/golden/dwrf-dump-21000.txt")

  test("structural dump matches committed golden fixture") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd1 = new java.util.Random(1)
    val rnd2 = new java.util.Random(2)
    val words = ("It was the best of times, it was the worst of times, it was the age " +
      "of wisdom, it was the age of foolishness, it was the epoch of belief, it was " +
      "the epoch of incredulity, it was the season of Light, it was the season of " +
      "Darkness, it was the spring of hope, it was the winter of despair, we had " +
      "everything before us, we had nothing before us, we were all going direct to " +
      "Heaven, we were all going direct the other way").split("[ ,.]+")
    val rows = (0 until 21000).map { i =>
      (rnd1.nextInt(), rnd2.nextLong(), words(i % words.length))
    }
    val dir = graft.TestDirs.tmp("golden-").toString
    rows.toDF("i", "l", "s").coalesce(1)
      .write.format("dwrf").mode("overwrite")
      .option("compress", "SNAPPY")
      .option("compress.size", "10000")
      .option("stripe.size", "100000")
      .save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val dump = DwrfDump.dump(file, new Configuration())
      .replaceAll("Structure for .*", "Structure for <file>")
    if (sys.env.contains("REGEN_GOLDEN") || !Files.exists(fixturePath)) {
      Files.createDirectories(fixturePath.getParent)
      Files.writeString(fixturePath, dump)
      info(s"wrote fixture $fixturePath")
    } else {
      val expected = Files.readString(fixturePath)
      assert(dump == expected, {
        val d = dump.linesIterator.zip(expected.linesIterator)
          .zipWithIndex.collectFirst {
            case ((a, e), n) if a != e => s"line ${n + 1}:\n  got  $a\n  want $e"
          }
        d.getOrElse("length differs")
      })
    }
  }
}
