package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** Multi-batch stream-stream interval join: the sf fixtures arrive as ONE
  * data batch, so this spec is what actually exercises the JOIN STATE —
  * each crafted chunk becomes its own micro-batch (maxFilesPerTrigger=1,
  * mtime-ordered), clicks arrive batches BEFORE the purchases they
  * attribute, and the scenario plants the two exclusion edges: a purchase
  * outside the 30-minute window, and a purchase at exactly the click's
  * timestamp (the strict inequality that also keeps the watermark
  * sentinel from self-pairing).
  */
class StreamJoinAttribSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", LongType), // ns, as the nanosAsLong fixture reads
    StructField("event_type", StringType)))

  test("cross-batch pairs join through state; window and strictness edges hold") {
    val s = spark
    import s.implicits._
    val base = 1700000000000000000L // ns
    val min = 60L * 1000000000L

    val chunks = Seq(
      // batch 1: clicks only — their purchases arrive in LATER batches
      Seq((1L, base + 10 * min, "click"),
        (2L, base + 5 * min, "click")),
      // batch 2: u1's purchase @25 attributes to the batch-1 click @10
      // (15 min) AND the same-batch click @24 (1 min); u2's purchase @40
      // is 35 min after its click — outside the window, NO pair
      Seq((1L, base + 25 * min, "purchase"),
        (2L, base + 40 * min, "purchase"),
        (1L, base + 24 * min, "click")),
      // batch 3: u1's purchase @30 pairs with BOTH clicks (20 and 6 min
      // back); u3's click and purchase share a timestamp — strict
      // p_ts > c_ts excludes the pair
      Seq((1L, base + 30 * min, "purchase"),
        (3L, base + 50 * min, "click"),
        (3L, base + 50 * min, "purchase")),
      // batch 4: watermark sentinel far beyond every window
      Seq((-1L, base + 3L * 24 * 3600 * 1000000000L, "__wm_sentinel__")))

    val root = graft.TestDirs.tmp("stream-join-attrib-spec-")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val dir = root.resolve(s"chunk$i").toString
      rows.toDF("user_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val part = Files.list(Paths.get(dir)).filter(
        _.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val link = srcDir.resolve(f"chunk-$i%02d.parquet")
      Files.createSymbolicLink(link, part)
      // strictly increasing mtimes pin micro-batch order (file source
      // dequeues oldest first)
      Files.setLastModifiedTime(link,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val ckDir = root.resolve("ck").toString
    val outDir = root.resolve("out").toString
    StreamingQueries.attribJoinStream(s, srcDir.toString, schema, ckDir,
      outDir, maxFilesPerTrigger = Some(1))

    def us(ns: Long): Long = ns / 1000
    val got = s.read.parquet(outDir)
      .filter($"user_id" =!= -1L)
      .collect().map { r =>
        def micros(i: Int): Long = {
          val t = r.getTimestamp(i)
          t.getTime * 1000 + t.getNanos / 1000 % 1000
        }
        (r.getLong(0), micros(1), micros(2))
      }.toSeq.sorted
    assert(got == Seq(
      (1L, us(base + 10 * min), us(base + 25 * min)),
      (1L, us(base + 10 * min), us(base + 30 * min)),
      (1L, us(base + 24 * min), us(base + 25 * min)),
      (1L, us(base + 24 * min), us(base + 30 * min))),
      s"pair set wrong: $got")
  }
}
