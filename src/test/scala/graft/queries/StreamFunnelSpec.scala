package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dwrf.TestSpark

/** Multi-batch funnel state: the sf fixtures arrive as ONE data batch, so
  * this spec is what actually exercises cross-batch accumulation — each
  * crafted chunk file becomes its own micro-batch (maxFilesPerTrigger=1,
  * mtime-ordered), and the scenario plants the case an incremental
  * collapse gets wrong: a user's view arriving one batch AFTER the click
  * that ends up being the stage-2 answer.
  */
class StreamFunnelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", LongType), // ns, as the nanosAsLong fixture reads
    StructField("event_type", StringType)))

  test("late cross-batch view still qualifies the earlier-seen click") {
    val s = spark
    import s.implicits._
    val base = 1700000000000000000L // ns
    val min = 60L * 1000000000L

    def chunk(rows: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] = rows
    val chunks = Seq(
      // batch 1: u1's click+purchase arrive BEFORE its view exists
      chunk(Seq(
        (1L, base + 10 * min, "click"),
        (1L, base + 20 * min, "purchase"),
        (2L, base + 5 * min, "view"),
        (3L, base + 1 * min, "view"))),
      // batch 2: u1's late view (event-time EARLIER than the click);
      // u2's click is event-time BEFORE u2's view => never eligible
      chunk(Seq(
        (1L, base + 2 * min, "view"),
        (2L, base + 3 * min, "click"),
        (3L, base + 6 * min, "click"))),
      // batch 3: u3 completes; u2 purchases without an eligible click
      chunk(Seq(
        (3L, base + 7 * min, "purchase"),
        (2L, base + 30 * min, "purchase"))),
      // batch 4: watermark sentinel far beyond every horizon
      chunk(Seq((-1L, base + 3L * 24 * 3600 * 1000000000L, "__wm_sentinel__"))))

    val root = graft.TestDirs.tmp("stream-funnel-spec-")
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
    StreamingQueries.funnelStream(s, srcDir.toString, schema, ckDir, outDir,
      maxFilesPerTrigger = Some(1))

    val got = s.read.parquet(outDir).orderBy("user_id")
      .collect().map { r =>
        def us(i: Int): Long =
          if (r.isNullAt(i)) -1L
          else r.getTimestamp(i).getTime * 1000 +
            r.getTimestamp(i).getNanos / 1000 % 1000
        (r.getLong(0), us(1), us(2), us(3))
      }.toSeq
    def us(ns: Long): Long = ns / 1000
    assert(got == Seq(
      // u1: the LATE view is t_view; the batch-1 click becomes eligible
      (1L, us(base + 2 * min), us(base + 10 * min), us(base + 20 * min)),
      // u2: only click is event-time-before the view => stages 2,3 null
      (2L, us(base + 5 * min), -1L, -1L),
      // u3: clean in-order chain across three separate batches
      (3L, us(base + 1 * min), us(base + 6 * min), us(base + 7 * min))))
  }
}
