package graft.sources.dwrf

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide footer cache ([[DwrfFileReader.FooterCache]]) reuses a
  * parsed tail only when the file's PostScript and Footer bytes are the
  * cached ones: rewrites are never served stale, corrupt footers are never
  * cached, and planning telemetry counts every planned footer either way.
  */
class DwrfFooterCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory(Paths.get("target"), "dwrf-fcache-")

  /** Uncompressed file whose length does not depend on the column name
    * or on the (equal-length) user metadata value. */
  private def fileBytes(column: String, tag: String): Array[Byte] = {
    val schema = StructType(Seq(StructField(column, LongType)))
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DwrfFileWriter(schema,
      DwrfWriteOptions.fromMap(Map("compress" -> "none")), bos)
    val row = new GenericInternalRow(1)
    for (i <- 0 until 1000) { row.update(0, i.toLong); w.addRow(row) }
    w.close(Map("tag" -> tag.getBytes("UTF-8")))
    bos.toByteArray
  }

  private def open(p: java.nio.file.Path): DwrfFileReader =
    new DwrfFileReader(new Path(p.toString), conf)

  private def readAll(p: java.nio.file.Path): (StructType, Seq[Long], String) = {
    val r = open(p)
    try (r.schema, r.rows(r.footer.stripes, r.schema).map(_.getLong(0)).toSeq,
      new String(r.footer.userMetadata("tag"), "UTF-8"))
    finally r.close()
  }

  test("a same-length, same-mtime rewrite is re-parsed, never served stale") {
    val p = tmpDir().resolve("t.dwrf")
    val v1 = fileBytes("aaaa", "v1")
    val v2 = fileBytes("bbbb", "v2")
    assert(v1.length === v2.length && !java.util.Arrays.equals(v1, v2))

    Files.write(p, v1)
    val mtime = FileTime.fromMillis(1700000000000L)
    Files.setLastModifiedTime(p, mtime)
    assert(readAll(p)._1.fieldNames.toSeq === Seq("aaaa"))
    val hit = open(p)
    try assert(hit.footerCacheHit && hit.counters.footerCacheHits === 1)
    finally hit.close()

    Files.write(p, v2)
    Files.setLastModifiedTime(p, mtime)
    val fresh = open(p)
    try {
      assert(!fresh.footerCacheHit && fresh.counters.footerCacheHits === 0)
      assert(fresh.schema.fieldNames.toSeq === Seq("bbbb"))
      assert(new String(fresh.footer.userMetadata("tag"), "UTF-8") === "v2")
    } finally fresh.close()
    val (schema, ids, tag) = readAll(p)
    assert(schema.fieldNames.toSeq === Seq("bbbb") && tag === "v2")
    assert(ids === (0L until 1000L))
  }

  test("a corrupt footer fails on every open; restored bytes read cleanly") {
    val p = tmpDir().resolve("t.dwrf")
    val good = fileBytes("id", "ok")
    Files.write(p, good)
    val expected = readAll(p)

    // overwrite the footer's leading varint (the schema string length)
    // with an out-of-range one; the file length stays the same
    val r = open(p)
    val footerStart = try {
      (r.fileLength - 1 - (good.last & 0xff) - r.postScript.footerLength).toInt
    } finally r.close()
    val bad = good.clone()
    Array(0xff, 0xff, 0xff, 0xff, 0x0f).zipWithIndex.foreach { case (b, i) =>
      bad(footerStart + i) = b.toByte
    }
    Files.write(p, bad)
    for (_ <- 1 to 3) {
      val e = intercept[java.io.IOException](open(p))
      assert(e.getMessage.contains("corrupt string length"), e.getMessage)
    }

    Files.write(p, good)
    assert(readAll(p) === expected)
  }

  test("planning counts each planned footer once per query, hit or miss") {
    val dir = tmpDir().toString
    spark.range(0, 400, 1, 4).select(col("id"), (col("id") * 2).as("v"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val files = DwrfUtil.listDataFiles(new Path(dir), conf).size
    assert(files === 4)

    /** (footerReads, hits, misses, task-side hits) of one query. An
      * explicit schema skips inferSchema, so the first query's planning
      * parses every footer itself. */
    def query(): (Long, Long, Long, Long) = {
      val fr0 = DwrfPlanningProbe.footerReads.get()
      val h0 = DwrfPlanningProbe.footerCacheHits.get()
      val m0 = DwrfPlanningProbe.footerCacheMisses.get()
      val df = spark.read.schema("id long, v long").format("dwrf").load(dir)
        .where(col("id") >= 0L)
      assert(df.collect().length === 400)
      val taskHits = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.metrics("footerCacheHits").value
      }.sum
      (DwrfPlanningProbe.footerReads.get() - fr0,
        DwrfPlanningProbe.footerCacheHits.get() - h0,
        DwrfPlanningProbe.footerCacheMisses.get() - m0, taskHits)
    }

    val (reads1, hits1, misses1, tasks1) = query()
    assert((reads1, hits1, misses1) === ((4L, 0L, 4L)))
    // tasks run in this JVM, after planning parsed every footer
    assert(tasks1 === 4)
    val (reads2, hits2, misses2, tasks2) = query()
    assert((reads2, hits2, misses2, tasks2) === ((4L, 4L, 0L, 4L)))
  }

  test("the cache evicts least-recently-used entries past its byte bound") {
    import graft.format.{CompressionKind, Footer, PostScript}
    import DwrfFileReader.{FooterCache, Tail}
    // ~3 MB each: two fit under the 8 MB bound, three do not
    def tail(id: Int): Tail = new Tail(Array(id.toByte), Array(id.toByte),
      PostScript(1, CompressionKind.None, 1, 1, 0),
      Footer("{}", Nil, Map.empty, 0L, 0, 0L,
        Map("pad" -> new Array[Byte](3 << 20))), new StructType())
    val tails = (0 until 4).map(tail)
    assert(tails.forall(t => t.bytes > FooterCache.MaxBytes / 3 &&
      t.bytes < FooterCache.MaxBytes / 2))
    val paths = (0 until 4).map(i => new Path(s"/lru-$i.dwrf"))
    def cached(i: Int): Boolean =
      FooterCache.lookup(paths(i), tails(i).psBytes, tails(i).footerBytes).nonEmpty

    FooterCache.put(paths(0), tails(0))
    FooterCache.put(paths(1), tails(1))
    assert(cached(0)) // now more recently used than 1
    FooterCache.put(paths(2), tails(2))
    assert(cached(0) && !cached(1) && cached(2))
    FooterCache.put(paths(3), tails(3))
    assert(!cached(0) && cached(2) && cached(3))
  }
}
