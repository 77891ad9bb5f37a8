package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Corruption fuzz (S10 hardening): a reader fed hostile bytes must
  * fail with an ordinary exception — never a JVM-killing error, an
  * OOM-sized allocation from a corrupt length varint (MetaIO.sane /
  * checkStripeBounds), or a hang. Deterministic seed, so a failure is
  * reproducible. A flipped byte that still decodes to plausible VALUES
  * is out of scope here (that is what checksumming formats add); the
  * contract under test is fail-clean termination at 100 TB, where some
  * corrupt object eventually WILL be scanned.
  */
class DwrfCorruptionSpec extends AnyFunSuite with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private val Rows = 4000

  private def validFile(kind: String): Array[Byte] = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
      "compress" -> kind,
      // blooms on so the fuzz also mutates BLOOM_FILTER index streams
      "bloom.columns" -> "id,s",
      "row.index.stride" -> "256")), bos)
    val row = new GenericInternalRow(3)
    for (i <- 0 until Rows) {
      row.update(0, (i.toLong * 2654435761L) % Rows)
      row.update(1, UTF8String.fromString(s"payload-$i-${i % 7}"))
      if (i % 11 == 0) row.setNullAt(2) else row.update(2, i * 0.25)
      w.addRow(row)
    }
    w.close()
    bos.toByteArray
  }

  /** Full read attempt; Left(throwable) on failure, Right(rows) on
    * success. Fatal JVM errors and hangs fail the test itself. */
  private def tryRead(bytes: Array[Byte], dir: java.nio.file.Path,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Either[Throwable, Long] = {
    val p = dir.resolve("t.dwrf")
    Files.write(p, bytes)
    try {
      val r = new DwrfFileReader(new Path(p.toString), new Configuration())
      try {
        var n = 0L
        val it = r.rows(r.footer.stripes, r.schema, filters)
        while (it.hasNext) { it.next(); n += 1 }
        Right(n)
      } finally r.close()
    } catch {
      case e: Exception => Left(e)
      case e: AssertionError => Left(e) // scala assert in decode guards
    }
    // anything else (OutOfMemoryError, StackOverflowError) propagates
    // and fails the suite — exactly the contract under test
  }

  private def fuzz(kind: String, flips: Int): Unit = {
    val base = validFile(kind)
    val dir = graft.TestDirs.tmp(s"corrupt-$kind-")
    assert(tryRead(base, dir) == Right(Rows.toLong), "fixture must be valid")
    val rnd = new scala.util.Random(0xC0FFEE)
    var failedClean = 0
    var survived = 0
    for (_ <- 0 until flips) {
      val pos = rnd.nextInt(base.length)
      val mutated = base.clone()
      mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
      failAfter(Span(30, Seconds)) {
        tryRead(mutated, dir) match {
          case Left(_) => failedClean += 1
          case Right(n) =>
            // a surviving read must stay within the file's own row
            // count — corrupt metadata must never fabricate volume
            assert(n <= Rows.toLong, s"flip at $pos fabricated $n rows")
            survived += 1
        }
      }
    }
    info(s"$kind: $flips flips -> $failedClean failed clean, $survived benign")
    assert(failedClean + survived == flips)
  }

  test("300 seeded byte flips on a zlib file all terminate cleanly") {
    fuzz("zlib", 300)
  }

  test("150 seeded byte flips on an uncompressed file all terminate cleanly") {
    fuzz("none", 150)
  }

  test("150 seeded flips under a pushed filter exercise index+bloom decode") {
    // an equality filter routes every read through row-index decode,
    // stats evaluation, and stride-bloom deserialization — corrupt
    // index-area bytes must degrade to "no pruning" or a named error,
    // never to a crash (BloomFilter.deserialize → None, stats keep)
    import org.apache.spark.sql.sources.EqualTo
    val base = validFile("zlib")
    val dir = graft.TestDirs.tmp("corrupt-filt-")
    val filt = Seq(EqualTo("id", 1234L))
    val clean = tryRead(base, dir, filt)
    assert(clean.isRight && clean.toOption.get >= 1L)
    val rnd = new scala.util.Random(0xFAFF)
    var failedClean = 0
    var survived = 0
    for (_ <- 0 until 150) {
      val pos = rnd.nextInt(base.length)
      val mutated = base.clone()
      mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
      failAfter(Span(30, Seconds)) {
        tryRead(mutated, dir, filt) match {
          case Left(_) => failedClean += 1
          case Right(n) =>
            assert(n <= Rows.toLong, s"flip at $pos fabricated $n rows")
            survived += 1
        }
      }
    }
    info(s"filtered: 150 flips -> $failedClean failed clean, $survived benign")
    assert(failedClean + survived == 150)
  }

  test("every truncation point fails cleanly or reads a valid prefix") {
    val base = validFile("zlib")
    val dir = graft.TestDirs.tmp("corrupt-trunc-")
    val rnd = new scala.util.Random(0xBEEF)
    val cuts = (1 until 25).map(_ => 1 + rnd.nextInt(base.length - 1)).distinct
    cuts.foreach { cut =>
      failAfter(Span(30, Seconds)) {
        tryRead(java.util.Arrays.copyOf(base, cut), dir) match {
          case Left(_) => // named failure: fine
          case Right(n) => assert(n <= Rows.toLong,
            s"truncation at $cut fabricated $n rows")
        }
      }
    }
  }

  test("corrupt length varints are rejected before allocation") {
    // a postscript claiming a multi-GB footer must die in the named
    // bounds check, not in new Array[Byte](negative-or-huge): replace
    // the valid file's postscript with one whose footerLength is 1 TB
    import graft.format.{MetaIO, PostScript, CompressionKind}
    val base = validFile("zlib")
    val dir = graft.TestDirs.tmp("corrupt-len-")
    val psLen = base(base.length - 1) & 0xff
    val body = java.util.Arrays.copyOf(base, base.length - 1 - psLen)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(body)
    val psBytes = MetaIO.writePostScript(bos, PostScript(
      footerLength = 1L << 40,
      compression = CompressionKind.Zlib,
      blockSize = 256 * 1024,
      version = 1, writerZlibLevel = 4, useVInts = true))
    bos.write(psBytes.length)
    val out = tryRead(bos.toByteArray, dir)
    assert(out.isLeft, "a 1 TB footerLength must be rejected")
    val msg = out.left.toOption.get.getMessage
    assert(msg != null && msg.contains("corrupt footer length"),
      s"rejection must be the named bounds check, got: $msg")
  }
}
