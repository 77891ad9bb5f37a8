package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** A1 carried-over encoding interval (reference OrcConf.java:53
  * `hive.exec.orc.encoding.interval` = 30, WriterImpl.java:790-792
  * `determineEncodingStripe`): with `encoding.interval` = K the
  * dict-vs-direct decision is recomputed only on stripes 0, K, 2K, …
  * and carried over in between — including onto stripes whose own data
  * would have decided the other way. Carried-over DIRECT stripes take
  * the no-buffer paths (long: live RLE streaming; string: direct
  * accumulation with no dictionary population — the reference's
  * `useCarriedOverDirectEncoding`, WriterImpl.java:860-865), so this
  * spec pins both the decision schedule and byte-level fidelity of
  * those paths, row-index positions included.
  */
class EncodingIntervalSpec extends AnyFunSuite {

  private val RowsPerStripe = 1000

  /** Seven 1000-row stripes, forced boundaries, phases chosen so the
    * carried decision CONTRADICTS the per-stripe data:
    *   stripe 0 repetitive  → determining → DICTIONARY
    *   stripes 1-2 unique   → carried     → DICTIONARY (interval=3)
    *   stripe 3 unique      → determining → DIRECT
    *   stripes 4-5 repetitive → carried   → DIRECT (live paths)
    *   stripe 6 repetitive  → determining → DICTIONARY again
    */
  private def writeFile(interval: Int): (Array[Byte], Vector[(Long, String)]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("s", StringType)))
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
      "encoding.interval" -> interval.toString,
      "row.index.stride" -> "256", // several strides per stripe
      "entropy.string.threshold" -> "10")), bos)
    val repetitive = Set(0, 4, 5, 6)
    val rows = Vector.newBuilder[(Long, String)]
    val row = new GenericInternalRow(2)
    for (stripe <- 0 until 7; r <- 0 until RowsPerStripe) {
      val (iv, sv) =
        if (repetitive(stripe)) ((r % 5).toLong, s"hot-${r % 5}")
        else (stripe * 100000L + r, f"u-$stripe%d-$r%08d")
      row.update(0, iv)
      row.update(1, UTF8String.fromString(sv))
      w.addRow(row)
      rows += ((iv, sv))
      if (r == RowsPerStripe - 1) w.forceStripeFlush()
    }
    w.close()
    (bos.toByteArray, rows.result())
  }

  private def withReader[T](bytes: Array[Byte])(f: DwrfFileReader => T): T = {
    val dir = graft.TestDirs.tmp("encint-")
    val p = dir.resolve("t.dwrf")
    Files.write(p, bytes)
    val r = new DwrfFileReader(new Path(p.toString), new Configuration())
    try f(r) finally r.close()
  }

  private def encodingSchedule(r: DwrfFileReader): (Seq[Boolean], Seq[Boolean]) = {
    val ids = ColumnTree.topLevelIds(r.schema)
    val (iCol, sCol) = (ids(0), ids(1))
    val per = r.footer.stripes.map(si => r.readStripeFooter(si))
    (per.map(_.encodings(iCol).dictionary), per.map(_.encodings(sCol).dictionary))
  }

  test("interval=3 carries the decision across non-determining stripes") {
    val (bytes, rows) = writeFile(interval = 3)
    withReader(bytes) { r =>
      assert(r.footer.stripes.size == 7)
      val expected = Seq(true, true, true, false, false, false, true)
      val (longDict, strDict) = encodingSchedule(r)
      assert(longDict == expected, s"long column schedule: $longDict")
      assert(strDict == expected, s"string column schedule: $strDict")
      // both no-buffer carried-direct paths must reproduce every value
      val got = r.rows(r.footer.stripes, r.schema, Nil)
        .map(ir => (ir.getLong(0), ir.getUTF8String(1).toString)).toVector
      assert(got == rows)
    }
  }

  test("default per-stripe re-decision is the interval=1 schedule") {
    val (bytes, _) = writeFile(interval = 1)
    withReader(bytes) { r =>
      // every stripe decided on its own data
      val expected = Seq(true, false, false, false, true, true, true)
      val (longDict, strDict) = encodingSchedule(r)
      assert(longDict == expected, s"long column schedule: $longDict")
      assert(strDict == expected, s"string column schedule: $strDict")
    }
  }

  test("carried-direct stripes seek by row index") {
    val (bytes, rows) = writeFile(interval = 3)
    withReader(bytes) { r =>
      // row 4500 sits mid-stride inside carried-direct stripe 4 — the
      // live-RLE long path and direct-accumulated string path must both
      // honor the positions captured at stride boundaries
      val it = r.rowsFrom(4352, r.schema)
      val first = it.next()
      assert((first.getLong(0), first.getUTF8String(1).toString) == rows(4352))
      var i = 4353
      while (it.hasNext && i < 7000) {
        val ir = it.next()
        assert((ir.getLong(0), ir.getUTF8String(1).toString) == rows(i))
        i += 1
      }
      assert(i == 7000)
    }
  }
}
