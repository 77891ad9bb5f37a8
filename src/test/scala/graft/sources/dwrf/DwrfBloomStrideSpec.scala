package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Per-STRIDE Bloom filters (`bloom.stride`, on by default with
  * `bloom.columns`): a BLOOM_FILTER index stream per bloom'd column lets
  * equality/IN predicates prune row-index strides INSIDE a file whose
  * per-file bloom (and min/max stats) could not refute the value. The
  * fixture is the worst case for stats: ids are a bijective scramble, so
  * every stride's [min,max] spans nearly the whole domain and stats keep
  * everything — only the stride blooms can cut the scan to ~1 stride.
  * False positives only ever KEEP a stride, so results stay exact.
  */
class DwrfBloomStrideSpec extends AnyFunSuite {

  private val Rows = 8192
  private val Stride = 512
  private val NumStrides = Rows / Stride // 16

  /** Bijective scramble of 0..8191 (odd multiplier mod 2^13). */
  private def scramble(i: Int): Long = (i.toLong * 2654435761L) % Rows

  private def writeFile(opts: Map[String, String],
      stripes: Int = 1): java.nio.file.Path = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType)))
    val dir = graft.TestDirs.tmp("bloomstride-")
    val p = dir.resolve("t.dwrf")
    val os = Files.newOutputStream(p)
    val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
      "bloom.columns" -> "id,tag",
      "bloom.fpp" -> "0.001",
      "row.index.stride" -> Stride.toString) ++ opts), os)
    val row = new GenericInternalRow(2)
    val perStripe = Rows / stripes
    for (i <- 0 until Rows) {
      val v = scramble(i)
      row.update(0, v)
      row.update(1, UTF8String.fromString(s"v-$v"))
      w.addRow(row)
      if ((i + 1) % perStripe == 0) w.forceStripeFlush()
    }
    w.close()
    os.close()
    p
  }

  private def withReader[T](p: java.nio.file.Path)(f: DwrfFileReader => T): T = {
    val r = new DwrfFileReader(new Path(p.toString), new Configuration())
    try f(r) finally r.close()
  }

  test("point lookup reads ~1 stride where stats keep all 16") {
    val p = writeFile(Map.empty)
    withReader(p) { r =>
      // rows() surfaces every row of SURVIVING strides (Spark re-applies
      // the filter); pruning shows as surfaced volume, not exact rows
      val it = r.rows(r.footer.stripes, r.schema, Seq(EqualTo("id", 4096L)))
      val got = it.map(_.getLong(0)).toVector
      assert(got.contains(4096L))
      assert(got.size <= 2 * Stride, s"surfaced ${got.size} rows")
      // stats are useless on the scramble: every skip must be bloom's
      assert(r.counters.stridesBloomSkipped == r.counters.stridesSkipped)
      // fpp 0.001 over 15 refutable strides: allow one false positive
      assert(r.counters.stridesBloomSkipped >= NumStrides - 2,
        s"bloom skipped only ${r.counters.stridesBloomSkipped}")
    }
  }

  test("string equality prunes through its own column's blooms") {
    val p = writeFile(Map.empty)
    withReader(p) { r =>
      val it = r.rows(r.footer.stripes, r.schema, Seq(EqualTo("tag", "v-777")))
      val got = it.map(_.getUTF8String(1).toString).toVector
      assert(got.contains("v-777"))
      assert(got.size <= 2 * Stride, s"surfaced ${got.size} rows")
      assert(r.counters.stridesBloomSkipped >= NumStrides - 2)
    }
  }

  test("IN keeps exactly the strides holding any sought value") {
    val p = writeFile(Map.empty)
    val vals = Array[Any](11L, 4096L, 8000L)
    withReader(p) { r =>
      val it = r.rows(r.footer.stripes, r.schema, Seq(In("id", vals)))
      val got = it.map(_.getLong(0)).toVector
      assert(Seq(11L, 4096L, 8000L).forall(got.contains))
      assert(got.size <= 4 * Stride, s"surfaced ${got.size} rows")
      assert(r.counters.stridesBloomSkipped >= NumStrides - 4)
    }
  }

  test("absent value skips every stride; bloom.stride=false skips none") {
    // the dense file covers all of 0..8191, so an absent probe there
    // would be a stats skip; the honest bloom case needs an absent
    // value INSIDE every stride's [min,max] — a sparse domain: even
    // ids (scrambled), odd probe
    val pSparse = {
      val schema = StructType(Seq(StructField("id", LongType)))
      val dir = graft.TestDirs.tmp("bloomstride-")
      val f = dir.resolve("t.dwrf")
      val os = Files.newOutputStream(f)
      val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
        "bloom.columns" -> "id", "bloom.fpp" -> "0.001",
        "row.index.stride" -> Stride.toString)), os)
      val row = new GenericInternalRow(1)
      for (i <- 0 until Rows) { // evens, scrambled: odd probes in-range
        row.update(0, scramble(i) * 2)
        w.addRow(row)
      }
      w.close(); os.close(); f
    }
    withReader(pSparse) { r =>
      val it = r.rows(r.footer.stripes, r.schema, Seq(EqualTo("id", 4241L)))
      assert(it.isEmpty)
      assert(r.counters.stridesBloomSkipped >= NumStrides - 1,
        "an in-range absent value must be refuted by blooms, not stats")
    }
    val pOff = writeFile(Map("bloom.stride" -> "false"))
    withReader(pOff) { r =>
      val it = r.rows(r.footer.stripes, r.schema, Seq(EqualTo("id", 4096L)))
      // no stride blooms and useless stats: the whole file surfaces
      assert(it.map(_.getLong(0)).toVector.size == Rows)
      assert(r.counters.stridesBloomSkipped == 0)
    }
  }

  test("multi-stripe files seal per-stripe bloom schedules correctly") {
    val p = writeFile(Map.empty, stripes = 4)
    withReader(p) { r =>
      assert(r.footer.stripes.size == 4)
      r.footer.stripes.foreach { si =>
        val sf = r.readStripeFooter(si)
        val blooms = r.readStrideBlooms(si, sf, Set(1, 2))
        assert(blooms.keySet == Set(1, 2))
        blooms.values.foreach(bs => assert(bs.length == NumStrides / 4))
      }
      val it = r.rows(r.footer.stripes, r.schema, Seq(EqualTo("id", 1234L)))
      val got = it.map(_.getLong(0)).toVector
      assert(got.contains(1234L))
      assert(got.size <= 2 * Stride, s"surfaced ${got.size} rows")
      assert(r.counters.stridesBloomSkipped >= NumStrides - 2 -
        (r.counters.stripesSkipped * (NumStrides / 4)))
    }
    // the introspection tool (S11) surfaces the bloom tier
    val dump = DwrfDump.dump(new Path(p.toString), new Configuration())
    assert(dump.contains("BLOOM_FILTER"), dump.take(400))
    assert(dump.contains(s"Stride blooms column 1: ${NumStrides / 4} strides"),
      dump.linesIterator.filter(_.contains("Stride blooms")).mkString("\n"))
  }

  test("columnar DataFrame path prunes and stays exact end to end") {
    val spark = TestSpark.spark
    val dir = graft.TestDirs.tmp("bloomstride-df-").toString
    spark.range(0, Rows, 1, 1)
      .select(((col("id") * 2654435761L) % Rows).as("id"),
        concat(lit("v-"), (col("id") * 2654435761L) % Rows).as("tag"))
      .write.format("dwrf").mode("overwrite")
      .option("bloom.columns", "id")
      .option("bloom.fpp", "0.001")
      .option("row.index.stride", Stride.toString)
      .save(dir)
    val back = spark.read.format("dwrf").load(dir)
    val hit = back.filter(col("id") === 4096L).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(4096L))
    // pruning evidence on the same bytes via the instrumented row path
    val (rows, strides, _) = DwrfUtil.surfacedRows(
      dir, "id", Seq(EqualTo("id", 4096L)))
    assert(rows <= 2 * Stride, s"surfaced $rows rows")
    assert(strides >= NumStrides - 2, s"skipped only $strides strides")
  }
}
