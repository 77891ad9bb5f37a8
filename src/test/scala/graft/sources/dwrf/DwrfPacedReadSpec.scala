package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Paced stream fetching (reference R2, `OrcConf readStrides` /
  * `InStream.java:135-443`): with `dwrf.read.pace.bytes` set, a
  * full-stripe scan fetches each stream in bounded windows as decode
  * advances — identical values, reader memory O(window) instead of
  * O(stripe span).
  */
class DwrfPacedReadSpec extends AnyFunSuite {

  private def writeFile(n: Int): String = {
    import org.apache.spark.sql.types._
    val dir = graft.TestDirs.tmp("dwrf-paced-").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val os = new java.io.FileOutputStream(s"$dir/t.dwrf")
    // small blocks so chunk boundaries straddle the tiny pace windows
    val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
      "compression" -> "zlib", "compress.size" -> "4096",
      "dictionary.enabled" -> "false")), os)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    (0 until n).foreach { i =>
      row.update(0, i.toLong)
      row.update(1, org.apache.spark.unsafe.types.UTF8String
        .fromString(f"value-$i%08d-${"x" * 40}"))
      w.addRow(row)
    }
    w.close()
    os.close()
    dir
  }

  test("paced scan returns identical rows with bounded resident bytes") {
    val n = 50000
    val dir = writeFile(n)
    val pace = 16 * 1024

    val eager = new DwrfFileReader(new Path(s"$dir/t.dwrf"), new Configuration())
    val expected = try {
      eager.rows(eager.footer.stripes, eager.schema, Nil)
        .map(r => (r.getLong(0), r.getUTF8String(1).toString)).toVector
    } finally eager.close()
    assert(expected.size == n)

    val conf = new Configuration()
    conf.setLong("dwrf.read.pace.bytes", pace.toLong)
    val paced = new DwrfFileReader(new Path(s"$dir/t.dwrf"), conf)
    try {
      val got = paced.rows(paced.footer.stripes, paced.schema, Nil)
        .map(r => (r.getLong(0), r.getUTF8String(1).toString)).toVector
      assert(got == expected, "paced decode must be value-identical")
      // the memory bound: no stream ever held more than 2 windows
      assert(paced.counters.pacedPeakResident > 0,
        "paced counters must have recorded fetch windows")
      assert(paced.counters.pacedPeakResident <= 2L * pace,
        s"resident ${paced.counters.pacedPeakResident} exceeds 2 windows")
      // and the data stream is much larger than one window (the test
      // would be vacuous otherwise)
      val dataLen = paced.footer.stripes.map(_.dataLength).sum
      assert(dataLen > 8L * pace,
        s"stream span $dataLen too small to prove pacing at $pace")
    } finally paced.close()
  }

  test("paced decode is value-identical across random pace sizes and codecs") {
    val n = 8000
    val rnd = new scala.util.Random(0xd1ce)
    for (codec <- Seq("zlib", "snappy", "zstd", "none")) {
      import org.apache.spark.sql.types._
      val dir = graft.TestDirs.tmp("dwrf-paced-fuzz-").toString
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("s", StringType)))
      val os = new java.io.FileOutputStream(s"$dir/t.dwrf")
      val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map(
        "compression" -> codec, "compress.size" -> "2048")), os)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      val expected = (0 until n).map { i =>
        val s0 = if (i % 17 == 0) "" else s"v$i-${"y" * (i % 53)}"
        row.update(0, i.toLong)
        row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s0))
        w.addRow(row)
        (i.toLong, s0)
      }
      w.close(); os.close()
      for (_ <- 1 to 3) {
        val pace = 512 + rnd.nextInt(64 * 1024)
        val conf = new org.apache.hadoop.conf.Configuration()
        conf.setLong("dwrf.read.pace.bytes", pace.toLong)
        val r = new DwrfFileReader(
          new org.apache.hadoop.fs.Path(s"$dir/t.dwrf"), conf)
        try {
          val got = r.rows(r.footer.stripes, r.schema, Nil)
            .map(x => (x.getLong(0), x.getUTF8String(1).toString)).toVector
          assert(got == expected.toVector,
            s"paced decode diverged at codec=$codec pace=$pace")
        } finally r.close()
      }
    }
  }

  test("filtered (stride-pruned) reads are unaffected by the pace option") {
    val dir = writeFile(20000)
    val filters = Seq(org.apache.spark.sql.sources.GreaterThan("id", 19990L))
    val plain = new DwrfFileReader(new Path(s"$dir/t.dwrf"), new Configuration())
    val expected = try {
      plain.rows(plain.footer.stripes, plain.schema, filters)
        .map(_.getLong(0)).toVector
    } finally plain.close()
    val conf = new Configuration()
    conf.setLong("dwrf.read.pace.bytes", 8192L)
    val r = new DwrfFileReader(new Path(s"$dir/t.dwrf"), conf)
    try {
      // stride pruning bypasses pacing by design (pruned ranges are the
      // small subset already) — surfaced rows must be identical
      val got = r.rows(r.footer.stripes, r.schema, filters)
        .map(_.getLong(0)).toVector
      assert(got == expected)
      assert(r.counters.pacedPeakResident == 0L,
        "pruned reads must not engage pacing")
    } finally r.close()
  }
}
