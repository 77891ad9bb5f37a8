package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.format._
import graft.sources.dwrf.{DwrfFileReader, DwrfFileWriter, DwrfWriteOptions}

/** Spark-free timings of the `graft.format` kernels and of single-thread
  * dwrf file passes, on column data taken from the scan table. Every kernel
  * is checked as decode(encode(x)) == x, and each bulk decoder against its
  * per-value decoder (the equivalences `KernelSpec` pins), before it is
  * timed. A failed check throws: the traced run then fails. */
final class Kernels(spark: SparkSession, scanDataDir: String, workDir: String) {
  private val li = graft.Tables.load(spark, scanDataDir, "lineitem")
  private val cols = li.select("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus",
    "l_extendedprice").collect()
  private val n = cols.length
  private val ints: Array[Long] = cols.map(_.getLong(0)) ++ cols.map(_.getLong(1))
  private val flags: Array[Byte] = cols.map(_.getString(2).charAt(0).toByte)
  private val bits: Array[Boolean] = cols.map(_.getString(3) == "O")
  private val table = mutable.ArrayBuffer.empty[(String, Double, Double)] // name, MB/s, ns/value

  /** Median seconds of `f` over at least 3 runs and 0.2 s. */
  private def time(f: => Unit): Double = {
    val xs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (xs.size < 3 || System.nanoTime() - t0 < 200000000L) {
      val a = System.nanoTime(); f; xs += (System.nanoTime() - a) / 1e9
    }
    Stats.median(xs.toSeq)
  }

  private def record(name: String, bytes: Long, values: Long, secs: Double): Unit =
    table += ((name, bytes / 1e6 / secs, secs * 1e9 / values))

  private def check(ok: Boolean, what: String): Unit =
    require(ok, s"format kernel check failed: $what")

  private def encodeInts(): Array[Byte] = {
    val out = new OutStream("ints", 256 * 1024, None)
    val w = new RunLengthIntegerWriter(out, signed = true)
    ints.foreach(w.write)
    w.flush()
    out.finish()
  }

  private def decodeInts(bytes: Array[Byte]): Array[Long] = {
    val r = new RunLengthIntegerReader(InStream("ints", bytes, None), signed = true)
    val dst = new Array[Long](ints.length)
    var off = 0
    while (off < dst.length) { val k = math.min(1024, dst.length - off); r.nextLongs(dst, off, k); off += k }
    dst
  }

  private def blocks(payload: Array[Byte], codec: CompressionCodec): Seq[(Array[Byte], Int)] =
    payload.grouped(256 * 1024).map { b =>
      (codec.compress(b, 0, b.length).getOrElse(b), b.length)
    }.toSeq

  private def inflate(bs: Seq[(Array[Byte], Int)], payloadLen: Int, codec: CompressionCodec): Array[Byte] = {
    val out = new Array[Byte](payloadLen)
    var off = 0
    bs.foreach { case (b, len) =>
      if (b.length == len) System.arraycopy(b, 0, out, off, len)
      else codec.decompressInto(b, 0, b.length, out, off, len)
      off += len
    }
    out
  }

  def run(): Seq[Metric] = {
    // integer RLE (orderkey is clustered: delta runs; partkey: literals)
    val enc = encodeInts()
    check(decodeInts(enc).sameElements(ints), "rle int decode(encode(x)) == x")
    val perValue = new RunLengthIntegerReader(InStream("ints", enc, None), signed = true)
    check(ints.indices.take(20000).forall(i => perValue.next() == ints(i)), "rle int next() == nextLongs")
    record("rle_int_encode", ints.length * 8L, ints.length, time(encodeInts()))
    record("rle_int_decode", ints.length * 8L, ints.length, time(decodeInts(enc)))

    // byte RLE over l_returnflag
    val bout = new OutStream("flags", 256 * 1024, None)
    val bw = new RunLengthByteWriter(bout)
    flags.foreach(bw.write)
    bw.flush()
    val benc = bout.finish()
    def decodeBytes(): Array[Byte] = {
      val r = new RunLengthByteReader(InStream("flags", benc, None))
      val dst = new Array[Byte](n)
      r.nextBytes(dst, 0, n)
      dst
    }
    check(decodeBytes().sameElements(flags), "byte rle decode(encode(x)) == x")
    val bPer = new RunLengthByteReader(InStream("flags", benc, None))
    check(flags.take(20000).forall(_ == bPer.next()), "byte rle next() == nextBytes")
    record("rle_byte_decode", n, n, time(decodeBytes()))

    // bit field over l_linestatus = 'O'
    val fout = new OutStream("bits", 256 * 1024, None)
    val fw = new BitFieldWriter(fout)
    bits.foreach(fw.write)
    fw.flush()
    val fenc = fout.finish()
    def decodeBits(): Array[Boolean] = {
      val r = new BitFieldReader(InStream("bits", fenc, None))
      val dst = new Array[Boolean](n)
      r.nextBits(dst, 0, n)
      dst
    }
    check(decodeBits().sameElements(bits), "bitfield decode(encode(x)) == x")
    val fPer = new BitFieldReader(InStream("bits", fenc, None))
    check(bits.take(20000).forall(_ == fPer.next()), "bitfield next() == nextBits")
    record("bitfield_decode", (n + 7) / 8, n, time(decodeBits()))

    // codecs over a column-stream payload: RLE ints + IEEE doubles
    val doubles = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    cols.foreach(r => doubles.putDouble(r.getDouble(4)))
    val payload = enc ++ doubles.array()
    val zlib = new ZlibCodec(4)
    for ((name, codec) <- Seq("zlib" -> zlib, "snappy" -> SnappyCodec, "zstd" -> ZstdCodec)) {
      val bs = blocks(payload, codec)
      check(java.util.Arrays.equals(inflate(bs, payload.length, codec), payload),
        s"$name decompress(compress(x)) == x")
      if (name == "zlib") record("zlib_compress", payload.length, payload.length, time(blocks(payload, codec)))
      record(s"${name}_decompress", payload.length, payload.length, time(inflate(bs, payload.length, codec)))
    }

    // bloom filter over l_orderkey hashes, probed half present, half absent
    val keys = cols.map(_.getLong(0)).distinct
    val bloom = BloomFilter.sized(keys.length, 0.05)
    keys.foreach(k => bloom.add(XXH64.hashLong(k, 42L)))
    val probes = keys.map(k => XXH64.hashLong(k, 42L)) ++ keys.map(k => XXH64.hashLong(-1L - k, 42L))
    check(keys.forall(k => bloom.mightContain(XXH64.hashLong(k, 42L))), "bloom has no false negatives")
    val fp = probes.drop(keys.length).count(bloom.mightContain).toDouble / keys.length
    check(fp < 0.15, f"bloom false-positive rate $fp%.3f within 3x of 0.05")
    var sink = 0
    val secs = time { var i = 0; while (i < probes.length) { if (bloom.mightContain(probes(i))) sink += 1; i += 1 } }
    record("bloom_probe", probes.length * 8L, probes.length, secs)

    table.toSeq.flatMap { case (name, mbs, ns) =>
      if (name == "bloom_probe") Seq(Metric("format.bloom_probe_ns", ns, "ns"))
      else Seq(Metric(s"format.${name}_mb_s", mbs, "MB/s"), Metric(s"format.${name}_ns_per_value", ns, "ns"))
    } ++ filePasses()
  }

  /** Single-thread `DwrfFileWriter.addRow`/`close` and `DwrfFileReader.rows`
    * passes over the scan table's rows (no Spark tasks involved). */
  private def filePasses(): Seq[Metric] = {
    val schema = li.schema
    val rows: Array[InternalRow] = li.limit(100000).queryExecution.toRdd.map(_.copy()).collect()
    val path = new org.apache.hadoop.fs.Path(s"$workDir/kernels/pass.dwrf")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = path.getFileSystem(conf)
    def write(): Unit = {
      val out = fs.create(path, true)
      try {
        val w = new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(Map.empty), out)
        rows.foreach(w.addRow)
        w.close()
      } finally out.close()
    }
    def read(): Long = {
      val r = new DwrfFileReader(path, conf)
      try r.rows(r.footer.stripes, schema).foldLeft(0L)((a, _) => a + 1)
      finally r.close()
    }
    write()
    check(read() == rows.length, "dwrf file pass reads back every row written")
    val expect = Checksum.ofRows(schema, rows.iterator)
    val r = new DwrfFileReader(path, conf)
    val back = try Checksum.ofRows(schema, r.rows(r.footer.stripes, schema)) finally r.close()
    check(back == expect, "dwrf file pass reads back the rows written")
    Seq(
      Metric("dwrf.write.file_rows_s", rows.length / time(write()), "rows/s"),
      Metric("dwrf.read.file_rows_s", rows.length / time(read()), "rows/s"))
  }
}
