package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write-path profiler (reference M5's write half,
  * `ReaderWriterProfiler.java:32-52`): per-writer encode/flush nanos,
  * thread-local compression accounting, and the V2 CustomMetrics that
  * surface them in a write job's SQL UI.
  */
class DwrfWriteMetricsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(): String = graft.TestDirs.tmp("dwrf-wmetrics-").toString

  test("DwrfFileWriter accumulates encode/flush/compress counters") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val bos = new java.io.ByteArrayOutputStream()
    val prof0 = graft.format.WriteProfile.get.compressNanos
    val calls0 = graft.format.WriteProfile.get.compressCalls
    val w = new DwrfFileWriter(schema,
      DwrfWriteOptions.fromMap(Map("compression" -> "zlib")), bos)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    (0 until 20000).foreach { i =>
      row.update(0, i.toLong)
      row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s"payload-$i"))
      w.addRow(row)
    }
    w.close()
    assert(w.rowCount == 20000)
    assert(w.flushNanos > 0, "stripe/footer finalize time must accumulate")
    assert(w.encodeNanosEst > 0, "sampled per-row encode time must accumulate")
    assert(w.stripesFlushed >= 1)
    assert(w.bytesOut == bos.size().toLong)
    val prof = graft.format.WriteProfile.get
    assert(prof.compressNanos > prof0, "zlib blocks must be timed")
    assert(prof.compressCalls > calls0)
    assert(prof.compressBytesIn >= prof.compressBytesOut,
      "zlib on repetitive payloads must not inflate")
  }

  test("read path accrues decompression time (M5's DECOMPRESSION_TIME)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    spark.range(0, 30000, 1, 1)
      .select(col("id"), concat(lit("payload-"), col("id")).as("s"))
      .write.format("dwrf").mode("overwrite")
      .option("compression", "zlib").save(dir)
    val r = new DwrfFileReader(
      new Path(DwrfUtil.listDataFiles(new Path(dir), new Configuration())
        .head.toString), new Configuration())
    try {
      val before = graft.format.ReadProfile.get.decompressNanos
      assert(r.rows(r.footer.stripes, r.schema, Nil).size == 30000)
      val prof = graft.format.ReadProfile.get
      assert(prof.decompressNanos > before,
        "zlib block decompression must be timed on the read path")
    } finally r.close()
    // the V2 scan attributes the nanos per reader (bracketed per next()
    // so interleaved SPJ readers never double-count) and surfaces them
    // as the decompressMs custom metric in the SQL UI store. The filter
    // below is NOT footer-answerable, so the query cannot collapse to
    // the zero-I/O LocalScan (which would carry no scan metrics).
    assert(spark.read.format("dwrf").load(dir)
      .filter(length(col("s")) > 2).count() == 30000L)
    val deadline = System.currentTimeMillis() + 10000
    var seen = false
    while (System.currentTimeMillis() < deadline && !seen) {
      Thread.sleep(200)
      seen = spark.sharedState.statusStore.executionsList()
        .flatMap(_.metrics.map(_.name)).contains("dwrf decompression ms")
    }
    assert(seen, "decompressMs absent from the SQL UI store")
  }

  test("write jobs surface the profiler as V2 custom metrics in the UI store") {
    val dir = tmp()
    spark.range(0, 50000, 1, 2)
      .select(col("id"), concat(lit("v-"), col("id")).as("payload"))
      .write.format("dwrf").mode("overwrite").save(dir)
    // SQLAppStatusStore fills from the async listener bus; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    var names = Set.empty[String]
    while (System.currentTimeMillis() < deadline &&
        !names.contains("dwrf write: file bytes written")) {
      Thread.sleep(200)
      names = spark.sharedState.statusStore.executionsList().flatMap(
        _.metrics.map(_.name)).toSet
    }
    assert(names.contains("dwrf write: file bytes written"),
      s"write metrics absent from the SQL UI store; saw: $names")
    assert(names.contains("dwrf write: stripe finalize + footer ms"))
    assert(names.contains("dwrf write: compression ms"))
    // and the metric VALUES aggregate non-zero for the bytes counter
    val exec = spark.sharedState.statusStore.executionsList().reverse
      .find(_.metrics.exists(_.name == "dwrf write: file bytes written")).get
    val id = exec.metrics.find(_.name == "dwrf write: file bytes written").get
      .accumulatorId
    val agg = spark.sharedState.statusStore.executionMetrics(exec.executionId)
    assert(agg.get(id).exists(v => v.replaceAll("[^0-9]", "").nonEmpty &&
      v.replaceAll("[^0-9]", "").toLong > 0),
      s"bytes-written metric did not aggregate non-zero: ${agg.get(id)}")
  }
}
