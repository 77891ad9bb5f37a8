package graft.sources.dwrf

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Per-task scan counters (reference M5 profiler counters, re-expressed as
  * DataSource V2 CustomMetrics so they surface in the Spark UI): how many
  * stripes/strides the stats-based skipping actually eliminated, and how
  * many bytes hit the wire.
  */
final class ScanCounters extends Serializable {
  var stripesRead = 0L
  var stripesSkipped = 0L
  var stridesSkipped = 0L
  /** Of `stridesSkipped`, how many the per-stride blooms refuted after
    * min/max stats had already kept them (bloom.stride attribution). */
  var stridesBloomSkipped = 0L
  var bytesRead = 0L
  var batchesEmitted = 0L
  /** Rows decoded from the surviving stripes and strides, before the
    * exact filters drop any: set against the scan's output rows, the
    * filter's selectivity; set against the file rows, the skipping's. */
  var rowsDecoded = 0L
  var preads = 0L
  /** Readers whose footer parse came from the JVM-wide footer cache. */
  var footerCacheHits = 0L
  /** Max bytes resident across one stream's fetch windows under paced
    * reading (`dwrf.read.pace.bytes`) — the O(window) memory evidence. */
  var pacedPeakResident = 0L
  /** Decompress nanos attributed to THIS reader, accumulated by
    * bracketing each next() call against the thread-local codec
    * profile. A single open-time baseline would double-count whenever
    * two readers interleave in one task thread — exactly the
    * storage-partitioned join shape, where both join sides' partition
    * readers share the task. (Footer-parse decompression before the
    * first next() is not attributed — negligible next to data pages.) */
  var decompressNanosAcc = 0L
}

object DwrfMetrics {
  final class StripesRead extends CustomSumMetric {
    override def name(): String = "stripesRead"
    override def description(): String = "dwrf stripes read"
  }
  final class StripesSkipped extends CustomSumMetric {
    override def name(): String = "stripesSkipped"
    override def description(): String = "dwrf stripes skipped by stats"
  }
  final class StridesSkipped extends CustomSumMetric {
    override def name(): String = "stridesSkipped"
    override def description(): String = "dwrf row-index strides skipped by stats"
  }
  final class StridesBloomSkipped extends CustomSumMetric {
    override def name(): String = "stridesBloomSkipped"
    override def description(): String = "dwrf strides skipped by stride blooms"
  }
  final class BytesRead extends CustomSumMetric {
    override def name(): String = "bytesRead"
    override def description(): String = "dwrf bytes read"
  }
  final class BatchesEmitted extends CustomSumMetric {
    override def name(): String = "batchesEmitted"
    override def description(): String = "dwrf columnar batches emitted"
  }
  final class RowsDecoded extends CustomSumMetric {
    override def name(): String = "rowsDecoded"
    override def description(): String = "dwrf rows decoded after skipping"
  }
  final class Preads extends CustomSumMetric {
    override def name(): String = "preads"
    override def description(): String = "dwrf positioned reads issued"
  }
  final class FooterCacheHits extends CustomSumMetric {
    override def name(): String = "footerCacheHits"
    override def description(): String = "dwrf footer parses reused from cache"
  }
  final class DecompressMs extends CustomSumMetric {
    override def name(): String = "decompressMs"
    override def description(): String = "dwrf decompression ms"
  }

  val all: Array[CustomMetric] = Array(
    new StripesRead, new StripesSkipped, new StridesSkipped,
    new StridesBloomSkipped, new BytesRead,
    new BatchesEmitted, new RowsDecoded, new Preads, new FooterCacheHits, new DecompressMs)

  def task(metricName: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    // NB: the parameter must not be called `name` — inside the anonymous
    // class it would resolve to this very method (shadowing), and scalac
    // compiles the self tail-call into an infinite loop
    override def name(): String = metricName
    override def value(): Long = v
  }

  def taskValues(c: ScanCounters): Array[CustomTaskMetric] = Array(
    task("stripesRead", c.stripesRead),
    task("stripesSkipped", c.stripesSkipped),
    task("stridesSkipped", c.stridesSkipped),
    task("stridesBloomSkipped", c.stridesBloomSkipped),
    task("bytesRead", c.bytesRead),
    task("batchesEmitted", c.batchesEmitted),
    task("rowsDecoded", c.rowsDecoded),
    task("preads", c.preads),
    task("footerCacheHits", c.footerCacheHits),
    // reference M5's DECOMPRESSION_TIME: nanos bracketed per next()
    // call, so interleaved readers in one task thread (SPJ) never
    // double-count each other's work
    task("decompressMs", c.decompressNanosAcc / 1000000L))
}

/** Write-path profiler metrics (reference M5's write half: the
  * ENCODING / SERIALIZATION / COMPRESSION_TIME counters
  * `ReaderWriterProfiler` wraps around the writer hot paths —
  * re-expressed as V2 CustomMetrics so a slow write job explains itself
  * in the Spark SQL UI). Times are reported in MILLIS (sum across
  * tasks); `writeEncodeMs` is a 1-in-64 sampled estimate of the per-row
  * encode path, `writeFlushMs` and `writeCompressMs` are exact.
  */
object DwrfWriteMetrics {
  final class EncodeMs extends CustomSumMetric {
    override def name(): String = "writeEncodeMs"
    override def description(): String =
      "dwrf write: per-row encode ms (sampled 1/64)"
  }
  final class FlushMs extends CustomSumMetric {
    override def name(): String = "writeFlushMs"
    override def description(): String =
      "dwrf write: stripe finalize + footer ms"
  }
  final class CompressMs extends CustomSumMetric {
    override def name(): String = "writeCompressMs"
    override def description(): String = "dwrf write: compression ms"
  }
  final class CompressBlocks extends CustomSumMetric {
    override def name(): String = "writeCompressBlocks"
    override def description(): String = "dwrf write: blocks compressed"
  }
  final class BytesOut extends CustomSumMetric {
    override def name(): String = "writeBytesOut"
    override def description(): String = "dwrf write: file bytes written"
  }
  final class StripesOut extends CustomSumMetric {
    override def name(): String = "writeStripes"
    override def description(): String = "dwrf write: stripes flushed"
  }

  val all: Array[CustomMetric] = Array(
    new EncodeMs, new FlushMs, new CompressMs, new CompressBlocks,
    new BytesOut, new StripesOut)

  /** Task-metric snapshot for a set of live file writers; compression
    * nanos come from the thread-local [[graft.format.WriteProfile]]
    * delta since `compress0`/`blocks0` (captured at DataWriter
    * construction — DataWriters are single-threaded by contract).
    */
  /** The `rolled*` parameters carry snapshotted totals of files a
    * rolling sink already closed and released — holding the writer
    * object graphs alive just for these four longs would grow task
    * memory by one encoder tree per rolled file. */
  def taskValues(writers: Iterable[graft.sources.dwrf.DwrfFileWriter],
      compress0: Long, blocks0: Long,
      rolledEncodeNanos: Long = 0L, rolledFlushNanos: Long = 0L,
      rolledBytesOut: Long = 0L, rolledStripes: Long = 0L): Array[CustomTaskMetric] = {
    val prof = graft.format.WriteProfile.get
    Array(
      DwrfMetrics.task("writeEncodeMs",
        (rolledEncodeNanos + writers.map(_.encodeNanosEst).sum) / 1000000L),
      DwrfMetrics.task("writeFlushMs",
        (rolledFlushNanos + writers.map(_.flushNanos).sum) / 1000000L),
      DwrfMetrics.task("writeCompressMs",
        (prof.compressNanos - compress0) / 1000000L),
      DwrfMetrics.task("writeCompressBlocks", prof.compressCalls - blocks0),
      DwrfMetrics.task("writeBytesOut",
        rolledBytesOut + writers.map(_.bytesOut).sum),
      DwrfMetrics.task("writeStripes",
        rolledStripes + writers.map(_.stripesFlushed.toLong).sum))
  }
}
