package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Read-only workload: the dwrf reader layers (stripe/stride skipping,
  * decoding, decompression) do nearly all the work.
  *
  * Set-up makes `copies` key-perturbed copies of `lineitem`, range-
  * partitioned on `l_orderkey` into one file per core (so `l_orderkey` is
  * clustered and `l_partkey` is not), and writes them twice: in natural
  * order, and sorted by `l_partkey` with per-stride bloom filters on
  * `l_orderkey`. It also writes `events`.
  * The clustered/unclustered key pair and the natural/sorted table pair
  * separate faster decoding from better skipping.
  */
final class ScanWorkload(env: Env) extends Workload {
  import env._
  val name = "scan"

  private val copies = 2
  private val natural = s"$workDir/scan/natural"
  private val sorted = s"$workDir/scan/sorted"
  private val eventsDir = s"$workDir/scan/events"
  private val rnd = new scala.util.Random(seed)
  private val partOffsets = Seq.fill(copies)(rnd.nextInt(1 << 20).toLong)
  private val suppOffsets = Seq.fill(copies)(rnd.nextInt(1 << 20).toLong)

  private var src: DataFrame = _
  private var events: DataFrame = _
  private var orderSpan = 0L
  private var partSpan = 0L
  /** Footer raw (uncompressed) bytes of the natural table. */
  var rawBytes = 0L

  private def perturbed(): DataFrame = {
    val li = graft.Tables.load(spark, scanDataDir, "lineitem")
    val spans = li.agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
    orderSpan = spans.getLong(0) + 1
    partSpan = spans.getLong(1) + 1
    val suppSpan = spans.getLong(2) + 1
    (0 until copies).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderSpan))
        .withColumn("l_partkey", pmod(col("l_partkey") + lit(partOffsets(i)), lit(partSpan)))
        .withColumn("l_suppkey", pmod(col("l_suppkey") + lit(suppOffsets(i)), lit(suppSpan)))
    }.reduce(_ union _)
      // one clustered file per core: copies stay in orderkey order
      .repartitionByRange(cores, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
  }

  def source(): Unit = {
    src = perturbed().persist(StorageLevel.MEMORY_ONLY)
    events = graft.Tables.load(spark, scanDataDir, "events").persist(StorageLevel.MEMORY_ONLY)
    fullExpected = Checksum.of(src)
    eventsExpected = Checksum.of(events.select(eventCols.map(col): _*))
  }

  def stage(): Unit = {
    Seq(natural, sorted, eventsDir).foreach(Fs.delete)
    src.write.format("dwrf").mode("overwrite").save(natural)
    src.write.format("dwrf").mode("overwrite")
      .option("sort.columns", "l_partkey")
      .option("bloom.columns", "l_orderkey")
      .option("bloom.stride", "true")
      .save(sorted)
    events.write.format("dwrf").mode("overwrite").save(eventsDir)
    rawBytes = Fs.footers(natural)._2
  }

  private val eventCols = Seq("event_type", "ts", "props", "user_id")
  private var fullExpected: Checksum = _
  private var eventsExpected: Checksum = _
  private var aggExpected: Seq[Row] = Nil

  import ScanWorkload.Params
  private var params: IndexedSeq[(Params, Map[String, Checksum])] = IndexedSeq.empty

  private def okRange(share: Double): (Long, Long) = {
    val total = orderSpan * copies
    val w = math.max(1L, (total * share).toLong)
    val lo = (rnd.nextDouble() * (total - w)).toLong
    (lo, lo + w)
  }

  private def between(c: String, r: (Long, Long)) = col(c) >= r._1 && col(c) < r._2

  def prepareChecks(): Unit = {
    aggExpected = agg(src)
    val ps = (0 until 4).map { _ =>
      val w = math.max(1L, partSpan / 100)
      val plo = (rnd.nextDouble() * (partSpan - w)).toLong
      Params(okRange(0.002), okRange(0.02), (plo, plo + w), (rnd.nextDouble() * orderSpan * copies).toLong)
    }
    val kinds = Seq("okNarrow", "okWide", "pk", "point")
    val sums = Checksum.ofFilters(src, ps.flatMap { p =>
      Seq(between("l_orderkey", p.okNarrow), between("l_orderkey", p.okWide),
        between("l_partkey", p.pk), col("l_orderkey") === p.point)
    })
    params = ps.indices.map(i => ps(i) -> kinds.zip(sums.slice(i * 4, i * 4 + 4)).toMap)
  }

  private def agg(df: DataFrame): Seq[Row] =
    df.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")), count(lit(1)))
      .collect().toSeq.sortBy(_.getString(0))

  /** A scan whose result is the checksum of every column of every row. */
  private def checksumOp(k: String, df: => DataFrame, want: Checksum): Op = new Op(k) {
    private var got: Checksum = _
    rowsMatched = if (k == "full_scan" || k == "events_projection") -1L else want.rows
    def run(): Unit = got = checksum(df)
    def check(): Option[String] = expect("checksum", got, want)
  }

  /** Scan ops are short, so much of their time is per-query planning and
    * scheduling code; it takes about three rounds for the JIT to compile
    * it, and timing after one round spread op_p50_ms over seeds twice as
    * widely. */
  override def warmupRounds: Int = 3
  /** 48 ops: the ten slowest, which set the tail, are all full-row scans
    * and aggregates; with 32 the tail fell on the edge between those and
    * the range scans and spread by a quarter over seeds. */
  val timedRounds = 6

  def round(r: Int): Seq[Op] = {
    val (p, want) = params(r % params.size)
    val ops = Seq(
      checksumOp("full_scan", dwrf(natural), fullExpected),
      new Op("two_column_agg") {
        private var got: Seq[Row] = Nil
        def run(): Unit = {
          val df = dwrf(natural).groupBy("l_returnflag")
            .agg(sum(col("l_extendedprice").cast("decimal(18,2)")), count(lit(1)))
          plans += df.queryExecution
          got = df.collect().toSeq.sortBy(_.getString(0))
        }
        def check(): Option[String] = expect("groups", got, aggExpected)
      },
      checksumOp("orderkey_range_narrow", dwrf(natural).filter(between("l_orderkey", p.okNarrow)),
        want("okNarrow")),
      checksumOp("orderkey_range_wide", dwrf(natural).filter(between("l_orderkey", p.okWide)),
        want("okWide")),
      checksumOp("partkey_range_natural", dwrf(natural).filter(between("l_partkey", p.pk)), want("pk")),
      checksumOp("partkey_range_sorted", dwrf(sorted).filter(between("l_partkey", p.pk)), want("pk")),
      checksumOp("bloom_point_lookup", dwrf(sorted).filter(col("l_orderkey") === p.point), want("point")),
      checksumOp("events_projection", dwrf(eventsDir).select(eventCols.map(col): _*), eventsExpected))
    new scala.util.Random(seed * 7919 + r).shuffle(ops)
  }

  def ownMetrics(recs: Seq[OpRecord]): Seq[Metric] = {
    val full = recs.filter(_.kind == "full_scan")
    Seq(
      Metric("raw_mb_s", rawBytes * full.size / 1e6 / (full.map(_.ms).sum / 1e3), "MB/s"),
      Metric("table_raw_mb", rawBytes / 1e6, "MB"),
      Metric("table_disk_mb", Fs.footers(natural)._3 / 1e6, "MB"),
      Metric("table_rows", fullExpected.rows.toDouble, "count"))
  }
}

object ScanWorkload {
  /** Seeded predicate parameters; rounds cycle through them. */
  final case class Params(okNarrow: (Long, Long), okWide: (Long, Long), pk: (Long, Long), point: Long)
}
