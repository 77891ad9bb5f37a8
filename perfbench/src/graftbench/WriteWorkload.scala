package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.dwrf.{DwrfCompact, DwrfLog, DwrfOptimize, DwrfUtil}

/** Write-heavy workload, with reads of what was written: the dwrf writer,
  * the snapshot-log commit and the row-level (DELETE/UPDATE/MERGE) layers
  * do most of the work.
  *
  * The source is one key-perturbed copy of `lineitem` (line numbers made
  * unique per order), cached in memory and cut into orderkey-range slices.
  * Three snapshot-log tables start from slices: `cow` (copy-on-write DELETE), `mor` (UPDATE and MERGE with
  * `update.mode`/`merge.mode` = merge-on-read) and `app` (appends). Every
  * DML op is followed by a full snapshot read of its table, so a change
  * that makes writes cheaper by making reads costlier shows. Every second
  * round (the warm-up round too) compacts, optimizes (which purges delete
  * vectors) and vacuums, so delete-vector and small-file counts level off,
  * and then resets the tables that only grow or only shrink.
  *
  * Correctness: the benchmark keeps a model checksum of every table,
  * updated from the rows each DML op's predicate selects before the op
  * runs; every snapshot read must equal the model.
  */
final class WriteWorkload(env: Env) extends Workload {
  import env._
  val name = "write"

  /** 25k-row slices: tables of 25k-75k rows keep a round, untimed checks
    * included, near 4 s. */
  private val nSlices = 24
  private val rnd = new scala.util.Random(seed)
  private val suppOffset = rnd.nextInt(1 << 20).toLong
  private val cow = s"$workDir/write/cow"
  private val mor = s"$workDir/write/mor"
  private val app = s"$workDir/write/app"
  private val bulkRoot = s"$workDir/write/bulk"
  private val tables = Seq("cow" -> cow, "mor" -> mor, "app" -> app)

  private var src: DataFrame = _
  private var slices: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var sliceSums: IndexedSeq[Checksum] = IndexedSeq.empty
  private var keySpan = 0L
  private val model = mutable.Map.empty[String, Checksum]
  private var rawPerRow = 0.0
  private var columns: Seq[String] = Nil
  private var appends = 0
  private var bulkWrites = 0

  // run totals behind the write metrics
  private var bulkRaw = 0L
  private var bulkDisk = 0L
  private var addedBytes = 0L
  private var changedRows = 0L
  private val latestMs = mutable.ArrayBuffer.empty[Double]
  private val log = mutable.LinkedHashMap[String, Double](
    "files_rewritten" -> 0, "bytes_rewritten" -> 0, "rows_changed" -> 0,
    "compact_bytes_rewritten" -> 0, "vacuum_files_deleted" -> 0)
  private val compactMs = mutable.ArrayBuffer.empty[Double]

  private def conf = DwrfUtil.sessionHadoopConf()

  def source(): Unit = {
    val li = graft.Tables.load(spark, scanDataDir, "lineitem")
    val spans = li.agg(max("l_orderkey"), max("l_suppkey")).head()
    keySpan = spans.getLong(0) + 1
    columns = li.columns.toSeq
    // The fixed table repeats (l_orderkey, l_linenumber) pairs; MERGE needs
    // a unique key, so line numbers are renumbered 1..n within each order
    // (the range partitioning already clusters each order: no extra shuffle).
    val lines = Window.partitionBy("l_orderkey").orderBy(columns.map(col): _*)
    src = li.withColumn("l_suppkey", pmod(col("l_suppkey") + lit(suppOffset), lit(spans.getLong(1) + 1)))
      .repartitionByRange(cores, col("l_orderkey"))
      .withColumn("l_linenumber", row_number().over(lines))
      .select(columns.map(col): _*)
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .persist(StorageLevel.MEMORY_ONLY)
    slices = (0 until nSlices).map(i => ordersIn(sliceRange(i, i + 1)))
    sliceSums = Checksum.ofFilters(src, (0 until nSlices).map(i => inRange(sliceRange(i, i + 1))))
  }

  private def inRange(r: (Long, Long)) = col("l_orderkey") >= r._1 && col("l_orderkey") < r._2
  /** Source rows with `l_orderkey` in [r._1, r._2). */
  private def ordersIn(r: (Long, Long)): DataFrame = src.filter(inRange(r))

  /** The slices each snapshot-log table is staged from. */
  private val staged = Map("cow" -> (0, 3), "mor" -> (3, 6), "app" -> (6, 7))

  /** (Re)creates table `t` from its staged slices, with the log enabled. */
  private def create(t: String, dir: String): Unit = {
    Fs.delete(dir)
    val (from, until) = staged(t)
    ordersIn(sliceRange(from, until)).write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    model(t) = (from until until).map(sliceSums).reduce(_ + _)
  }

  def stage(): Unit = {
    Fs.delete(bulkRoot)
    tables.foreach { case (t, dir) => create(t, dir) }
    spark.sql("DROP TABLE IF EXISTS bench_cow")
    spark.sql("DROP TABLE IF EXISTS bench_mor")
    spark.sql(s"CREATE TABLE bench_cow USING dwrf LOCATION '$cow'")
    spark.sql(s"CREATE TABLE bench_mor USING dwrf LOCATION '$mor' " +
      "TBLPROPERTIES ('update.mode'='merge-on-read', 'merge.mode'='merge-on-read')")
    val (rows, raw, _) = Fs.footers(cow)
    rawPerRow = raw.toDouble / rows
    appends = 0
    bulkWrites = 0
  }

  def prepareChecks(): Unit = {
    // The staged tables must read back as the slices they were written from.
    tables.foreach { case (t, dir) =>
      val got = Checksum.of(dwrf(dir))
      require(got == model(t), s"staged table $t reads back as $got, want ${model(t)}")
    }
  }

  private def live(dir: String): DwrfLog.Snapshot = {
    val t0 = System.nanoTime()
    val s = DwrfLog.latest(new Path(dir), conf).get
    latestMs += (System.nanoTime() - t0) / 1e6
    s
  }

  /** Untimed bookkeeping around a DML op: bytes it added under the table
    * directory, and the files it replaced. */
  private final class Accounting(dir: String) {
    private var before: DwrfLog.Snapshot = _
    private var bytes0 = 0L
    def begin(): Unit = { before = live(dir); bytes0 = Fs.treeBytes(dir) }
    def end(rows: Long): Unit = {
      addedBytes += math.max(0L, Fs.treeBytes(dir) - bytes0)
      changedRows += rows
      val gone = before.files.toSet -- live(dir).files
      log("files_rewritten") += gone.size
      log("bytes_rewritten") += gone.toSeq.map(f => new java.io.File(dir, f).length).sum
    }
  }

  private def keyRange(share: Double, lo: Long, hi: Long): (Long, Long) = {
    val w = math.max(1L, ((hi - lo) * share).toLong)
    val a = lo + (rnd.nextDouble() * (hi - lo - w)).toLong
    (a, a + w)
  }

  private def sliceRange(from: Int, until: Int): (Long, Long) = {
    val step = keySpan / nSlices + 1
    (from * step, until * step)
  }

  private def bulkOp(): Op = new Op("bulk_write") {
    private val s = rnd.nextInt(nSlices)
    private val dir = s"$bulkRoot/b${bulkWrites}"
    bulkWrites += 1
    private var got: (Long, Long, Long) = _
    private var back: Checksum = _
    def run(): Unit = slices(s).write.format("dwrf").mode("overwrite").save(dir)
    def check(): Option[String] = {
      got = Fs.footers(dir)
      back = Checksum.of(dwrf(dir))
      bulkRaw += got._2
      bulkDisk += got._3
      Fs.delete(dir)
      expect("footer rows", got._1, sliceSums(s).rows).orElse(expect("read-back", back, sliceSums(s)))
    }
  }

  private def appendOp(): Op = new Op("append") {
    private val s = 7 + appends % (nSlices - 7)
    appends += 1
    private val acct = new Accounting(app)
    override def prepare(): Unit = acct.begin()
    def run(): Unit = slices(s).write.format("dwrf").mode("append").save(app)
    def check(): Option[String] = {
      acct.end(sliceSums(s).rows)
      model("app") = model("app") + sliceSums(s)
      None
    }
  }

  private def snapshotRead(t: String, dir: String): Op = new Op("snapshot_read") {
    private var got: Checksum = _
    def run(): Unit = got = checksum(dwrf(dir))
    def check(): Option[String] = expect(s"$t contents", got, model(t))
  }

  private def between(r: (Long, Long)) = s"l_orderkey >= ${r._1} AND l_orderkey < ${r._2}"

  private def deleteOp(): Op = new Op("delete") {
    private val r = { val (lo, hi) = sliceRange(0, 3); keyRange(0.01, lo, hi) }
    private var hit: Checksum = _
    private val acct = new Accounting(cow)
    override def prepare(): Unit = { hit = Checksum.of(dwrf(cow).filter(between(r))); acct.begin() }
    def run(): Unit = spark.sql(s"DELETE FROM bench_cow WHERE ${between(r)}")
    def check(): Option[String] = {
      acct.end(hit.rows)
      model("cow") = model("cow") - hit
      log("rows_changed") += hit.rows
      None
    }
  }

  private def updateOp(): Op = new Op("update") {
    private val r = { val (lo, hi) = sliceRange(3, 6); keyRange(0.01, lo, hi) }
    private var old: Checksum = _
    private var now: Checksum = _
    private val acct = new Accounting(mor)
    override def prepare(): Unit = {
      acct.begin()
      val hit = dwrf(mor).filter(between(r))
      old = Checksum.of(hit)
      now = Checksum.of(hit.withColumn("l_quantity", col("l_quantity") + 1).select(columns.map(col): _*))
    }
    def run(): Unit = spark.sql(s"UPDATE bench_mor SET l_quantity = l_quantity + 1 WHERE ${between(r)}")
    def check(): Option[String] = {
      acct.end(old.rows)
      model("mor") = model("mor") - old + now
      log("rows_changed") += old.rows
      None
    }
  }

  /** MERGE of changed versions of existing rows plus rows of a slice the
    * table does not hold (first time round; updates after that). */
  private def mergeOp(): Op = new Op("merge") {
    private val upd = { val (lo, hi) = sliceRange(3, 6); keyRange(0.002, lo, hi) }
    private val ins = { val (lo, hi) = sliceRange(7, nSlices); keyRange(0.002, lo, hi) }
    private var changes: DataFrame = _
    private var old: Checksum = _
    private var added: Checksum = _
    private val acct = new Accounting(mor)
    override def prepare(): Unit = {
      acct.begin()
      val current = dwrf(mor)
      val fresh = ordersIn(ins)
      val rows: java.util.List[Row] = java.util.Arrays.asList(
        current.filter(between(upd)).withColumn("l_quantity", col("l_quantity") + 2)
          .select(columns.map(col): _*).union(fresh).collect(): _*)
      changes = spark.createDataFrame(rows, current.schema)
      changes.createOrReplaceTempView("bench_changes")
      old = Checksum.of(current.join(changes.select("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "left_semi").select(columns.map(col): _*))
      added = Checksum.of(changes)
    }
    def run(): Unit = {
      val set = columns.map(c => s"$c = c.$c").mkString(", ")
      spark.sql(
        s"""MERGE INTO bench_mor t USING bench_changes c
           |ON t.l_orderkey = c.l_orderkey AND t.l_linenumber = c.l_linenumber
           |WHEN MATCHED THEN UPDATE SET $set
           |WHEN NOT MATCHED THEN INSERT (${columns.mkString(", ")})
           |  VALUES (${columns.map("c." + _).mkString(", ")})""".stripMargin)
    }
    def check(): Option[String] = {
      acct.end(added.rows)
      model("mor") = model("mor") - old + added
      log("rows_changed") += added.rows
      None
    }
  }

  /** Compaction, purge of delete vectors and vacuum; untimed afterwards,
    * `app` and `cow` go back to their staged slices, undoing the appends
    * and deletes since the last maintenance. So every table stays the same
    * size however many rounds a run completes. */
  private def maintainOp(): Op = new Op("maintain") {
    private var before: Seq[String] = Nil
    override def prepare(): Unit = before = live(app).files
    def run(): Unit = {
      val t0 = System.nanoTime()
      Trace.call("dwrf.tools", "DwrfCompact.compact")(
        DwrfCompact.compact(spark, app, targetBytes = 64L << 20))
      compactMs += (System.nanoTime() - t0) / 1e6
      Trace.call("dwrf.tools", "DwrfOptimize.rewrite")(
        DwrfOptimize.rewrite(spark, mor, Seq("l_orderkey", "l_linenumber")))
      tables.foreach { case (_, dir) =>
        val v = Trace.call("dwrf.log", "DwrfLog.vacuum")(DwrfLog.vacuum(new Path(dir), conf, retainLast = 1))
        log("vacuum_files_deleted") += v.dataFilesDeleted
      }
    }
    def check(): Option[String] = {
      log("compact_bytes_rewritten") += (before.toSet -- live(app).files)
        .toSeq.map(f => new java.io.File(app, f).length).sum
      create("app", app)
      create("cow", cow)
      None
    }
  }

  /** 42 ops, 14 of them maintenance, MERGE, DELETE or UPDATE: the tail
    * (ten beyond it) lies inside those. With 3 rounds it fell on the edge
    * between them and the rest and spread by more than a quarter over seeds. */
  val timedRounds = 4

  def round(r: Int): Seq[Op] = {
    val dml = Seq(
      Seq(appendOp(), snapshotRead("app", app)),
      Seq(deleteOp(), snapshotRead("cow", cow)),
      Seq(updateOp(), snapshotRead("mor", mor)),
      Seq(mergeOp(), snapshotRead("mor", mor)))
    val groups = Seq(Seq(bulkOp()), Seq(bulkOp())) ++ dml
    new scala.util.Random(seed * 7919 + r).shuffle(groups).flatten ++
      (if (r % 2 == 0) Seq(maintainOp()) else Nil)
  }

  def ownMetrics(recs: Seq[OpRecord]): Seq[Metric] = {
    def p50(kinds: String*) = {
      val xs = recs.filter(r => kinds.contains(r.kind)).map(_.ms)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val bulkMs = recs.filter(_.kind == "bulk_write").map(_.ms).sum
    Seq(
      Metric("raw_mb_s", bulkRaw / 1e6 / (bulkMs / 1e3), "MB/s"),
      Metric("bytes_per_raw_byte", bulkDisk.toDouble / bulkRaw, "ratio"),
      Metric("write_amp", addedBytes / (changedRows * rawPerRow), "ratio"),
      Metric("append_p50_ms", p50("append"), "ms"),
      Metric("rowlevel_p50_ms", p50("delete", "update", "merge"), "ms"),
      Metric("snapshot_read_p50_ms", p50("snapshot_read"), "ms"))
  }

  override def ownLayerMetrics(recs: Seq[OpRecord],
      plans: Map[Long, Seq[org.apache.spark.sql.execution.QueryExecution]]): Seq[Metric] = {
    val snaps = tables.map { case (_, dir) => DwrfLog.latest(new Path(dir), conf).get }
    Seq(
      Metric("dwrf.log.latest_ms", Stats.median(latestMs.toSeq), "ms"),
      Metric("dwrf.log.versions", snaps.map(_.version).sum.toDouble, "count"),
      Metric("dwrf.log.files_live", snaps.map(_.files.size).sum.toDouble, "count"),
      Metric("dwrf.log.dv_files", snaps.map(_.dvs.size).sum.toDouble, "count")) ++
      log.toSeq.map { case (k, v) => Metric(s"dwrf.log.$k", v, if (k.contains("bytes")) "B" else "count") } ++
      compactMs.headOption.map(_ => Metric("dwrf.log.compact_ms", Stats.median(compactMs.toSeq), "ms")).toSeq
  }
}
