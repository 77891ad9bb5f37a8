package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Format-parity micro-bench: dwrf vs Spark's built-in parquet on the
  * same lineitem data — write time, on-disk size, full-scan aggregate,
  * and FILTERED scan (the columnar + stride-skip path). Prints one JSON
  * line; README's recorded evidence comes from here.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchFormats"
  *
  * Scale-stress mode (`runMain graft.BenchFormats scale`): writes a
  * ~9.6M-row lineitem (sf0.1 ×16, keys perturbed per copy so stats and
  * dictionaries see 16× the key space, not 16 repeats) through the dwrf
  * writer with a deliberately small 64 MB stripe budget, then verifies
  * from the file footers that the A4 flush policy actually bounded every
  * stripe — the on-disk proxy for "writer memory stays flat no matter how
  * many rows stream through one task". Also records aggregate write/scan
  * MB/s over the raw (uncompressed) bytes; README quotes these numbers.
  */
object BenchFormats {
  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def dirSize(p: String): Long = {
    val d = new java.io.File(p)
    if (!d.exists) 0L
    else d.listFiles.filter(_.isFile).map(_.length).sum
  }

  // shared benchmark scans (both modes time the SAME queries — a change
  // to the aggregate or the filter range cannot desynchronize them)
  private def scanAgg(spark: SparkSession, fmt: String, path: String): Double = {
    import spark.implicits._
    time {
      spark.read.format(fmt).load(path)
        .agg(sum($"l_quantity"), sum($"l_extendedprice")).collect()
    }._1
  }

  private def scanFiltered(spark: SparkSession, fmt: String, path: String): Double = {
    import spark.implicits._
    time {
      spark.read.format(fmt).load(path)
        .filter($"l_orderkey" >= 100000L && $"l_orderkey" < 200000L)
        .agg(sum($"l_quantity"), count(lit(1))).collect()
    }._1
  }

  // range scan on a key UNCORRELATED with the fixture's natural row order
  // (lineitem arrives ~sorted by orderkey, so partkey stats only become
  // selective when the file was written with sort.columns=l_partkey)
  private def scanPartkey(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    time {
      spark.read.format("dwrf").load(path)
        .filter($"l_partkey" >= 1000L && $"l_partkey" < 1200L)
        .agg(sum($"l_quantity"), count(lit(1))).collect()
    }._1
  }

  /** Rows the stride/stripe indexes surface for the partkey range
    * predicate — the deterministic I/O instrument behind the timed
    * partkey scans (see DwrfUtil.surfacedRows for why both skip counters
    * are reported: a stripe pruned whole never reaches the stride one).
    */
  private def partkeyRowsSurfaced(dir: String): (Long, Long, Long) =
    graft.sources.dwrf.DwrfUtil.surfacedRows(dir, "l_partkey", Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("l_partkey", 1000L),
      org.apache.spark.sql.sources.LessThan("l_partkey", 1200L)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    if (args.contains("scale")) {
      runScale(spark, sfDir)
      spark.stop()
      return
    }

    val li = Tables.load(spark, sfDir, "lineitem").cache()
    li.count() // materialize, so writes time the format not the source scan
    val base = graft.queries.Staging.root.resolve("fmt-bench").toString

    def writeTo(fmt: String, path: String, opts: Map[String, String]): Double = {
      val (t, _) = time {
        val w = li.write.format(fmt).mode("overwrite")
        opts.foreach { case (k, v) => w.option(k, v) }
        w.save(path)
      }
      t
    }

    def scanAgg(fmt: String, path: String): Double =
      BenchFormats.scanAgg(spark, fmt, path)
    def scanFiltered(fmt: String, path: String): Double =
      BenchFormats.scanFiltered(spark, fmt, path)

    // warmup both write paths once
    writeTo("parquet", s"$base/warm-pq", Map.empty)
    writeTo("dwrf", s"$base/warm-dw", Map.empty)

    val r = scala.collection.mutable.LinkedHashMap[String, Any]()
    r("write_parquet_snappy_s") = writeTo("parquet", s"$base/pq", Map.empty)
    r("write_dwrf_zlib_s") = writeTo("dwrf", s"$base/dw-zlib", Map("compress" -> "ZLIB"))
    r("write_dwrf_snappy_s") = writeTo("dwrf", s"$base/dw-snappy", Map("compress" -> "SNAPPY"))
    r("size_parquet_mb") = dirSize(s"$base/pq") / 1e6
    r("size_dwrf_zlib_mb") = dirSize(s"$base/dw-zlib") / 1e6
    r("size_dwrf_snappy_mb") = dirSize(s"$base/dw-snappy") / 1e6
    // second run timed (warm page cache) for scans
    scanAgg("parquet", s"$base/pq"); scanAgg("dwrf", s"$base/dw-zlib")
    r("scan_agg_parquet_s") = scanAgg("parquet", s"$base/pq")
    r("scan_agg_dwrf_zlib_s") = scanAgg("dwrf", s"$base/dw-zlib")
    scanFiltered("parquet", s"$base/pq"); scanFiltered("dwrf", s"$base/dw-zlib")
    r("scan_filtered_parquet_s") = scanFiltered("parquet", s"$base/pq")
    r("scan_filtered_dwrf_zlib_s") = scanFiltered("dwrf", s"$base/dw-zlib")
    // sorted-layout evidence: same data written with sort.columns, then
    // the partkey range scan on natural vs sorted layout. At this file
    // size wall time is job-overhead-bound, so the load-bearing numbers
    // are the deterministic I/O counts: rows the stride index let
    // through (superset semantics) under the identical range predicate.
    r("write_dwrf_sorted_s") = writeTo("dwrf", s"$base/dw-sorted",
      Map("compress" -> "ZLIB", "sort.columns" -> "l_partkey"))
    scanPartkey(spark, s"$base/dw-zlib"); scanPartkey(spark, s"$base/dw-sorted")
    r("scan_partkey_natural_s") = scanPartkey(spark, s"$base/dw-zlib")
    r("scan_partkey_sorted_s") = scanPartkey(spark, s"$base/dw-sorted")
    val (nNat, sNat, pNat) = partkeyRowsSurfaced(s"$base/dw-zlib")
    val (nSrt, sSrt, pSrt) = partkeyRowsSurfaced(s"$base/dw-sorted")
    r("partkey_rows_surfaced_natural") = nNat
    r("partkey_rows_surfaced_sorted") = nSrt
    r("partkey_strides_skipped_natural") = sNat
    r("partkey_strides_skipped_sorted") = sSrt
    r("partkey_stripes_skipped_natural") = pNat
    r("partkey_stripes_skipped_sorted") = pSrt

    val json = r.map {
      case (k, v: Double) => s""""$k":${math.round(v * 1000) / 1000.0}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    println(json)
    spark.stop()
  }

  /** ~100× pressure without an sf1 fixture: 16 key-perturbed copies of
    * sf0.1 lineitem (~9.6M rows) through the dwrf writer with a 64 MB
    * stripe budget, 8 writer tasks (~1.2M rows / >100 MB raw each, so
    * every task crosses the budget several times). Footer audit then
    * asserts the A4 flush policy held: >1 stripe per file and no stripe's
    * on-disk footprint above the raw budget (compressed stripes must land
    * UNDER the raw-bytes trigger; blowing past it means buffered memory
    * wasn't bounded).
    */
  private def runScale(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.sources.dwrf.{DwrfFileReader, DwrfUtil}
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path

    val copies = 16
    val stripeBytes = 64L * 1024 * 1024
    val base = graft.queries.Staging.root.resolve("fmt-bench").toString
    val path = s"$base/scale-dwrf"

    val li = Tables.load(spark, sfDir, "lineitem")
    val big = (0 until copies).map { i =>
      li.withColumn("l_orderkey", $"l_orderkey" + lit(i.toLong * 100000000L))
    }.reduce(_ unionAll _)
      .repartition(8) // 8 big files: each task must flush repeatedly
      .cache()
    val nRows = big.count() // materialize: time the writer, not the source

    // fresh slate: a prior run's snapshot log (from the DML rehearsal
    // below) would otherwise turn this overwrite into a log commit that
    // retains last run's files and shifts the rehearsal's version
    // numbers — the stress measures a cold table, not accumulated history
    {
      val fs = new Path(path).getFileSystem(
        graft.sources.dwrf.DwrfUtil.sessionHadoopConf())
      fs.delete(new Path(path), true)
    }

    val (tWrite, _) = time {
      big.write.format("dwrf").mode("overwrite")
        .option("compress", "ZLIB")
        .option("stripe.size", stripeBytes.toString)
        .save(path)
    }
    // parquet at the same 16× scale, from the same cached input: the
    // parity claim must hold under pressure, not just at 600k rows
    val pqPath = s"$base/scale-pq"
    val (tWritePq, _) = time {
      big.write.mode("overwrite").parquet(pqPath)
    }
    big.unpersist()

    // footer audit across every data file written
    val conf = new Configuration()
    val files = DwrfUtil.listDataFiles(new Path(path), conf)
    var nStripes = 0
    var maxStripeBytes = 0L
    var maxStripeRows = 0L
    var minStripesPerFile = Int.MaxValue
    var rawBytes = 0L
    files.foreach { p =>
      val rdr = new DwrfFileReader(p, conf)
      try {
        val f = rdr.footer
        rawBytes += f.rawDataSize
        minStripesPerFile = math.min(minStripesPerFile, f.stripes.size)
        f.stripes.foreach { si =>
          nStripes += 1
          maxStripeBytes = math.max(maxStripeBytes,
            si.indexLength + si.dataLength + si.footerLength)
          maxStripeRows = math.max(maxStripeRows, si.numRows)
        }
      } finally rdr.close()
    }
    val bounded = minStripesPerFile > 1 && maxStripeBytes <= stripeBytes

    scanAgg(spark, "dwrf", path); scanFiltered(spark, "dwrf", path) // warm cache
    val tScan = scanAgg(spark, "dwrf", path)
    val tFiltered = scanFiltered(spark, "dwrf", path)
    scanAgg(spark, "parquet", pqPath); scanFiltered(spark, "parquet", pqPath)
    val tScanPq = scanAgg(spark, "parquet", pqPath)
    val tFilteredPq = scanFiltered(spark, "parquet", pqPath)

    def mb(b: Long): Double = b / 1e6
    val r = scala.collection.immutable.ListMap[String, Any](
      "rows" -> nRows,
      "files" -> files.size,
      "raw_mb" -> mb(rawBytes),
      "disk_mb" -> mb(dirSize(path)),
      "write_s" -> tWrite,
      "write_raw_mb_s" -> mb(rawBytes) / tWrite,
      "scan_agg_s" -> tScan,
      "scan_raw_mb_s" -> mb(rawBytes) / tScan,
      "scan_filtered_s" -> tFiltered,
      "pq_disk_mb" -> mb(dirSize(pqPath)),
      "pq_write_s" -> tWritePq,
      "pq_scan_agg_s" -> tScanPq,
      "pq_scan_filtered_s" -> tFilteredPq,
      "n_stripes" -> nStripes,
      "min_stripes_per_file" -> minStripesPerFile,
      "max_stripe_mb" -> mb(maxStripeBytes),
      "max_stripe_rows" -> maxStripeRows,
      "stripe_budget_mb" -> mb(stripeBytes),
      "stripe_bounded" -> bounded)

    // DML rehearsal at the same 9.6M rows: a copy-on-write DELETE whose
    // predicate (l_quantity = 25, ~2% of rows) hits EVERY file — the
    // worst case: no file escapes on stats, all ~660 raw MB decode,
    // filter, and re-encode through the manifest swap. Invariants:
    // exactly the matching rows vanish, nothing else moves.
    val expectDel = spark.read.format("dwrf").load(path)
      .filter($"l_quantity" === 25.0).count()
    val (tDelete, delRes) = time {
      graft.sources.dwrf.DwrfDelete.deleteWhere(spark, path,
        spark.read.format("dwrf").load(path).schema,
        Array(org.apache.spark.sql.sources.EqualTo("l_quantity", 25.0)))
    }
    val afterRows = spark.read.format("dwrf").load(path).count()
    require(delRes.rowsDeleted == expectDel &&
      afterRows == nRows - expectDel,
      s"scale DELETE mismatch: expected $expectDel deleted, " +
        s"got ${delRes.rowsDeleted}; rows $nRows -> $afterRows")
    require(delRes.filesRewritten + delRes.filesDeleted > 0,
      "scale DELETE touched no files — predicate fixture broken")

    // Snapshot-log rehearsal at the same scale: enable the log on the
    // post-delete table, run the SAME worst-case copy-on-write DELETE
    // (every file decodes + rewrites) in log mode, then time-travel and
    // vacuum. Invariants: the pre-delete version stays exactly readable
    // at 9.4M rows, the commit is one manifest (log overhead must be
    // noise against the rewrite), and vacuum physically reclaims every
    // replaced input. This is the "per-TABLE atomicity costs nothing at
    // scale" measurement behind the DwrfLog design.
    import org.apache.hadoop.fs.Path
    val hconf = graft.sources.dwrf.DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    graft.sources.dwrf.DwrfLog.enable(root, hconf)
    val expectDel2 = spark.read.format("dwrf").load(path)
      .filter($"l_quantity" === 30.0).count()
    val (tDeleteLog, delRes2) = time {
      graft.sources.dwrf.DwrfDelete.deleteWhere(spark, path,
        spark.read.format("dwrf").load(path).schema,
        Array(org.apache.spark.sql.sources.EqualTo("l_quantity", 30.0)))
    }
    val v0Rows = spark.read.format("dwrf")
      .option("versionAsOf", 0).load(path).count()
    val curRows = spark.read.format("dwrf").load(path).count()
    require(delRes2.rowsDeleted == expectDel2 && v0Rows == afterRows &&
      curRows == afterRows - expectDel2,
      s"snapshot DELETE mismatch: deleted ${delRes2.rowsDeleted}/$expectDel2, " +
        s"v0 $v0Rows (want $afterRows), current $curRows")
    val (tVacuum, vac) = time {
      graft.sources.dwrf.DwrfLog.vacuum(root, hconf, retainLast = 1)
    }
    require(vac.dataFilesDeleted > 0 &&
      spark.read.format("dwrf").load(path).count() == curRows,
      s"vacuum broke the live set: $vac")

    val r2 = r ++ scala.collection.immutable.ListMap[String, Any](
      "delete_s" -> tDelete,
      "delete_rows" -> delRes.rowsDeleted,
      "delete_files_rewritten" -> delRes.filesRewritten,
      "delete_rewrite_raw_mb_s" -> mb(rawBytes) / tDelete,
      "log_delete_s" -> tDeleteLog,
      "log_delete_rows" -> delRes2.rowsDeleted,
      "log_vacuum_s" -> tVacuum,
      "log_vacuum_files" -> vac.dataFilesDeleted)
    val json = r2.map {
      case (k, v: Double) => s""""$k":${math.round(v * 1000) / 1000.0}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    println(json)
    require(bounded, s"A4 stripe flush policy violated: " +
      s"min stripes/file $minStripesPerFile, max stripe ${mb(maxStripeBytes)} MB " +
      s"vs budget ${mb(stripeBytes)} MB")
  }
}
