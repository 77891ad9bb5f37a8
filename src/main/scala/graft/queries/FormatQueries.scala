package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver-checkable queries that exercise the DWRF-style format end to end:
  * parquet source → `.write.format("dwrf")` → read back → aggregate. The
  * DuckDB oracle computes the same aggregate from the original parquet, so
  * a hash match proves the round trip is lossless (FIXTURES.md §F7 flow).
  */
object FormatQueries extends QueryPack {

  private def ioDir(table: String, dir: String): String =
    s"/root/repo/target/dwrf-io/$table-${Integer.toHexString(dir.hashCode)}"

  /** Memoized fixture staging via [[Staging.once]]: a staged layout that
    * is a pure function of (source table, writer code) writes once per
    * dataset generation AND code epoch instead of on every bench pass
    * and Verify run — the queries measure their SCAN/JOIN shape, not
    * repeated fixture I/O, and a write-path fix always restages. The
    * `_staged` marker is invisible to data listings and vanishes with
    * any plain overwrite of the dir.
    */
  private def staged(dir: String, out: String, srcTable: String,
      write: () => Unit): Unit =
    Staging.once(java.nio.file.Paths.get(out, "_staged"),
      Staging.sourceKey(new java.io.File(s"$dir/$srcTable.parquet"))) {
      write()
    }

  /** Write `table` to dwrf, read it back. */
  private def viaDwrf(s: SparkSession, dir: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val out = ioDir(table, dir)
    val w = Tables.load(s, dir, table).write.format("dwrf").mode("overwrite")
    options.foreach { case (k, v) => w.option(k, v) }
    w.save(out)
    s.read.format("dwrf").load(out)
  }

  // Full Q1-style aggregate over the round-tripped lineitem: exercises
  // long/int/double/string/timestamp writers+readers at 60k-600k rows.
  private def rtLineitem(s: SparkSession, dir: String): DataFrame = {
    viaDwrf(s, dir, "lineitem", Map("compress" -> "ZLIB"))
      .createOrReplaceTempView("lineitem_dwrf")
    s.sql(s"""
      |SELECT l_returnflag, l_linestatus,
      |  ${dsum("l_quantity")} AS sum_qty,
      |  ${dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
      |  COUNT(*) AS count_order,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
      |FROM lineitem_dwrf
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin.trim)
  }

  private val rtLineitemOracle = s"""
    |SELECT l_returnflag, l_linestatus,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
    |  COUNT(*) AS count_order,
    |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
    |FROM lineitem
    |GROUP BY l_returnflag, l_linestatus
    |ORDER BY l_returnflag, l_linestatus
    |""".stripMargin.trim

  // Footer-stats aggregate pushdown end to end: the ungrouped,
  // unfiltered COUNT/MIN/MAX over the round-tripped orders table plans
  // as a driver-side LocalScan (SupportsPushDownAggregates) — zero data
  // pages read — and still hash-matches DuckDB computing the same
  // aggregates the hard way from the original parquet. The assert makes
  // the plan shape part of the correctness contract: if pushdown
  // regresses to a distributed scan, this query FAILS rather than
  // silently keeping the slow path.
  private def footerAgg(s: SparkSession, dir: String): DataFrame = {
    val back = viaDwrf(s, dir, "orders")
    val agg = back.agg(
      count(lit(1)).as("n_orders"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      count(col("o_orderstatus")).as("n_status"),
      min(col("o_orderpriority")).as("min_prio"),
      max(col("o_orderpriority")).as("max_prio"),
      min(col("o_orderdate")).as("min_date"),
      max(col("o_orderdate")).as("max_date"),
      // double MIN/MAX rides the footer too — sound because the writer's
      // NaN-poisoned doubleSum proves each file NaN-free (noNaNEverywhere)
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"))
    require(plansAsLocalScan(agg),
      s"footer aggregate must plan as a LocalScan, got:\n${agg.queryExecution.executedPlan}")
    agg
  }

  /** True when the executed plan answers from a LocalTableScan — the
    * footer-aggregate pushdown collapsed the scan to driver metadata.
    */
  private def plansAsLocalScan(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan
    (p +: p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }).flatMap(_.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }).nonEmpty
  }

  private val footerAggOracle = """
    |SELECT COUNT(*) AS n_orders,
    |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
    |  COUNT(o_orderstatus) AS n_status,
    |  MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio,
    |  MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
    |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    |FROM orders
    |""".stripMargin.trim

  // Timestamp + low-cardinality strings (dictionary path once M4 lands).
  private def rtEvents(s: SparkSession, dir: String): DataFrame = {
    viaDwrf(s, dir, "events", Map("compress" -> "SNAPPY"))
      .createOrReplaceTempView("events_dwrf")
    s.sql(s"""
      |SELECT event_type, COUNT(*) AS n_events,
      |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ${dsum("value")} AS total_value
      |FROM events_dwrf
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin.trim)
  }

  private val rtEventsOracle = s"""
    |SELECT event_type, COUNT(*) AS n_events,
    |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
    |  COUNT(DISTINCT user_id) AS n_users,
    |  ${dsum("value")} AS total_value
    |FROM events
    |GROUP BY event_type
    |ORDER BY event_type
    |""".stripMargin.trim

  // Hive-style partitioned layout end to end: write orders partitioned
  // by o_orderpriority (5 directories), read back with the partition
  // column spliced in from the path, aggregate WITH a partition filter —
  // so directory pruning, constant splicing, and the data columns all
  // have to be right for the hash to match the flat-parquet oracle.
  private def rtPartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = ioDir("orders-part", dir)
    Tables.load(s, dir, "orders")
      .repartition($"o_orderpriority") // one file per partition dir
      .write.format("dwrf").partitionBy("o_orderpriority")
      .mode("overwrite").save(out)
    s.read.format("dwrf").load(out)
      .filter($"o_orderpriority" <= "3-MEDIUM")
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        expr(dsum("o_totalprice")).as("total_price"),
        min($"o_orderdate").as("first_date"),
        max($"o_orderdate").as("last_date"))
      .orderBy($"o_orderpriority", $"o_orderstatus")
  }

  private val rtPartitionedOracle = s"""
    |SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
    |  ${dsum("o_totalprice")} AS total_price,
    |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
    |FROM orders
    |WHERE o_orderpriority <= '3-MEDIUM'
    |GROUP BY o_orderpriority, o_orderstatus
    |ORDER BY o_orderpriority, o_orderstatus
    |""".stripMargin.trim

  // Storage-partitioned join end to end (SupportsReportPartitioning):
  // customer and supplier both land dwrf-partitioned by nationkey, and
  // with V2 bucketing on (broadcast suppressed to force the issue) the
  // per-nation join + rollup plans with ZERO shuffle exchanges — the
  // KeyGroupedPartitioning both scans report makes the directory layout
  // itself the exchange. The plan shape is REQUIREd as part of the
  // correctness contract: at 100 TB the win is a whole fact-fact shuffle
  // that never happens, and a silent regression to shuffle-join would
  // still hash-match — only the gate makes it visible.
  private def spjJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val custDir = ioDir("customer-spj", dir)
    val suppDir = ioDir("supplier-spj", dir)
    staged(dir, custDir, "customer", () =>
      Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal", $"c_nationkey".as("nationkey"))
        .repartition($"nationkey") // one file per partition dir
        .write.format("dwrf").partitionBy("nationkey").mode("overwrite")
        .save(custDir))
    staged(dir, suppDir, "supplier", () =>
      Tables.load(s, dir, "supplier")
        .select($"s_suppkey", $"s_acctbal", $"s_nationkey".as("nationkey"))
        .repartition($"nationkey")
        .write.format("dwrf").partitionBy("nationkey").mode("overwrite")
        .save(suppDir))
    // the SPJ plan must MATERIALIZE under these session overrides (a
    // lazily-returned frame would re-plan under whatever confs the
    // caller runs with), so the 25-row rollup is computed here and
    // returned local; every conf is restored before returning
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val cust = s.read.format("dwrf").load(custDir)
      val supp = s.read.format("dwrf").load(suppDir)
      val rolled = cust.join(supp, "nationkey")
        .groupBy($"nationkey")
        .agg(count(lit(1)).as("n_pairs"),
          expr(dsum("c_acctbal + s_acctbal")).as("total_bal"))
      val plan = rolled.queryExecution.executedPlan
      val expanded =
        plan +: plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      val nShuffles =
        expanded.map(_.collect { case x: ShuffleExchangeExec => x }.size).sum
      require(nShuffles == 0,
        s"storage-partitioned join must plan with zero shuffles, found " +
          s"$nShuffles:\n$plan")
      val rows = rolled.orderBy($"nationkey").collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private val spjJoinOracle = s"""
    |SELECT c_nationkey AS nationkey, COUNT(*) AS n_pairs,
    |  ${dsum("c_acctbal + s_acctbal")} AS total_bal
    |FROM customer JOIN supplier ON c_nationkey = s_nationkey
    |GROUP BY c_nationkey
    |ORDER BY nationkey
    |""".stripMargin.trim

  // SQL DELETE FROM on a dwrf catalog table, both tiers REQUIREd
  // (graft.sources.dwrf.DwrfDelete): a partition-column DELETE must
  // remove whole directories without touching any kept file
  // (byte-identical file listing — the stats fast path never decodes),
  // then a data-column DELETE must copy-on-write exactly the files
  // containing matches. The surviving table aggregates hash-exact
  // against DuckDB computing the same rollup over orders with both
  // delete conditions negated.
  private def deleteScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.dwrf.DwrfUtil
    import org.apache.hadoop.fs.Path
    val out = ioDir("orders-del", dir)
    val tbl = s"graft_del_orders_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val fs = new Path(out).getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Tables.load(s, dir, "orders")
      .repartition($"o_orderpriority") // one file per partition dir
      .write.format("dwrf").partitionBy("o_orderpriority")
      .mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out'")
    try {
      def listing: Set[(String, Long, Long)] =
        DwrfUtil.listDataFileStatuses(new Path(out), conf)
          .map(st => (st.getPath.toString, st.getLen,
            st.getModificationTime)).toSet
      val before = listing
      s.sql(s"DELETE FROM $tbl WHERE o_orderpriority = '5-LOW'")
      val afterPart = listing
      require(afterPart == before.filterNot(_._1.contains("o_orderpriority=5-LOW")),
        "partition DELETE must drop exactly the 5-LOW directory files and " +
          s"leave every kept file byte-identical:\n$before\nvs\n$afterPart")
      s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'P'")
      val afterRow = listing
      require(afterRow.exists(_._1.contains("/delete-")),
        s"data-column DELETE must promote copy-on-write rewrites:\n$afterRow")
      val rolled = s.sql(s"""
        |SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
        |  ${dsum("o_totalprice")} AS total_price
        |FROM $tbl
        |GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus
        |""".stripMargin.trim)
      val rows = rolled.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val deleteScanOracle = s"""
    |SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
    |  ${dsum("o_totalprice")} AS total_price
    |FROM orders
    |WHERE o_orderpriority <> '5-LOW' AND o_orderstatus <> 'P'
    |GROUP BY o_orderpriority, o_orderstatus
    |ORDER BY o_orderpriority, o_orderstatus
    |""".stripMargin.trim

  // SQL MERGE INTO on a dwrf catalog table — the group-based
  // copy-on-write route (SupportsRowLevelOperations): one statement
  // carrying matched-DELETE, matched-UPDATE and not-matched-INSERT
  // actions against a changes feed derived deterministically from the
  // customer table (nation 5 → balance credit, nation 7 → re-keyed
  // insert, nation 9 → delete). The query REQUIREs a promoted rlo-*
  // rewrite file (the copy-on-write actually ran) and the post-merge
  // rollup hash-matches DuckDB computing the same upsert arithmetic
  // from the source table.
  private def mergeScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = Integer.toHexString(dir.hashCode)
    val out = ioDir("customer-merge", dir)
    val tbl = s"graft_merge_cust_$tag"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out'")
    try {
      Tables.load(s, dir, "customer")
        .filter($"c_nationkey".isin(5, 7, 9))
        .select(
          when($"c_nationkey" === 7, $"c_custkey" + 1000000L)
            .otherwise($"c_custkey").as("id"),
          $"c_nationkey".as("nk"), $"c_acctbal".as("bal"),
          when($"c_nationkey" === 5, "upd")
            .when($"c_nationkey" === 7, "ins")
            .otherwise("del").as("op"))
        .createOrReplaceTempView(s"merge_changes_$tag")
      s.sql(s"""
        |MERGE INTO $tbl t USING merge_changes_$tag c ON t.c_custkey = c.id
        |WHEN MATCHED AND c.op = 'del' THEN DELETE
        |WHEN MATCHED AND c.op = 'upd' THEN UPDATE
        |  SET c_acctbal = t.c_acctbal + 100
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_nationkey, c_acctbal)
        |  VALUES (c.id, c.nk, c.bal)
        |""".stripMargin.trim)
      val files = graft.sources.dwrf.DwrfUtil.listDataFiles(
        new org.apache.hadoop.fs.Path(out),
        graft.sources.dwrf.DwrfUtil.sessionHadoopConf())
      require(files.exists(_.getName.startsWith("rlo-")),
        s"MERGE must promote copy-on-write rewrite files, saw: " +
          files.map(_.getName).mkString(", "))
      val rolled = s.sql(s"""
        |SELECT c_nationkey, COUNT(*) AS n_cust,
        |  ${dsum("c_acctbal")} AS total_bal
        |FROM $tbl
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey
        |""".stripMargin.trim)
      val rows = rolled.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val mergeScanOracle = s"""
    |WITH after AS (
    |  SELECT c_custkey, c_nationkey,
    |    CASE WHEN c_nationkey = 5 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
    |  FROM customer WHERE c_nationkey <> 9
    |  UNION ALL
    |  SELECT c_custkey + 1000000, c_nationkey, c_acctbal
    |  FROM customer WHERE c_nationkey = 7)
    |SELECT c_nationkey, COUNT(*) AS n_cust, ${dsum("c_acctbal")} AS total_bal
    |FROM after
    |GROUP BY c_nationkey
    |ORDER BY c_nationkey
    |""".stripMargin.trim

  // Column projection + filter over the dwrf scan (P1: only the three
  // needed columns' streams are read).
  private def rtProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    viaDwrf(s, dir, "part")
      .filter($"p_size" < 20)
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        expr(dsum("p_retailprice")).as("total_retail"))
      .orderBy($"p_brand")
  }

  private val rtProjectionOracle = s"""
    |SELECT p_brand, COUNT(*) AS n_parts, ${dsum("p_retailprice")} AS total_retail
    |FROM part
    |WHERE p_size < 20
    |GROUP BY p_brand
    |ORDER BY p_brand
    |""".stripMargin.trim

  // Vectorized filtered scan: lineitem written sorted by l_orderkey (range
  // partitioned per file, sorted within) so the range predicate maps to
  // contiguous stride runs; the flat projection keeps the scan on the
  // columnar path, which seeks decoders past skipped strides. At 100 TB
  // this is the common shape: filter + narrow projection, batches only
  // from surviving strides.
  private def rtFilterColumnar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = ioDir("lineitem_sorted", dir)
    Tables.load(s, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_returnflag")
      .repartitionByRange(4, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "2048").save(out)
    s.read.format("dwrf").load(out)
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 3000L)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        expr(dsum("l_quantity")).as("sum_qty"),
        expr(dsum("l_extendedprice")).as("sum_price"))
      .orderBy($"l_returnflag")
  }

  private val rtFilterColumnarOracle = s"""
    |SELECT l_returnflag, COUNT(*) AS n_items,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice")} AS sum_price
    |FROM lineitem
    |WHERE l_orderkey BETWEEN 1000 AND 3000
    |GROUP BY l_returnflag
    |ORDER BY l_returnflag
    |""".stripMargin.trim

  // Z-ordered layout end to end under the driver's oracle: lineitem is
  // written clustered by z_order(l_partkey, l_suppkey) — range-split
  // across files on z, sorted within each task by `sort.columns` through
  // the DSv2 write contract — then a range scan on EACH axis must
  // stride-skip. The audit require()s the surfaced-row counts: if the
  // sorted write or the stride stats regress, Verify FAILS the query
  // instead of silently reading everything. The same two range
  // aggregates hash-match DuckDB computing them from the original
  // parquet, so the z-clustered bytes are also proven lossless. Band
  // bounds are the low 1/16 of each key's observed domain, derived from
  // the data so query and oracle stay SF-independent.
  private def rtZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val out = ioDir("lineitem_zorder", dir)
    val src = Tables.load(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
    val (pkMax, skMax, _) = zorderDomain(src)
    val (pkHi, skHi) = (pkMax / 16, skMax / 16)
    // interleave SCALED keys: each dimension is normalized to 0..255
    // before the Morton code (the rank/scale step every production
    // z-order does) — raw interleave would let the wider domain's extra
    // high bits dominate the sort and the narrow axis would never skip
    staged(dir, out, "lineitem", () =>
      src.withColumn("z", expr(
          s"z_order(l_partkey * 256L DIV ${pkMax + 1}, " +
            s"l_suppkey * 256L DIV ${skMax + 1})"))
        .repartitionByRange(4, $"z")
        .write.format("dwrf").mode("overwrite")
        .option("row.index.stride", "1024")
        .option("sort.columns", "z")
        .save(out))
    val back = s.read.format("dwrf").load(out)
    def band(name: String, cond: org.apache.spark.sql.Column) =
      back.filter(cond).agg(
        count(lit(1)).as("n_rows"),
        expr(dsum("l_quantity")).as("sum_qty"),
        expr(dsum("l_extendedprice")).as("sum_price"))
      .select(lit(name).as("axis"), $"n_rows", $"sum_qty", $"sum_price")
    band("partkey_band", $"l_partkey" <= pkHi)
      .union(band("suppkey_band", $"l_suppkey" <= skHi))
      .orderBy($"axis")
  }

  /** (max l_partkey, max l_suppkey, row count): the z-order scaling
    * domain; each axis's band is the low 1/16 of its domain. */
  private def zorderDomain(src: DataFrame): (Long, Long, Long) = {
    val r = src.agg(max(col("l_partkey")), max(col("l_suppkey")),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // Layout audit: two single-threaded driver decode passes
  // (surfacedRows) over the staged z-ordered files; the skip geometry is
  // also measured at scale in BenchFormats.
  private def rtZorderAudit(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.sources.LessThanOrEqual
    val out = ioDir("lineitem_zorder", dir)
    val (pkMax, skMax, total) = zorderDomain(Tables.load(s, dir, "lineitem"))
    val (pkHi, skHi) = (pkMax / 16, skMax / 16)
    val (pkRows, pkSkip, _) = graft.sources.dwrf.DwrfUtil.surfacedRows(
      out, "l_partkey", Seq(LessThanOrEqual("l_partkey", pkHi)))
    val (skRows, skSkip, _) = graft.sources.dwrf.DwrfUtil.surfacedRows(
      out, "l_suppkey", Seq(LessThanOrEqual("l_suppkey", skHi)))
    // the band selects ~1/16 of rows; ≤1/4 surfaced allows generous
    // stride-boundary overhang while still failing loudly if the sorted
    // write or the stride stats regress to reading everything. The
    // 4-stride floor keeps the bound meaningful at tiny SFs where the
    // whole table is only a handful of strides.
    val cap = math.max(total / 4, 4 * 1024L)
    // the strides-skipped>0 assertion needs enough strides for the z
    // geometry to exist at all (a ~6-stride sf0.001 table has no
    // sub-quad to skip); the row cap always applies
    val enoughStrides = total >= 16 * 1024L
    require(pkRows <= cap && (!enoughStrides || pkSkip > 0),
      s"z-ordered scan must stride-skip on l_partkey: " +
        s"surfaced $pkRows of $total rows (cap $cap), $pkSkip strides skipped")
    require(skRows <= cap && (!enoughStrides || skSkip > 0),
      s"z-ordered scan must stride-skip on l_suppkey: " +
        s"surfaced $skRows of $total rows (cap $cap), $skSkip strides skipped")
  }

  private val rtZorderOracle = s"""
    |WITH b AS (
    |  SELECT CAST(FLOOR(MAX(l_partkey) / 16) AS BIGINT) AS pk_hi,
    |         CAST(FLOOR(MAX(l_suppkey) / 16) AS BIGINT) AS sk_hi
    |  FROM lineitem)
    |SELECT 'partkey_band' AS axis, COUNT(*) AS n_rows,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice")} AS sum_price
    |FROM lineitem, b WHERE l_partkey <= b.pk_hi
    |UNION ALL
    |SELECT 'suppkey_band' AS axis, COUNT(*) AS n_rows,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice")} AS sum_price
    |FROM lineitem, b WHERE l_suppkey <= b.sk_hi
    |ORDER BY axis
    |""".stripMargin.trim

  // Nested struct/array/map shapes through the format (FIXTURES F2 shape
  // over real data), flattened back for the SQL oracle.
  private def rtNested(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nested = Tables.load(s, dir, "lineitem").select(
      struct($"l_orderkey".as("ok"), $"l_quantity".as("q")).as("st"),
      array($"l_partkey", $"l_suppkey").as("arr"),
      map(lit("disc"), $"l_discount").as("m"),
      $"l_returnflag")
    val out = ioDir("lineitem_nested", dir)
    nested.write.format("dwrf").mode("overwrite").save(out)
    s.read.format("dwrf").load(out).createOrReplaceTempView("nested_dwrf")
    s.sql(s"""
      |SELECT l_returnflag,
      |  COUNT(*) AS n,
      |  CAST(SUM(st.ok) AS BIGINT) AS sum_ok,
      |  ${dsum("st.q")} AS sum_q,
      |  CAST(SUM(arr[0]) AS BIGINT) AS sum_part,
      |  CAST(SUM(arr[1]) AS BIGINT) AS sum_supp,
      |  ${dsum("m['disc']")} AS sum_disc
      |FROM nested_dwrf
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag
      |""".stripMargin.trim)
  }

  private val rtNestedOracle = s"""
    |SELECT l_returnflag,
    |  COUNT(*) AS n,
    |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
    |  ${dsum("l_quantity")} AS sum_q,
    |  CAST(SUM(l_partkey) AS BIGINT) AS sum_part,
    |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp,
    |  ${dsum("l_discount")} AS sum_disc
    |FROM lineitem
    |GROUP BY l_returnflag
    |ORDER BY l_returnflag
    |""".stripMargin.trim

  // UNION convention round trip (reference TestOrcFile.java:742
  // testUnionAndTimestamp): orders fanned into a 3-branch tagged union
  // (long | string | double), written+read through dwrf, then checked in
  // SQL for the exactly-one-non-null-branch invariant (n_wellformed must
  // equal n per tag) plus per-branch aggregates against the parquet
  // oracle.
  private def rtUnion(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.UnionConvention
    val out = ioDir("orders_union", dir)
    val tag = (col("o_orderkey") % 3).cast("int")
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey"),
        UnionConvention.tagged(tag,
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")).as("u"))
      .write.format("dwrf").mode("overwrite").save(out)
    s.read.format("dwrf").load(out).createOrReplaceTempView("union_dwrf")
    s.sql(s"""
      |SELECT CAST(u.tag AS INT) AS tag, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN ((u.tag = 0) = (u.c0 IS NOT NULL))
      |                 AND ((u.tag = 1) = (u.c1 IS NOT NULL))
      |                 AND ((u.tag = 2) = (u.c2 IS NOT NULL))
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_wellformed,
      |  CAST(SUM(u.c0) AS BIGINT) AS sum_i,
      |  MIN(u.c1) AS min_s, MAX(u.c1) AS max_s,
      |  ${dsum("u.c2")} AS sum_d
      |FROM union_dwrf
      |GROUP BY u.tag
      |ORDER BY tag
      |""".stripMargin.trim)
  }

  private val rtUnionOracle = s"""
    |SELECT CAST(o_orderkey % 3 AS INT) AS tag, COUNT(*) AS n,
    |  COUNT(*) AS n_wellformed,
    |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END) AS BIGINT) AS sum_i,
    |  MIN(CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus END) AS min_s,
    |  MAX(CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus END) AS max_s,
    |  ${dsum("CASE WHEN o_orderkey % 3 = 2 THEN o_totalprice END")} AS sum_d
    |FROM orders
    |GROUP BY o_orderkey % 3
    |ORDER BY tag
    |""".stripMargin.trim

  // Catalog route end to end: CTAS into a dwrf table, ALTER TABLE ADD
  // COLUMNS, a second INSERT generation carrying the new column, then
  // the aggregate reads BOTH generations THROUGH the session catalog
  // (no path option anywhere) — the route a SQL-first user takes,
  // including the schema-evolution step they hit early. Pre-ALTER files
  // read the added column as NULL (the format's absent-column readers),
  // so COUNT(gen) counts exactly the post-ALTER rows; a regression in
  // location resolution, catalog writes, or mixed-generation reads
  // fails here per round, not just in sbt.
  private def ddlScan(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir("ddl_scan", dir)
    // idempotent re-runs: clear the location before CTAS re-creates it
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .delete(p, true)
    s.sql("DROP TABLE IF EXISTS graft_ddl_supplier")
    Tables.load(s, dir, "supplier").createOrReplaceTempView("supplier_src")
    s.sql(s"""CREATE TABLE graft_ddl_supplier USING dwrf LOCATION '$out'
             |AS SELECT * FROM supplier_src""".stripMargin)
    s.sql("ALTER TABLE graft_ddl_supplier ADD COLUMNS (gen INT)")
    s.sql("""INSERT INTO graft_ddl_supplier
            |SELECT *, 2 AS gen FROM supplier_src
            |WHERE s_suppkey % 10 = 0""".stripMargin)
    s.sql("""
      |SELECT s_nationkey, COUNT(*) AS n_supp,
      |  COUNT(gen) AS n_gen2,
      |  CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal,
      |  MIN(s_name) AS min_name, MAX(s_name) AS max_name
      |FROM graft_ddl_supplier
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey
      |""".stripMargin.trim)
  }

  private val ddlScanOracle = """
    |WITH t AS (
    |  SELECT s_nationkey, s_acctbal, s_name, CAST(NULL AS INT) AS gen
    |  FROM supplier
    |  UNION ALL
    |  SELECT s_nationkey, s_acctbal, s_name, 2 AS gen
    |  FROM supplier WHERE s_suppkey % 10 = 0)
    |SELECT s_nationkey, COUNT(*) AS n_supp,
    |  COUNT(gen) AS n_gen2,
    |  CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal,
    |  MIN(s_name) AS min_name, MAX(s_name) AS max_name
    |FROM t
    |GROUP BY s_nationkey
    |ORDER BY s_nationkey
    |""".stripMargin.trim

  // Short-decimal round trip (beyond-reference: DWRF predates ORC
  // DECIMAL; unscaled values ride the long kernels, precision/scale come
  // from the Spark-native schema). Decimal columns derived by the SAME
  // cast expressions on both sides; aggregation happens in exact decimal
  // and only the OUTPUT drops to DOUBLE (the dsum convention — DuckDB's
  // pandas bridge floats every decimal, so decimal-typed outputs can't
  // hash-compare). A carry error anywhere in write → encode → decode
  // still shifts the exact sums and breaks the hash.
  private def rtDecimal(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir("decimal_rt", dir)
    Tables.load(s, dir, "orders")
      .selectExpr("o_orderstatus",
        "CAST(o_orderkey AS DECIMAL(15,2)) AS dk",
        "CAST(o_totalprice AS DECIMAL(18,6)) AS dp")
      .write.format("dwrf").mode("overwrite").save(out)
    s.read.format("dwrf").load(out).createOrReplaceTempView("orders_decimal")
    s.sql("""
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(dk) AS DOUBLE) AS sum_key,
      |  CAST(MIN(dk) AS DOUBLE) AS min_key,
      |  CAST(MAX(dk) AS DOUBLE) AS max_key,
      |  CAST(SUM(dp) AS DOUBLE) AS sum_price,
      |  CAST(MIN(dp) AS DOUBLE) AS min_price,
      |  CAST(MAX(dp) AS DOUBLE) AS max_price
      |FROM orders_decimal
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus
      |""".stripMargin.trim)
  }

  private val rtDecimalOracle = """
    |WITH d AS (
    |  SELECT o_orderstatus,
    |    CAST(o_orderkey AS DECIMAL(15,2)) AS dk,
    |    CAST(o_totalprice AS DECIMAL(18,6)) AS dp
    |  FROM orders)
    |SELECT o_orderstatus, COUNT(*) AS n,
    |  CAST(SUM(dk) AS DOUBLE) AS sum_key,
    |  CAST(MIN(dk) AS DOUBLE) AS min_key,
    |  CAST(MAX(dk) AS DOUBLE) AS max_key,
    |  CAST(SUM(dp) AS DOUBLE) AS sum_price,
    |  CAST(MIN(dp) AS DOUBLE) AS min_price,
    |  CAST(MAX(dp) AS DOUBLE) AS max_price
    |FROM d
    |GROUP BY o_orderstatus
    |ORDER BY o_orderstatus
    |""".stripMargin.trim

  // Per-file Bloom pruning end to end: customer written as 8 hash-
  // distributed files with bloom.columns=c_name (every file's min/max
  // spans the name domain, so ONLY the bloom can prune), then a 2-name
  // IN scan. The query REQUIRES that planning kept under half the files
  // — if bloom pruning regresses, this fails rather than silently
  // scanning everything — and the oracle hash proves the pruned scan
  // returns exactly the right rows.
  private def bloomScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val out = ioDir("bloom_scan", dir)
    val cust = Tables.load(s, dir, "customer")
    cust.repartition(8).write.format("dwrf").mode("overwrite")
      .option("bloom.columns", "c_name").save(out)
    // driver-side literal lookup (2 rows) so the IN pushes as a static
    // In filter — the shape a user's point query has
    val names = cust.filter(col("c_custkey").isin(1L, 42L))
      .select("c_name").collect().map(_.getString(0)).sorted
    val q = s.read.format("dwrf").load(out)
      .filter(col("c_name").isin(names.toSeq: _*))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
    val p = q.queryExecution.executedPlan
    val parts = (p +: p.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }).flatMap(_.collect { case b: BatchScanExec => b.inputPartitions.size }).sum
    require(parts > 0 && parts <= 4,
      s"bloom pruning must keep <= half of the 8 files, kept $parts")
    q
  }

  private val bloomScanOracle = """
    |SELECT c_custkey, c_name, c_mktsegment
    |FROM customer
    |WHERE c_name IN (SELECT c_name FROM customer WHERE c_custkey IN (1, 42))
    |ORDER BY c_custkey
    |""".stripMargin.trim

  // Per-STRIDE Bloom pruning end to end (bloom.stride, the in-file rung
  // below dwrf_bloom_scan's per-file pruning): lineitem staged as ONE
  // dwrf file sorted by l_partkey, so l_orderkey is scrambled by the
  // layout and every row-index stride's [min,max] spans ~the whole
  // orderkey domain — stats alone keep every stride. For a 3-key point
  // lookup the audit then REQUIREs that the BLOOM_FILTER index streams
  // refuted at least half the strides and that the surfaced volume
  // collapsed to ~the owning strides. At 100 TB this is what turns a key lookup
  // into ~one stride of I/O per surviving file instead of the whole
  // file. The oracle hash proves the pruned scan surfaces exactly the
  // right rows.
  private val BloomStrideRows = 2048

  /** The 3-key point lookup of dwrf_bloom_stride: lineitem's min, max
    * and middle l_orderkey, plus its row count. */
  private def bloomStrideKeys(s: SparkSession, dir: String): (Seq[Long], Long) = {
    val r = Tables.load(s, dir, "lineitem").agg(min(col("l_orderkey")),
      max(col("l_orderkey")), count(lit(1))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (Seq(lo, hi, (lo + hi) / 2), r.getLong(2))
  }

  private def bloomStride(s: SparkSession, dir: String): DataFrame = {
    val out = ioDir("bloom_stride", dir)
    val li = Tables.load(s, dir, "lineitem")
    staged(dir, out, "lineitem", () =>
      // cluster on hash(l_orderkey): one key's line items stay contiguous
      // (a lookup touches ~1 stride) while ADJACENT keys are unrelated,
      // so every stride's orderkey [min,max] still spans ~the whole
      // domain and stats cannot prune — only the blooms can
      li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus"))
        .coalesce(1)
        .sortWithinPartitions(hash(col("l_orderkey")), col("l_orderkey"))
        .write.format("dwrf").mode("overwrite")
        .option("bloom.columns", "l_orderkey")
        .option("bloom.fpp", "0.005")
        .option("row.index.stride", BloomStrideRows.toString)
        .save(out))
    val (keys, _) = bloomStrideKeys(s, dir)
    s.read.format("dwrf").load(out)
      .filter(col("l_orderkey").isin(keys: _*))
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // Bloom-refutation audit: a driver decode pass over the staged file;
  // the 2.56M-row skip geometry lives in BenchFormats/opscale_fmt64.
  private def bloomStrideAudit(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.sources.In
    val (keys, n) = bloomStrideKeys(s, dir)
    val numStrides = (n + BloomStrideRows - 1) / BloomStrideRows
    val (surfaced, skipped, _) = graft.sources.dwrf.DwrfUtil.surfacedRows(
      ioDir("bloom_stride", dir), "l_orderkey",
      Seq(In("l_orderkey", keys.toArray[Any])))
    require(skipped >= numStrides / 2,
      s"stride blooms must refute >= half of $numStrides strides, " +
        s"skipped $skipped (surfaced $surfaced rows)")
    require(surfaced <= 8L * BloomStrideRows,
      s"a 3-key lookup must surface ~3 strides, surfaced $surfaced rows")
  }

  private val bloomStrideOracle = """
    |WITH b AS (SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM lineitem)
    |SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
    |  l.l_returnflag, l.l_linestatus
    |FROM lineitem l, b
    |WHERE l.l_orderkey IN (b.lo, b.hi, (b.lo + b.hi) // 2)
    |ORDER BY l.l_orderkey, l.l_linenumber
    |""".stripMargin.trim

  // Small-file compaction (maintenance op over S3/S4): customer written
  // as 16 small files, compacted byte-wise one-group-per-task, then
  // aggregated. The query REQUIRES the file-count collapse — if
  // compaction silently stops merging, this fails rather than keeping a
  // correct-but-fragmented layout — and the oracle hash proves no row
  // was lost or duplicated through the delete-and-promote swap.
  private def rtCompact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfCompact, DwrfUtil}
    val out = ioDir("compact_many", dir)
    Tables.load(s, dir, "customer").repartition(16)
      .write.format("dwrf").mode("overwrite").save(out)
    val res = DwrfCompact.compact(s, out, targetBytes = 1L << 30)
    val after = DwrfUtil.listDataFiles(new Path(out), new Configuration()).length
    require(res.filesBefore == 16 && after == 1,
      s"compaction must collapse 16 small files to 1, got $res")
    s.read.format("dwrf").load(out).createOrReplaceTempView("customer_compact")
    s.sql(s"""
      |SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  ${dsum("c_acctbal")} AS total_bal,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  MIN(c_name) AS min_name, MAX(c_name) AS max_name
      |FROM customer_compact
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment
      |""".stripMargin.trim)
  }

  private val rtCompactOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal,
    |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
    |  MIN(c_name) AS min_name, MAX(c_name) AS max_name
    |FROM customer
    |GROUP BY c_mktsegment
    |ORDER BY c_mktsegment
    |""".stripMargin.trim

  // Raw-stripe concatenation (S3/S4): two dwrf datasets merged byte-wise
  // (no decode), then aggregated; the oracle computes the same from the
  // source parquet, so a hash match proves the merge is lossless.
  private def rtConcat(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import graft.sources.dwrf.{DwrfConcat, DwrfUtil}
    val custs = Tables.load(s, dir, "customer")
    val a = ioDir("concat_a", dir)
    val b = ioDir("concat_b", dir)
    val merged = ioDir("concat_merged", dir)
    custs.filter(col("c_custkey") % 2 === 0)
      .write.format("dwrf").mode("overwrite").save(a)
    custs.filter(col("c_custkey") % 2 =!= 0)
      .write.format("dwrf").mode("overwrite").save(b)
    val conf = new Configuration()
    val out = new Path(merged, "merged.dwrf")
    new Path(merged).getFileSystem(conf).mkdirs(new Path(merged))
    DwrfConcat.concat(out,
      DwrfUtil.listDataFiles(new Path(a), conf) ++
        DwrfUtil.listDataFiles(new Path(b), conf), conf)
    s.read.format("dwrf").load(out.toString)
      .createOrReplaceTempView("customer_concat")
    s.sql(s"""
      |SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  ${dsum("c_acctbal")} AS total_bal,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      |FROM customer_concat
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment
      |""".stripMargin.trim)
  }

  private val rtConcatOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal,
    |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    |FROM customer
    |GROUP BY c_mktsegment
    |ORDER BY c_mktsegment
    |""".stripMargin.trim

  // Snapshot log (DwrfLog): DELETE on a log-enabled table commits one
  // atomic manifest swap — the replaced files stay on disk, so the
  // pre-delete version remains readable (`versionAsOf`), and VACUUM
  // later reclaims the bytes past retention. The query proves all three
  // states against one oracle: the v0 rollup must equal the FULL
  // customer table (read through retained copy-on-write inputs), the
  // current rollup the filtered one — and it REQUIREs the version
  // advance, the retained inputs, and vacuum's physical reclaim, so a
  // log that silently degrades to directory semantics fails loud rather
  // than returning plausible rows.
  private def timeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("customer-tt", dir)
    val tbl = s"graft_tt_customer_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    Tables.load(s, dir, "customer").repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out'")
    try {
      DwrfLog.enable(root, conf)
      val filesBefore = DwrfUtil.listDataFiles(root, conf).map(_.toString).toSet
      s.sql(s"DELETE FROM $tbl WHERE c_mktsegment = 'BUILDING'")
      val v1 = DwrfLog.latest(root, conf).getOrElse(
        throw new IllegalStateException("snapshot log vanished"))
      require(v1.version == 1L && v1.op == "delete",
        s"DELETE must commit exactly one snapshot version, got $v1")
      require(filesBefore.subsetOf(
        DwrfUtil.listDataFiles(root, conf).map(_.toString).toSet),
        "copy-on-write inputs must stay on disk for time travel")
      def rollup(snapshot: String, df: DataFrame): DataFrame = {
        df.createOrReplaceTempView(s"${tbl}_v")
        s.sql(s"""
          |SELECT '$snapshot' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
          |  ${dsum("c_acctbal")} AS total_bal
          |FROM ${tbl}_v GROUP BY c_mktsegment
          |""".stripMargin.trim)
      }
      // v0 materializes BEFORE vacuum (its files are about to be dropped)
      val v0Rows = rollup("v0",
        s.read.format("dwrf").option("versionAsOf", 0).load(out)).collect()
      val vac = DwrfLog.vacuum(root, conf, retainLast = 1)
      require(vac.dataFilesDeleted > 0 && vac.manifestsDeleted == 1,
        s"vacuum must reclaim the replaced v0 files, got $vac")
      val curRolled = rollup("current", s.read.format("dwrf").load(out))
      val cur = curRolled.collect()
      val schema = curRolled.schema
      s.createDataFrame(
        java.util.Arrays.asList((v0Rows ++ cur): _*), schema)
        .orderBy($"snapshot", $"c_mktsegment")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val timeTravelOracle = s"""
    |SELECT 'v0' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal
    |FROM customer GROUP BY c_mktsegment
    |UNION ALL
    |SELECT 'current' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal
    |FROM customer WHERE c_mktsegment <> 'BUILDING' GROUP BY c_mktsegment
    |ORDER BY snapshot, c_mktsegment
    |""".stripMargin.trim

  // Merge-on-read DELETE (delete vectors): a catalog table opting into
  // delete.mode=merge-on-read takes a SQL DELETE as positional sidecar
  // rebindings in ONE atomic log commit — and the query REQUIREs the
  // merge-on-read contract a 100 TB point-delete lives on: (a) every
  // data file byte-identical and mtime-identical after the DELETE (no
  // rewrite happened), (b) the op=delete-mor version advance with at
  // least one DV bound, (c) the sidecar bytes a small fraction of the
  // data bytes (cost ∝ rows deleted, not rows stored). The rollup over
  // the masked scan then hash-matches DuckDB applying the negated
  // condition to the source parquet — the masking is provably exact.
  private def dvScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfDv, DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("customer-dv", dir)
    val tbl = s"graft_dv_customer_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    Tables.load(s, dir, "customer").repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out' " +
      s"TBLPROPERTIES ('${DwrfDv.DeleteModeKey}'='${DwrfDv.ModeMergeOnRead}')")
    try {
      DwrfLog.enable(root, conf)
      def stamps() = DwrfUtil.listDataFileStatuses(root, conf)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
      val before = stamps()
      val dataBytes = before.toSeq.map(_._2).sum
      s.sql(s"DELETE FROM $tbl WHERE c_mktsegment = 'BUILDING'")
      require(stamps() == before,
        "merge-on-read DELETE must not rewrite or remove any data file")
      val v1 = DwrfLog.latest(root, conf).getOrElse(
        throw new IllegalStateException("snapshot log vanished"))
      require(v1.version == 1L && v1.op == "delete-mor" && v1.dvs.nonEmpty,
        s"DELETE must commit one op=delete-mor version with DVs, got $v1")
      val dvBytes = v1.dvs.values.map(rel =>
        fs.getFileStatus(new Path(root, rel)).getLen).sum
      require(dvBytes * 10 < dataBytes,
        s"delete vectors must be small vs the data ($dvBytes B vs $dataBytes B)")
      // materialize before the finally's DROP TABLE unbinds the name
      val rolled = s.sql(s"""
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  ${dsum("c_acctbal")} AS total_bal,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM $tbl GROUP BY c_mktsegment ORDER BY c_mktsegment
        |""".stripMargin.trim)
      val rows = rolled.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
        .orderBy(col("c_mktsegment"))
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val dvScanOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal,
    |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    |FROM customer WHERE c_mktsegment <> 'BUILDING'
    |GROUP BY c_mktsegment ORDER BY c_mktsegment
    |""".stripMargin.trim

  // COUNT(*) keeps its zero-I/O metadata answer even while merge-on-read
  // deletes hold delete vectors: per-file live rows = footer numRows −
  // DV cardinality, both planning-time (footers + DV sidecars, no data
  // page). Every OTHER footer aggregate must refuse the shortcut — the
  // stats still describe the masked rows — so the negative gate pins
  // the distributed fallback for MIN, the positive gate pins the
  // LocalScan plan for COUNT(*), and the oracle pins the value.
  private def dvCount(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfDv, DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("customer-dvcount", dir)
    val tbl = s"graft_dvcount_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    Tables.load(s, dir, "customer").repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out' " +
      s"TBLPROPERTIES ('${DwrfDv.DeleteModeKey}'='${DwrfDv.ModeMergeOnRead}')")
    try {
      DwrfLog.enable(root, conf)
      s.sql(s"DELETE FROM $tbl WHERE c_mktsegment = 'BUILDING'")
      require(DwrfLog.latest(root, conf).exists(_.dvs.nonEmpty),
        "fixture must hold delete vectors after the MoR DELETE")
      val cnt = s.table(tbl).agg(count(lit(1)).as("n_live"))
      require(plansAsLocalScan(cnt),
        s"COUNT(*) under DVs must stay a LocalScan, got:\n${cnt.queryExecution.executedPlan}")
      val poisoned = s.table(tbl).agg(min(col("c_custkey")).as("min_key"))
      require(!plansAsLocalScan(poisoned),
        "MIN under DVs must fall back to the distributed plan " +
          "(footer stats still describe masked rows)")
      // materialize before the finally's DROP TABLE unbinds the name
      val rows = cnt.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), cnt.schema)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val dvCountOracle =
    "SELECT COUNT(*) AS n_live FROM customer WHERE c_mktsegment <> 'BUILDING'"

  // The lake-maintenance SQL surface end to end (LakeSqlParser via
  // spark.sql.extensions): DESCRIBE HISTORY enumerates the staged
  // commits from manifest headers, bare OPTIMIZE bin-packs the 8
  // fragmented files through the zero-decode raw-stripe merge,
  // OPTIMIZE ... SORT BY rewrites the compacted layout in one
  // conflict-checked commit, VACUUM RETAIN 1 reclaims every replaced
  // input — each statement's metric rows are REQUIREd, and the final
  // rollup hash-matches DuckDB on the original parquet, proving the
  // whole SQL-driven maintenance cycle is content-preserving.
  private def lakeSqlScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("orders-lakesql", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    val orders = Tables.load(s, dir, "orders")
    orders.where(col("o_orderkey") % 2 === 0).repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    DwrfLog.enable(root, conf) // v0
    orders.where(col("o_orderkey") % 2 =!= 0).repartition(4)
      .write.format("dwrf").mode("append").save(out) // v1
    val hist = s.sql(s"DESCRIBE HISTORY '$out'").collect()
    require(hist.map(_.getLong(0)).toSeq == Seq(1L, 0L),
      s"DESCRIBE HISTORY must list v1, v0 — got ${hist.toSeq}")
    val pack = s.sql(s"OPTIMIZE '$out' TARGET 256 MB").collect().head
    require(pack.getLong(0) == 2L && pack.getInt(2) == 8 && pack.getInt(3) < 8,
      s"bare OPTIMIZE must bin-pack the 8 small files in commit v2, got $pack")
    val packed = pack.getInt(3)
    val opt = s.sql(s"OPTIMIZE '$out' SORT BY (o_orderkey)").collect().head
    require(opt.getLong(0) == 3L && opt.getInt(1) == packed,
      s"sorted OPTIMIZE must rewrite the $packed compacted file(s) in v3, got $opt")
    val vac = s.sql(s"VACUUM '$out' RETAIN 1 VERSIONS").collect().head
    require(vac.getInt(0) == 8 + packed && vac.getLong(2) == 3L,
      s"VACUUM must reclaim the 8 originals + $packed compacted, got $vac")
    s.read.format("dwrf").load(out)
      .createOrReplaceTempView("orders_lakesql")
    s.sql(s"""
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  ${dsum("o_totalprice")} AS total_price
      |FROM orders_lakesql
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim)
  }

  private val lakeSqlScanOracle = s"""
    |SELECT o_orderpriority, COUNT(*) AS n_orders,
    |  ${dsum("o_totalprice")} AS total_price
    |FROM orders
    |GROUP BY o_orderpriority ORDER BY o_orderpriority
    |""".stripMargin.trim

  // Merge-on-read UPDATE (position-delta tier, SupportsDelta): the
  // statement writes ONLY the delta — per-file position sidecars for the
  // superseded row versions plus one appended file of new versions —
  // where the copy-on-write tier would rewrite every touched file. The
  // query REQUIREs the MoR contract (all pre-existing data files byte-
  // and mtime-identical, exactly one appended rlo- file, op=update-mor,
  // sidecars bound and small), then hash-matches a rollup of the updated
  // table against DuckDB applying the same UPDATE arithmetic.
  private def updateMor(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfDv, DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("customer-umor", dir)
    val tbl = s"graft_umor_customer_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    Tables.load(s, dir, "customer").repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out' TBLPROPERTIES " +
      s"('${DwrfDv.UpdateModeKey}'='${DwrfDv.ModeMergeOnRead}')")
    try {
      DwrfLog.enable(root, conf)
      def stamps() = DwrfUtil.listDataFileStatuses(root, conf)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
      val before = stamps()
      s.sql(s"UPDATE $tbl SET c_acctbal = c_acctbal + 500 " +
        "WHERE c_mktsegment = 'MACHINERY'")
      val after = stamps()
      require(before.subsetOf(after),
        "merge-on-read UPDATE must leave every pre-existing data file " +
          "byte- and mtime-identical")
      val appended = after -- before
      require(appended.size == 1 &&
        new Path(appended.head._1).getName.startsWith("rlo-"),
        s"UPDATE must append exactly one new-versions file, got " +
          appended.map(_._1).mkString(", "))
      val v1 = DwrfLog.latest(root, conf).getOrElse(
        throw new IllegalStateException("snapshot log vanished"))
      require(v1.version == 1L && v1.op == "update-mor" && v1.dvs.nonEmpty,
        s"UPDATE must commit one op=update-mor version with DVs, got $v1")
      val dataBytes = before.toSeq.map(_._2).sum
      val dvBytes = v1.dvs.values.map(rel =>
        fs.getFileStatus(new Path(root, rel)).getLen).sum
      require(dvBytes * 10 < dataBytes,
        s"position sidecars must be small vs the data ($dvBytes B vs " +
          s"$dataBytes B)")
      // materialize before the finally's DROP TABLE unbinds the name
      val rolled = s.sql(s"""
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  ${dsum("c_acctbal")} AS total_bal,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM $tbl GROUP BY c_mktsegment ORDER BY c_mktsegment
        |""".stripMargin.trim)
      val rows = rolled.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
        .orderBy(col("c_mktsegment"))
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val updateMorOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal + 500 ELSE c_acctbal END")} AS total_bal,
    |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    |FROM customer
    |GROUP BY c_mktsegment ORDER BY c_mktsegment
    |""".stripMargin.trim

  // Change data feed: the row-level delta between two snapshot versions
  // (DwrfChanges.between) — appends surface as inserts, a merge-on-read
  // DELETE's DV rebinding surfaces its EXACT newly-masked rows as
  // deletes (positions from the sidecar pair, rows from the retained
  // file via the `_pos` provenance read). The query REQUIREs the
  // delete-mor commit shape, then rolls the feed up by change type ×
  // order status and hash-matches DuckDB RECONSTRUCTING the same delta
  // from the source parquet: inserts = the appended slice, deletes =
  // the urgent rows of (base ∪ slice). An incremental consumer's view
  // of the table is provably the table.
  private def changesScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfChanges, DwrfDv, DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.sources.EqualTo
    val out = ioDir("orders-cdc", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    val orders = Tables.load(s, dir, "orders")
    orders.repartition(3)
      .write.format("dwrf").mode("overwrite").save(out)
    DwrfLog.enable(root, conf) // v0
    orders.filter(col("o_orderkey") % 97 === 0).repartition(1)
      .write.format("dwrf").mode("append").save(out) // v1: insert slice
    val schema = s.read.format("dwrf").load(out).schema
    DwrfDv.deleteWhere(s, out, schema,
      Array(EqualTo("o_orderpriority", "1-URGENT"))) // v2: MoR delete
    val v2 = DwrfLog.read(root, conf, 2L)
    require(v2.op == "delete-mor" && v2.dvs.nonEmpty,
      s"the DELETE must commit merge-on-read with DVs bound, got $v2")
    DwrfChanges.between(s, out, 0L, 2L)
      .createOrReplaceTempView("orders_cdc_feed")
    s.sql(s"""
      |SELECT ${DwrfChanges.ChangeTypeColumn} AS change_type,
      |  CAST(${DwrfChanges.VersionColumn} AS BIGINT) AS commit_version,
      |  o_orderstatus, COUNT(*) AS n_rows,
      |  ${dsum("o_totalprice")} AS total_price,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders_cdc_feed
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
      |""".stripMargin.trim)
  }

  private val changesScanOracle = s"""
    |WITH slice AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
    |both_gen AS (SELECT * FROM orders UNION ALL SELECT * FROM slice)
    |SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
    |  o_orderstatus, COUNT(*) AS n_rows,
    |  ${dsum("o_totalprice")} AS total_price,
    |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    |FROM slice GROUP BY o_orderstatus
    |UNION ALL
    |SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version,
    |  o_orderstatus, COUNT(*) AS n_rows,
    |  ${dsum("o_totalprice")} AS total_price,
    |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    |FROM both_gen WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    |ORDER BY change_type, commit_version, o_orderstatus
    |""".stripMargin.trim

  // OPTIMIZE through the snapshot log: an out-of-order table (shuffled
  // write) is rewritten globally sorted by l_orderkey in one atomic
  // commit (DwrfOptimize → commitReplace), history vacuumed, and the
  // query REQUIREs the op=optimize version advance; the audit REQUIREs
  // a measured surfaced-row collapse on a key-range scan vs an
  // unclustered copy — the layout must BECOME selective, not just stay
  // correct — and the oracle hash-checks a rollup so the rewrite
  // provably lost no row.
  /** lineitem's optimized columns and their max l_orderkey; the range
    * scan reads keys below `keyMax / 16 + 1`. */
  private def optimizeSource(s: SparkSession, dir: String): (DataFrame, Long) = {
    val src = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    (src, src.agg(max(col("l_orderkey"))).head().getLong(0))
  }

  /** The pre-optimize layout: hash-shuffled, so every file spans the
    * key domain and nothing can skip. */
  private def writeUnclustered(src: DataFrame, out: String): Unit =
    src.repartition(6)
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1024").save(out)

  private def optimizeScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.dwrf.{DwrfLog, DwrfOptimize, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("lineitem-opt", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    val (src, keyMax) = optimizeSource(s, dir)
    writeUnclustered(src, out)
    DwrfLog.enable(root, conf)
    val res = DwrfOptimize.rewrite(s, out, Seq("l_orderkey"),
      targetBytes = 16L * 1024 * 1024)
    require(res.version == 1L &&
      DwrfLog.latest(root, conf).exists(_.op == "optimize"),
      s"optimize must commit one op=optimize version, got $res")
    DwrfLog.vacuum(root, conf, retainLast = 1)
    s.read.format("dwrf").load(out)
      .filter($"l_orderkey" < keyMax / 16 + 1)
      .agg(count(lit(1)).as("n_rows"),
        expr(dsum("l_quantity")).as("sum_qty"),
        expr(dsum("l_extendedprice")).as("sum_price"))
  }

  // Selectivity audit: single-threaded driver decode passes
  // (surfacedRows) over an unclustered copy (which by construction
  // cannot skip) and over the query's optimized table.
  private def optimizeScanAudit(s: SparkSession, dir: String): Unit = {
    import graft.sources.dwrf.DwrfUtil
    import org.apache.spark.sql.sources.LessThan
    val (src, keyMax) = optimizeSource(s, dir)
    val band = LessThan("l_orderkey", keyMax / 16 + 1)
    val pre = ioDir("lineitem-opt-pre", dir)
    writeUnclustered(src, pre)
    val preRows = DwrfUtil.surfacedRows(pre, "l_orderkey", Seq(band))._1
    val (postRows, postStrides, postStripes) =
      DwrfUtil.surfacedRows(ioDir("lineitem-opt", dir), "l_orderkey", Seq(band))
    require(postRows * 4 <= preRows && postStrides + postStripes > 0,
      s"optimize must make the range scan selective: surfaced " +
        s"$preRows -> $postRows rows, ${postStrides + postStripes} skips")
  }

  private val optimizeScanOracle = s"""
    |SELECT COUNT(*) AS n_rows,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice")} AS sum_price
    |FROM lineitem
    |WHERE l_orderkey < (SELECT MAX(l_orderkey) FROM lineitem) // 16 + 1
    |""".stripMargin.trim

  // The graft V2 catalog end to end under the driver gate: a namespaced
  // table is created THROUGH the catalog (no path option anywhere),
  // filled from customer, log-enabled, mutated by catalog-SQL DELETE,
  // and read back both current and via SQL `VERSION AS OF` — the two
  // rollups hash-check against one DuckDB oracle, so catalog routing,
  // sidecar schemas, and time-travel loadTable(ident, version) are all
  // on the correctness gate, not just sbt.
  private def catalogScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val wh = ioDir("graft-cat-wh", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val fs = new Path(wh).getFileSystem(conf)
    if (fs.exists(new Path(wh))) fs.delete(new Path(wh), true)
    s.conf.set("spark.sql.catalog.graft_gate",
      "graft.sources.dwrf.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_gate.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.lake")
    s.sql("""CREATE TABLE graft_gate.lake.cust
            |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
            |USING dwrf""".stripMargin)
    Tables.registerAll(s, dir)
    s.sql("""INSERT INTO graft_gate.lake.cust
            |SELECT c_custkey, c_mktsegment, c_acctbal FROM customer""".stripMargin)
    DwrfLog.enable(new Path(s"$wh/lake/cust"), conf)
    s.sql("DELETE FROM graft_gate.lake.cust WHERE c_mktsegment = 'MACHINERY'")
    require(DwrfLog.latestVersion(new Path(s"$wh/lake/cust"), conf)
      .contains(1L), "catalog DELETE must commit v1")
    def rollup(tag: String, from: String) = s.sql(s"""
      |SELECT '$tag' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
      |  ${dsum("c_acctbal")} AS total_bal
      |FROM $from GROUP BY c_mktsegment
      |""".stripMargin.trim)
    val out = rollup("current", "graft_gate.lake.cust")
      .union(rollup("v0", "graft_gate.lake.cust VERSION AS OF 0"))
      .orderBy($"snapshot", $"c_mktsegment")
    val rows = out.collect() // materialize before dropping the table
    s.sql("DROP TABLE graft_gate.lake.cust")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  // Hash-bucketed storage-partitioned join end to end: customer and
  // orders both land as bucket(8, custkey) catalog tables — per-bucket
  // FILE naming, no directory-per-key — and the custkey join plus the
  // per-custkey aggregate REQUIRE a zero-shuffle plan (broadcast
  // suppressed to force the issue). This is the HIGH-cardinality
  // co-location identity partitioning cannot express: at 100 TB the
  // fact-to-fact shuffle simply never happens. The final per-segment
  // rollup re-shuffles 15k aggregated rows (uncontested) and
  // hash-checks against DuckDB joining the original parquet.
  private def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.dwrf.{DwrfBucket, DwrfUtil}
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = ioDir("graft-bkt-wh", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val fs = new Path(wh).getFileSystem(conf)
    s.conf.set("spark.sql.catalog.graft_bkt",
      "graft.sources.dwrf.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_bkt.warehouse", wh)
    // memoized staging, keyed on the source parquet like `staged`: the
    // bucketed layout is a pure function of orders/customer, so bench
    // passes measure the JOIN, not repeated fixture writes
    staged(dir, wh, "orders", () => {
      if (fs.exists(new Path(wh))) fs.delete(new Path(wh), true)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.lake")
      s.sql("""CREATE TABLE graft_bkt.lake.cust
              |(custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
              |USING dwrf PARTITIONED BY (bucket(8, custkey))""".stripMargin)
      s.sql("""CREATE TABLE graft_bkt.lake.ord
              |(custkey BIGINT, o_totalprice DOUBLE)
              |USING dwrf PARTITIONED BY (bucket(8, custkey))""".stripMargin)
      Tables.registerAll(s, dir)
      s.sql("""INSERT INTO graft_bkt.lake.cust
              |SELECT c_custkey, c_mktsegment, c_acctbal FROM customer""".stripMargin)
      s.sql("""INSERT INTO graft_bkt.lake.ord
              |SELECT o_custkey, o_totalprice FROM orders""".stripMargin)
    })
    // every data file of both tables must carry an in-range bucket id
    for (t <- Seq("cust", "ord")) {
      val files = DwrfUtil.listDataFiles(new Path(s"$wh/lake/$t"), conf)
      require(files.nonEmpty && files.forall(f =>
        DwrfBucket.of(f.getName).exists(b => b >= 0 && b < 8)),
        s"bucketed table $t wrote unbucketed files: ${files.map(_.getName)}")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val perKey = s.table("graft_bkt.lake.cust")
        .join(s.table("graft_bkt.lake.ord"), "custkey")
        .groupBy($"custkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          expr(dsum("o_totalprice")).as("cust_total"))
      val plan = perKey.queryExecution.executedPlan
      val expanded =
        plan +: plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      val nShuffles =
        expanded.map(_.collect { case x: ShuffleExchangeExec => x }.size).sum
      require(nShuffles == 0,
        s"co-bucketed join + per-key aggregate must plan with zero " +
          s"shuffles, found $nShuffles:\n$plan")
      val rolled = perKey.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum($"n_orders").as("n_orders"),
          expr(dsum("cust_total")).as("total_price"))
        .orderBy($"c_mktsegment")
      val rows = rolled.collect()
      // tables stay staged (memoized above) — no DROP
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private val bucketJoinOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
    |  ${dsum("cust_total")} AS total_price
    |FROM (
    |  SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
    |    ${dsum("o_totalprice")} AS cust_total
    |  FROM customer JOIN orders ON c_custkey = o_custkey
    |  GROUP BY c_custkey, c_mktsegment)
    |GROUP BY c_mktsegment
    |ORDER BY c_mktsegment
    |""".stripMargin.trim

  private val catalogScanOracle = s"""
    |SELECT 'current' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal
    |FROM customer WHERE c_mktsegment <> 'MACHINERY' GROUP BY c_mktsegment
    |UNION ALL
    |SELECT 'v0' AS snapshot, c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal
    |FROM customer GROUP BY c_mktsegment
    |ORDER BY snapshot, c_mktsegment
    |""".stripMargin.trim

  // RESTORE (rollback) on the snapshot log: a bad DML is undone by
  // publishing a NEW commit re-referencing the pre-DML file set — no
  // history rewrite, no data copy (restore cost is one manifest, however
  // many TB the table holds). The query REQUIREs the mechanism: the
  // restore advances the version (v2) instead of editing v0/v1, the bad
  // v1 state stays pinnable via versionAsOf, and no data file is
  // rewritten by the restore itself. The rollup over the restored table
  // then hash-matches DuckDB over the ORIGINAL full table — proving the
  // rollback is exact, not approximate.
  private def restoreScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("customer-restore", dir)
    val tbl = s"graft_restore_customer_${Integer.toHexString(dir.hashCode)}"
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    Tables.load(s, dir, "customer").repartition(4)
      .write.format("dwrf").mode("overwrite").save(out)
    s.sql(s"CREATE TABLE $tbl USING dwrf LOCATION '$out'")
    try {
      DwrfLog.enable(root, conf)
      s.sql(s"DELETE FROM $tbl WHERE c_mktsegment = 'BUILDING'")
      def stamps() = DwrfUtil.listDataFileStatuses(root, conf)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
      val afterDelete = stamps()
      val restored = DwrfLog.restore(root, conf, 0L)
      require(restored.version == 2L && restored.op == "restore(v0)",
        s"restore must publish a NEW version referencing v0, got $restored")
      require(stamps() == afterDelete,
        "restore must be metadata-only: no data file written or removed")
      val nFull = s.read.format("dwrf").load(out).count()
      val nBad = s.read.format("dwrf").option("versionAsOf", 1).load(out).count()
      require(nBad < nFull,
        s"the rolled-back v1 must stay pinnable and smaller ($nBad vs $nFull)")
      val rolled = s.sql(s"""
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  ${dsum("c_acctbal")} AS total_bal
        |FROM $tbl GROUP BY c_mktsegment ORDER BY c_mktsegment
        |""".stripMargin.trim)
      val rows = rolled.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
        .orderBy(col("c_mktsegment"))
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val restoreScanOracle = s"""
    |SELECT c_mktsegment, COUNT(*) AS n_cust,
    |  ${dsum("c_acctbal")} AS total_bal
    |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    |""".stripMargin.trim

  // Manifest-carried stats pruning: a snapshot table's commit sidecar
  // holds every file's column stats, so a narrow predicate prunes files
  // at PLANNING time without opening their footers — the Iceberg/Delta
  // scan-planning move, and the difference between millisecond and
  // minute planning at 10⁵⁺ files. The query stages orders range-
  // partitioned on o_orderkey into 8 files, snapshots the dir, and
  // REQUIREs (a) most files pruned from the sidecar alone and (b) the
  // footer-read budget to stay at the survivor count — then the rollup
  // over the pruned scan hash-matches DuckDB applying the same predicate
  // to the full table, proving pruning dropped only provably-empty files.
  private def manifestPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfLog, DwrfPlanningProbe, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("orders-mstats", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true) // fresh snapshot per run
    Tables.load(s, dir, "orders")
      .repartitionByRange(8, col("o_orderkey"))
      .write.format("dwrf").mode("overwrite").save(out)
    DwrfLog.enable(root, conf)
    require(DwrfUtil.listDataFiles(root, conf).size == 8,
      "staging must produce 8 range-disjoint files")
    s.read.format("dwrf").load(out).createOrReplaceTempView("orders_mstats")
    val rolled = s.sql(s"""
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  ${dsum("o_totalprice")} AS total_price,
      |  MAX(o_orderdate) AS max_date
      |FROM orders_mstats WHERE o_orderkey BETWEEN 1 AND 1000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim)
    val fr0 = DwrfPlanningProbe.footerReads.get()
    val mp0 = DwrfPlanningProbe.manifestPruned.get()
    val rows = rolled.collect()
    val footers = DwrfPlanningProbe.footerReads.get() - fr0
    val pruned = DwrfPlanningProbe.manifestPruned.get() - mp0
    // r15 fix of an INHERITED sf0.001 failure (identical on the r14
    // tag): the old floor `pruned >= 5` assumed keys 1..1000 are
    // selective against the staged table — true at sf0.01+ but false
    // at sf0.001, where the whole orders key span is small enough that
    // only 2 of the 8 range files are provably outside [1, 1000].
    // Derive the EXACT expectation from the committed sidecar itself —
    // a file is sidecar-prunable iff its o_orderkey window is disjoint
    // from the predicate — and require pruning to drop exactly those,
    // at every SF. Strictly stronger where the old gate ran (equality,
    // not a floor) and correct at tiny SFs.
    val sums = graft.sources.dwrf.DwrfLogStats.load(root, conf, 0L)
      .getOrElse(sys.error("dwrf_manifest_prune: v0 stats sidecar missing"))
    require(sums.size == 8,
      s"the v0 sidecar must summarize all 8 staged files, has ${sums.size}")
    val prunable = sums.values.count(cols =>
      cols.get("o_orderkey").exists(st =>
        st.longMin <= st.longMax && (st.longMin > 1000L || st.longMax < 1L)))
    require(prunable >= 2,
      s"staging must leave at least 2 provably-out-of-range files, has $prunable")
    require(pruned == prunable,
      s"sidecar stats must prune exactly the $prunable files whose " +
        s"o_orderkey window is disjoint from [1, 1000], pruned $pruned")
    require(footers <= 8 - pruned,
      s"planning must open footers only for sidecar survivors " +
        s"(${8 - pruned}), opened $footers")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
      .orderBy(col("o_orderstatus"))
  }

  private val manifestPruneOracle = s"""
    |SELECT o_orderstatus, COUNT(*) AS n_orders,
    |  ${dsum("o_totalprice")} AS total_price,
    |  MAX(o_orderdate) AS max_date
    |FROM orders WHERE o_orderkey BETWEEN 1 AND 1000
    |GROUP BY o_orderstatus ORDER BY o_orderstatus
    |""".stripMargin.trim

  // DESCRIBE HISTORY on the gate: DwrfLog.history lists every retained
  // version with its op, and versionAsOf pins each one's row count —
  // the audit-trail read an operator reaches for first ("what changed,
  // when, and how big was the table at each point"). Each version's
  // count re-reads THROUGH the pinned manifest, so the query proves
  // history enumeration AND per-version time travel in one hash-exact
  // row set (commit timestamps are wall-clock and stay out of the
  // output).
  private def historyScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.dwrf.{DwrfDelete, DwrfLog, DwrfUtil}
    import org.apache.hadoop.fs.Path
    val out = ioDir("orders-history", dir)
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true) // fresh history per run
    val orders = Tables.load(s, dir, "orders")
    orders.where(col("o_orderkey") % 97 =!= 0).repartition(2)
      .write.format("dwrf").mode("overwrite").save(out)
    DwrfLog.enable(root, conf) // v0
    orders.where(col("o_orderkey") % 97 === 0).repartition(1)
      .write.format("dwrf").mode("append").save(out) // v1
    DwrfDelete.deleteWhere(s, out,
      s.read.format("dwrf").load(out).schema,
      Array(org.apache.spark.sql.sources.EqualTo("o_orderpriority",
        "1-URGENT"))) // v2
    val hist = DwrfLog.history(root, conf)
    require(hist.map(_.version) == Seq(0L, 1L, 2L),
      s"staging must retain v0..v2, got ${hist.map(_.version)}")
    val rows = hist.map { snap =>
      val n = s.read.format("dwrf")
        .option(DwrfLog.VersionAsOfKey, snap.version).load(out).count()
      org.apache.spark.sql.Row(snap.version, snap.op, n)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy(col("version"))
  }

  private val historyScanOracle = """
    |SELECT 0 AS version, 'init' AS op,
    |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 97 <> 0) AS n_rows
    |UNION ALL
    |SELECT 1, 'append', (SELECT COUNT(*) FROM orders)
    |UNION ALL
    |SELECT 2, 'delete',
    |  (SELECT COUNT(*) FROM orders WHERE o_orderpriority <> '1-URGENT')
    |ORDER BY version
    |""".stripMargin.trim

  override val all: Seq[Q] = Seq(
    Q("dwrf_roundtrip_lineitem", rtLineitem, Some(rtLineitemOracle)),
    Q("dwrf_footer_agg", footerAgg, Some(footerAggOracle)),
    Q("dwrf_roundtrip_events", rtEvents, Some(rtEventsOracle)),
    Q("dwrf_projection_filter", rtProjection, Some(rtProjectionOracle)),
    Q("dwrf_filter_columnar", rtFilterColumnar, Some(rtFilterColumnarOracle)),
    Q("dwrf_zorder_scan", rtZorder, Some(rtZorderOracle), rtZorderAudit),
    Q("dwrf_nested_types", rtNested, Some(rtNestedOracle)),
    Q("dwrf_union_roundtrip", rtUnion, Some(rtUnionOracle)),
    Q("dwrf_stripe_concat", rtConcat, Some(rtConcatOracle)),
    Q("dwrf_compact_scan", rtCompact, Some(rtCompactOracle)),
    Q("dwrf_bloom_scan", bloomScan, Some(bloomScanOracle)),
    Q("dwrf_bloom_stride", bloomStride, Some(bloomStrideOracle),
      bloomStrideAudit),
    Q("dwrf_decimal_roundtrip", rtDecimal, Some(rtDecimalOracle)),
    Q("dwrf_ddl_scan", ddlScan, Some(ddlScanOracle)),
    Q("dwrf_partitioned_roundtrip", rtPartitioned, Some(rtPartitionedOracle)),
    Q("dwrf_spj_join", spjJoin, Some(spjJoinOracle)),
    Q("dwrf_delete_scan", deleteScan, Some(deleteScanOracle)),
    Q("dwrf_merge_scan", mergeScan, Some(mergeScanOracle)),
    Q("dwrf_time_travel", timeTravel, Some(timeTravelOracle)),
    Q("dwrf_dv_scan", dvScan, Some(dvScanOracle)),
    Q("dwrf_dv_count", dvCount, Some(dvCountOracle)),
    Q("dwrf_lakesql_scan", lakeSqlScan, Some(lakeSqlScanOracle)),
    Q("dwrf_update_mor", updateMor, Some(updateMorOracle)),
    Q("dwrf_changes_scan", changesScan, Some(changesScanOracle)),
    Q("dwrf_optimize_scan", optimizeScan, Some(optimizeScanOracle),
      optimizeScanAudit),
    Q("dwrf_catalog_scan", catalogScan, Some(catalogScanOracle)),
    Q("dwrf_bucket_join", bucketJoin, Some(bucketJoinOracle)),
    Q("dwrf_restore_scan", restoreScan, Some(restoreScanOracle)),
    Q("dwrf_manifest_prune", manifestPrune, Some(manifestPruneOracle)),
    Q("dwrf_history_scan", historyScan, Some(historyScanOracle)),
  )
}
