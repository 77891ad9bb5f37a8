package graft.sources.dwrf

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Hive-style partitioned directory layout (S8 parity with the
  * reference's OrcOutputFormat under Hive partitions): partitionBy on
  * write routes rows to col=value/ subdirs with partition columns
  * dropped from the data files; reads discover the columns, splice the
  * constants back in (row AND columnar paths), and prune directories
  * through the same stats machinery as footer stats.
  */
class DwrfPartitionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String = graft.TestDirs.tmp(prefix).toString

  test("partitioned write lays out col=value dirs; reads splice columns back") {
    val dir = tmp("dwrf-part-")
    spark.range(0, 1200, 1, 1).select(
      col("id"),
      (col("id") % 4).as("bucket"),
      concat(lit("c"), col("id") % 3).as("cat"),
      (col("id") * 1.5).as("x"))
      .write.format("dwrf").partitionBy("bucket", "cat")
      .mode("overwrite").save(dir)

    // physical layout: bucket=V/cat=W/part-*.dwrf, partition cols NOT in files
    val d = new java.io.File(dir)
    val bucketDirs = d.listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(bucketDirs.toSeq == Seq("bucket=0", "bucket=1", "bucket=2", "bucket=3"))
    val oneFile = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration())
    assert(oneFile.size == 12, "one file per (bucket, cat) per task")
    val r = new DwrfFileReader(oneFile.head, new org.apache.hadoop.conf.Configuration())
    try assert(r.schema.fieldNames.toSeq == Seq("id", "x")) finally r.close()

    val df = spark.read.format("dwrf").load(dir)
    // discovered columns appended after data columns; integral values
    // read back as long
    assert(df.schema.fieldNames.toSeq == Seq("id", "x", "bucket", "cat"))
    assert(df.schema("bucket").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("cat").dataType == org.apache.spark.sql.types.StringType)
    assert(df.count() == 1200)

    // columnar path with constant partition vectors
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "partitioned read must stay columnar")

    val rows = df.orderBy("id").collect()
    rows.foreach { row =>
      val id = row.getLong(0)
      assert(row.getDouble(1) == id * 1.5)
      assert(row.getLong(2) == id % 4, s"id $id bucket")
      assert(row.getString(3) == s"c${id % 3}", s"id $id cat")
    }
  }

  test("filters on partition columns prune whole directories") {
    val dir = tmp("dwrf-partprune-")
    spark.range(0, 1200, 1, 1).select(
      col("id"),
      (col("id") % 4).as("bucket"),
      concat(lit("c"), col("id") % 3).as("cat"))
      .write.format("dwrf").partitionBy("bucket", "cat")
      .mode("overwrite").save(dir)

    val schema = spark.read.format("dwrf").load(dir).schema
    def scanWith(runtime: Array[Filter]): DwrfScan = {
      val scan = new DwrfScanBuilder(schema, dir).build().asInstanceOf[DwrfScan]
      scan.filter(runtime)
      scan
    }
    assert(scanWith(Array.empty).planInputPartitions().length == 12)
    // long partition value: 3 of 12 dirs survive
    assert(scanWith(Array(EqualTo("bucket", 2L))).planInputPartitions().length == 3)
    // string partition value: 4 of 12
    assert(scanWith(Array(EqualTo("cat", "c1"))).planInputPartitions().length == 4)
    // conjunction: exactly one directory
    assert(scanWith(Array(EqualTo("bucket", 2L), EqualTo("cat", "c1")))
      .planInputPartitions().length == 1)
    // runtime join-key IN-set = dynamic partition pruning
    assert(scanWith(Array(In("bucket", Array[Any](0L, 3L))))
      .planInputPartitions().length == 6)
    // refuted everywhere
    assert(scanWith(Array(EqualTo("bucket", 99L))).planInputPartitions().isEmpty)
    // partition columns are reported for runtime filtering
    assert(scanWith(Array.empty).filterAttributes().map(_.describe()).toSet
      .contains("bucket"))

    // end-to-end through Spark: filter + aggregate stays correct
    val df = spark.read.format("dwrf").load(dir)
    assert(df.filter(col("bucket") === 2 && col("cat") === "c1").count() == 100)
    assert(df.filter(col("bucket") === 2).agg(sum(col("id"))).collect().head.getLong(0) ==
      (0L until 1200).filter(_ % 4 == 2).sum)
  }

  test("partition discovery works through a relative load path") {
    // listed file paths are fs-qualified; an unqualified root must still
    // prefix-match (regression: relative paths silently lost all
    // partition columns)
    val rel = s"target/dwrf-relpart-${System.nanoTime()}"
    spark.range(0, 40, 1, 1).select(col("id"), (col("id") % 2).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(rel)
    val df = spark.read.format("dwrf").load(rel)
    assert(df.schema.fieldNames.contains("p"), df.schema.treeString)
    assert(df.filter(col("p") === 1L).count() == 20)
  }

  test("stray non-partition subdirectories are not merged into the table") {
    val dir = tmp("dwrf-stray-")
    spark.range(0, 100, 1, 1).select(col("id"))
      .write.format("dwrf").mode("overwrite").save(dir)
    // a backup copy nested in a non-partition subdir must stay invisible
    val backup = new java.io.File(dir, "archive")
    backup.mkdirs()
    val dataFile = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".dwrf")).head
    java.nio.file.Files.copy(dataFile.toPath,
      backup.toPath.resolve("old.dwrf"))
    assert(spark.read.format("dwrf").load(dir).count() == 100,
      "rows must not double-count from archive/old.dwrf")
  }

  test("partitioning composes with schema evolution (added column + widened type)") {
    val dir = tmp("dwrf-partevo-")
    // generation 1: (id int, p) — narrow id, no extra column
    spark.range(0, 100, 1, 1).select(
      col("id").cast("int").as("id"), lit("g1").as("p"))
      .write.format("dwrf").partitionBy("p").mode("append").save(dir)
    // generation 2: (id long, extra, p) — widened id + a new column
    spark.range(100, 200, 1, 1).select(
      col("id"), concat(lit("x"), col("id")).as("extra"), lit("g2").as("p"))
      .write.format("dwrf").partitionBy("p").mode("append").save(dir)

    val df = spark.read.format("dwrf").load(dir)
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType,
      "id widens across generations")
    assert(df.schema.fieldNames.toSeq == Seq("id", "extra", "p"))
    assert(df.count() == 200)
    val rows = df.orderBy("id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id < 100) {
        assert(r.isNullAt(1), s"id $id: extra null in g1")
        assert(r.getString(2) == "g1")
      } else {
        assert(r.getString(1) == s"x$id")
        assert(r.getString(2) == "g2")
      }
    }
    // partition filter + evolved column together
    assert(df.filter(col("p") === "g2" && col("extra") === "x150").count() == 1)
    assert(df.filter(col("p") === "g1").agg(sum(col("id"))).collect().head.getLong(0) ==
      (0L until 100).sum)
  }

  test("storage-partitioned reads: clustered aggregation plans without a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = tmp("dwrf-spj-")
    spark.range(0, 4000, 1, 1).select(
      col("id"), (col("id") % 8).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dir)

    def shufflesIn(df: org.apache.spark.sql.DataFrame): Int = {
      val p = df.queryExecution.executedPlan
      val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      (p +: expanded).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum
    }

    val old = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // aggregate.pushdown=false pins the STORAGE-PARTITIONED plan this
      // test exists to gate (the default would answer the rollup from
      // footers as a LocalScan — that path is DwrfAggPushdownSpec's)
      val df = spark.read.format("dwrf")
        .option("aggregate.pushdown", "false").load(dir)
        .groupBy("p").agg(sum(col("id")).as("s"))
      assert(shufflesIn(df) == 0,
        s"aggregation clustered on the partition column must not shuffle:\n${df.queryExecution.executedPlan}")
      val got = df.orderBy("p").collect()
      assert(got.map(_.getLong(0)).toSeq == (0L until 8L))
      got.foreach { r =>
        val p = r.getLong(0)
        assert(r.getLong(1) == (0L until 4000).filter(_ % 8 == p).sum, s"p=$p")
      }

      // storage-partitioned JOIN: two tables laid out on the same key
      // join shuffle-free (broadcast suppressed to force the issue)
      val dir2 = tmp("dwrf-spj2-")
      spark.range(0, 800, 1, 1).select(
        (col("id") % 8).as("p"), concat(lit("n"), col("id") % 8).as("pname"))
        .distinct()
        .write.format("dwrf").partitionBy("p").mode("overwrite").save(dir2)
      val oldBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val a = spark.read.format("dwrf")
          .option("aggregate.pushdown", "false").load(dir)
          .groupBy("p").agg(sum(col("id")).as("s"))
        val b = spark.read.format("dwrf").load(dir2)
        val joined = a.join(b, "p")
        assert(shufflesIn(joined) == 0,
          s"co-partitioned join must not shuffle:\n${joined.queryExecution.executedPlan}")
        assert(joined.count() == 8)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
    } finally {
      old match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("DateType partition columns: ISO dirs, typed read-back, date-filter pruning") {
    val dir = tmp("dwrf-partdate-")
    // dt=yyyy-MM-dd — the single most common Hive partition scheme — plus
    // a null partition to cover the sentinel directory
    spark.range(0, 120, 1, 1).select(
      col("id"),
      when(col("id") < 20, lit(null).cast("date"))
        .otherwise(date_add(lit(java.sql.Date.valueOf("2026-08-01")),
          (col("id") % 4).cast("int"))).as("dt"))
      .write.format("dwrf").partitionBy("dt").mode("overwrite").save(dir)

    val names = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(names == Seq("dt=2026-08-01", "dt=2026-08-02", "dt=2026-08-03",
      "dt=2026-08-04", s"dt=${PartitionLayout.NullSentinel}"), names.toString)

    val df = spark.read.format("dwrf").load(dir)
    assert(df.schema("dt").dataType == org.apache.spark.sql.types.DateType)
    assert(df.schema("dt").nullable)
    assert(df.count() == 120)
    assert(df.filter(col("dt").isNull).count() == 20)
    assert(df.filter(col("dt") === lit(java.sql.Date.valueOf("2026-08-02"))).count() == 25)

    // date filters prune whole directories through the stats path, in
    // both filter-value spellings Spark pushes (sql.Date / LocalDate)
    val schema = df.schema
    def scanWith(fs: Array[Filter]): DwrfScan = {
      val sc = new DwrfScanBuilder(schema, dir).build().asInstanceOf[DwrfScan]
      sc.filter(fs); sc
    }
    assert(scanWith(Array.empty).planInputPartitions().length == 5)
    assert(scanWith(Array(GreaterThanOrEqual("dt", java.sql.Date.valueOf("2026-08-03"))))
      .planInputPartitions().length == 2)
    assert(scanWith(Array(EqualTo("dt", java.time.LocalDate.parse("2026-08-04"))))
      .planInputPartitions().length == 1)
    assert(scanWith(Array(IsNull("dt"))).planInputPartitions().length == 1)

    // typed values round-trip exactly
    val rows = df.filter(col("id") >= 20 && col("id") < 24).orderBy("id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDate(1).toLocalDate ==
        java.time.LocalDate.parse("2026-08-01").plusDays(id % 4), s"id $id")
    }
    assert(df.filter(col("dt") >= lit(java.sql.Date.valueOf("2026-08-03"))).count() == 50)
  }

  test("storage-partitioned join: two co-partitioned base tables join with zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def shufflesIn(df: org.apache.spark.sql.DataFrame): Int = {
      val p = df.queryExecution.executedPlan
      val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      (p +: expanded).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum
    }
    val dirA = tmp("dwrf-spjbase-a-")
    val dirB = tmp("dwrf-spjbase-b-")
    // two tables laid out on the same partition key — the 100 TB shape:
    // a fact table and a per-key side table co-clustered by ingestion
    spark.range(0, 4000, 1, 1).select(col("id"), (col("id") % 8).as("p"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dirA)
    spark.range(0, 160, 1, 1).select((col("id") % 8).as("p"), (col("id") * 10).as("w"))
      .write.format("dwrf").partitionBy("p").mode("overwrite").save(dirB)

    val oldBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val oldBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val a = spark.read.format("dwrf").load(dirA)
      val b = spark.read.format("dwrf").load(dirB)
      val joined = a.join(b, "p")
      assert(shufflesIn(joined) == 0,
        s"equi-join on the shared partition key must not shuffle:\n${joined.queryExecution.executedPlan}")
      // a per-key aggregate on top stays shuffle-free too (the layout is
      // the exchange); the global rollup below it is for value parity only
      val perKey = joined.groupBy("p").agg(
        count(lit(1)).as("rows"), sum(col("id") * col("w")).as("dot"))
      assert(shufflesIn(perKey) == 0,
        s"per-key aggregate over the join must not shuffle:\n${perKey.queryExecution.executedPlan}")
      val got = perKey.agg(sum(col("rows")), sum(col("dot"))).collect().head
      // cross-check values against the same join planned WITH shuffles
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = spark.read.format("dwrf").load(dirA)
        .join(spark.read.format("dwrf").load(dirB), "p")
      assert(shufflesIn(shuffled) > 0, "control plan should shuffle")
      val want = shuffled
        .agg(count(lit(1)).as("rows"), sum(col("id") * col("w")).as("dot"))
        .collect().head
      assert(got.getLong(0) == 4000L / 8 * (160 / 8) * 8 && got.getLong(0) == want.getLong(0))
      assert(got.getLong(1) == want.getLong(1), "join values must match the shuffled plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBt)
      oldBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("date inference is opt-out; out-of-range years stay write/infer symmetric") {
    val dir = tmp("dwrf-partdateopt-")
    spark.range(0, 20, 1, 1).select(
      col("id"),
      date_add(lit(java.sql.Date.valueOf("2026-08-01")),
        (col("id") % 2).cast("int")).as("dt"))
      .write.format("dwrf").partitionBy("dt").mode("overwrite").save(dir)
    // default: ISO-shaped values infer DateType
    assert(spark.read.format("dwrf").load(dir).schema("dt").dataType ==
      org.apache.spark.sql.types.DateType)
    // opt-out pins the pre-round-5 string schema for layouts whose string
    // values merely look like dates
    val asStr = spark.read.format("dwrf")
      .option("partition.typeInference.date", "false").load(dir)
    assert(asStr.schema("dt").dataType == org.apache.spark.sql.types.StringType)
    assert(asStr.filter(col("dt") === "2026-08-01").count() == 10)

    // years outside 0000-9999 print signed/5-digit ISO (+10000-01-01,
    // -0001-01-01); inference must accept its own writer's spelling
    val wide = tmp("dwrf-partdatewide-")
    spark.range(0, 4, 1, 1).select(
      col("id"),
      when(col("id") < 2, lit(java.time.LocalDate.of(10000, 1, 2)))
        .otherwise(lit(java.time.LocalDate.of(-1, 3, 4))).as("dt"))
      .write.format("dwrf").partitionBy("dt").mode("overwrite").save(wide)
    val wnames = new java.io.File(wide).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(wnames == Seq("dt=+10000-01-02", "dt=-0001-03-04"), wnames.toString)
    val wdf = spark.read.format("dwrf").load(wide)
    assert(wdf.schema("dt").dataType == org.apache.spark.sql.types.DateType)
    // compare in Catalyst (epoch days): collecting through java.sql.Date
    // rebases ancient dates into the hybrid Julian calendar and shifts them
    assert(wdf.filter(col("dt") === lit(java.time.LocalDate.of(10000, 1, 2)))
      .count() == 2)
    assert(wdf.filter(col("dt") === lit(java.time.LocalDate.of(-1, 3, 4)))
      .count() == 2)
  }

  test("null and special-character partition values round-trip") {
    val dir = tmp("dwrf-partesc-")
    spark.range(0, 20, 1, 1).select(
      col("id"),
      when(col("id") < 5, lit(null.asInstanceOf[String]))
        .otherwise(concat(lit("a/b=c%"), col("id") % 2)).as("k"))
      .write.format("dwrf").partitionBy("k").mode("overwrite").save(dir)

    val df = spark.read.format("dwrf").load(dir)
    assert(df.count() == 20)
    assert(df.filter(col("k").isNull).count() == 5)
    assert(df.filter(col("k") === "a/b=c%0").count() == 7)
    assert(df.filter(col("k") === "a/b=c%1").count() == 8)
    // IsNull prunes to the sentinel directory only
    val schema = df.schema
    val scan = new DwrfScanBuilder(schema, dir).build().asInstanceOf[DwrfScan]
    scan.filter(Array[Filter](IsNull("k")))
    assert(scan.planInputPartitions().length == 1)
  }

  test("adopted layout order beats a reversed partition.columns option") {
    // an append whose option lists the columns in the other order must
    // follow the ON-DISK nesting (bucket=/cat=), not write a reversed
    // cat=/bucket= tree beside it — that fragmentation would poison the
    // next adoption via the heterogeneous-layout check
    val dir = tmp("dwrf-part-order-")
    def rows(from: Long, to: Long) = spark.range(from, to, 1, 1).select(
      col("id"), (col("id") % 2).as("bucket"),
      concat(lit("c"), col("id") % 2).as("cat"))
    rows(0, 100).write.format("dwrf").partitionBy("bucket", "cat")
      .mode("overwrite").save(dir)
    rows(100, 200).write.format("dwrf")
      .option("partition.columns", "cat,bucket") // reversed on purpose
      .mode("append").save(dir)
    val root = new java.io.File(dir)
    val topDirs = root.listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(topDirs.forall(_.startsWith("bucket=")),
      s"append fragmented the physical layout: $topDirs")
    val back = spark.read.format("dwrf").load(dir)
    assert(back.count() == 200)
    assert(back.filter(col("bucket") === 1 && col("cat") === "c1").count() == 100)
  }
}
