package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Stats-based stripe/stride skipping + seek correctness (the reference's
  * TestOrcFile seek grid, FIXTURES F3, plus the predicate evaluation the
  * reference never implemented).
  */
class DwrfPushdownSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def writeSorted(stride: Int): String = {
    val dir = graft.TestDirs.tmp("dwrf-push-").toString
    // sorted ids 0..9999 in ONE file/partition => stride k holds [k*stride,(k+1)*stride)
    spark.range(0, 10000, 1, 1).select(
      col("id"),
      (col("id") % 50).cast("int").as("bucket"),        // dictionary int
      concat(lit("cat-"), (col("id") % 20)).as("tag"),  // dictionary string
      concat(lit("uniq-"), format_string("%08d", col("id"))).as("uid"), // direct string
      (col("id") * 1.5).as("score"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", stride.toString)
      .save(dir)
    dir
  }

  private def rawRows(dir: String, filters: Seq[Filter],
      cols: Seq[String] = Seq("id")): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val readSchema = org.apache.spark.sql.types.StructType(
        r.schema.fields.filter(f => cols.contains(f.name)))
      r.rows(r.footer.stripes, readSchema, filters).toVector
    } finally r.close()
  }

  test("stride skipping returns only matching strides (superset semantics)") {
    val dir = writeSorted(stride = 1000)
    // id < 500 lives entirely in stride 0 => exactly 1000 rows surface
    assert(rawRows(dir, Seq(LessThan("id", 500L))).size == 1000)
    // id in [4500, 5500) spans strides 4 and 5 => 2000 rows surface
    assert(rawRows(dir, Seq(
      GreaterThanOrEqual("id", 4500L), LessThan("id", 5500L))).size == 2000)
    // equality on a single value => one stride
    assert(rawRows(dir, Seq(EqualTo("id", 7777L))).size == 1000)
    // no possible match => zero rows (stripe skipped entirely)
    assert(rawRows(dir, Seq(GreaterThan("id", 99999L))).isEmpty)
    // string filter on direct-encoded uid
    assert(rawRows(dir, Seq(EqualTo("uid", "uniq-00000042")), Seq("uid")).size == 1000)
    // filter can't help (all strides contain bucket 7) => all rows
    assert(rawRows(dir, Seq(EqualTo("bucket", 7)), Seq("bucket")).size == 10000)
  }

  test("StringStartsWith prunes strides via the [p, succ(p)) range") {
    val dir = writeSorted(stride = 1000)
    // uid is uniq-%08d, sorted with id: prefix uniq-0000100 = ids
    // 1000..1009, entirely in stride 1 => exactly 1000 rows surface
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "uniq-0000100")), Seq("uid")).size == 1000)
    // a prefix matching a single row still costs one stride
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "uniq-00009999")), Seq("uid")).size == 1000)
    // prefix beyond every value => nothing surfaces
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "uniq-1")), Seq("uid")).isEmpty)
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "zz")), Seq("uid")).isEmpty)
    // prefix of EVERY value => no pruning possible, all rows
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "uniq-")), Seq("uid")).size == 10000)
    // 0xFF-saturated prefix: no byte successor exists => only the lower
    // bound prunes (conservative, never wrong)
    assert(rawRows(dir,
      Seq(StringStartsWith("uid", "￿￿")), Seq("uid")).isEmpty ||
      true) // must not throw; row count is whatever stats allow
    // successor arithmetic itself
    assert(StatsFilter.prefixSuccessor(Array[Byte](1, 2, 3))
      .map(_.toSeq) === Some(Seq[Byte](1, 2, 4)))
    assert(StatsFilter.prefixSuccessor(Array[Byte](1, -1, -1))
      .map(_.toSeq) === Some(Seq[Byte](2)))
    assert(StatsFilter.prefixSuccessor(Array[Byte](-1, -1)) === None)
  }

  test("skipped reads decode correctly mid-stripe (seek grid)") {
    val dir = writeSorted(stride = 1000)
    // values must be right after a seek, for every stride start
    for (k <- 0 until 10) {
      val lo = k * 1000L
      val rows = rawRows(dir,
        Seq(GreaterThanOrEqual("id", lo), LessThan("id", lo + 1)),
        Seq("id", "bucket", "tag", "uid", "score"))
      assert(rows.size == 1000, s"stride $k")
      val first = rows.head
      assert(first.getLong(0) == lo)
      assert(first.getInt(1) == (lo % 50).toInt)
      assert(first.getUTF8String(2).toString == s"cat-${lo % 20}")
      assert(first.getUTF8String(3).toString == f"uniq-$lo%08d")
      assert(first.getDouble(4) == lo * 1.5)
      // and the whole stride must be the contiguous id range
      assert(rows.map(_.getLong(0)) == (lo until lo + 1000).toVector)
    }
  }

  test("sparse filtered read through Spark matches parquet semantics") {
    val dir = writeSorted(stride = 500)
    val df = spark.read.format("dwrf").load(dir)
    val got = df.filter(col("id") % 1000 === 0 && col("id") < 5000)
      .select("id", "uid").orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1000L, 2000L, 3000L, 4000L))
    assert(got.map(_.getString(1)).toSeq ==
      Seq(0L, 1000L, 2000L, 3000L, 4000L).map(i => f"uniq-$i%08d"))
    // pushed filters visible in the plan
    val plan = df.filter(col("id") < 100).queryExecution.executedPlan.toString()
    assert(plan.contains("dwrf"), plan)
  }

  test("nulls interact correctly with skipping") {
    val dir = graft.TestDirs.tmp("dwrf-null-").toString
    spark.range(0, 4000, 1, 1).select(
      col("id"),
      when(col("id") < 2000, col("id") * 2).as("v"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", 1000).save(dir)
    // IsNull: only strides 2,3 have nulls
    assert(rawRows(dir, Seq(IsNull("v")), Seq("v")).size == 2000)
    // IsNotNull: only strides 0,1
    assert(rawRows(dir, Seq(IsNotNull("v")), Seq("v")).size == 2000)
    // value filter on nullable column
    assert(rawRows(dir, Seq(EqualTo("v", 100L)), Seq("v")).size == 1000)
  }

  test("filtered scans take the columnar path with stride skipping") {
    val dir = writeSorted(stride = 1000)
    val df = spark.read.format("dwrf").load(dir)
      .filter(col("id") >= 4500L && col("id") < 5500L)
      .select("id", "uid", "score")
    // the executed plan must be a columnar batch scan despite pushed filters
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      df.queryExecution.executedPlan.toString)
    val got = df.orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == (4500L until 5500L).toSeq)
    assert(got.map(_.getString(1)).toSeq ==
      (4500L until 5500L).map(i => f"uniq-$i%08d").toSeq)

    // reader-level: strides outside [4,5] skipped, batches emitted, and the
    // decoded run is exactly strides 4-5 (superset semantics, Spark refines)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val readSchema = org.apache.spark.sql.types.StructType(
        r.schema.fields.filter(f => Seq("id", "bucket", "tag", "uid", "score").contains(f.name)))
      val pr = new DwrfColumnarPartitionReader(r, r.batches(r.footer.stripes, readSchema,
        Seq(GreaterThanOrEqual("id", 4500L), LessThan("id", 5500L))))
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tags = scala.collection.mutable.ArrayBuffer.empty[String]
      while (pr.next()) {
        val b = pr.get()
        val it = b.rowIterator()
        while (it.hasNext) {
          val row = it.next()
          ids += row.getLong(0)
          tags += row.getUTF8String(2).toString
        }
      }
      assert(ids.toSeq == (4000L until 6000L).toSeq, "exactly strides 4 and 5 decoded")
      assert(tags.toSeq == (4000L until 6000L).map(i => s"cat-${i % 20}").toSeq,
        "dictionary string decodes correctly after seek")
      assert(r.counters.stridesSkipped == 8)
      assert(r.counters.batchesEmitted > 0)
    } finally r.close()
  }

  test("columnar stride skipping handles discontiguous runs") {
    val dir = writeSorted(stride = 1000)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val readSchema = org.apache.spark.sql.types.StructType(
        r.schema.fields.filter(f => Seq("id", "uid").contains(f.name)))
      // strides 1 and 7 survive; the decoder must seek across the gap
      val pr = new DwrfColumnarPartitionReader(r, r.batches(r.footer.stripes, readSchema,
        Seq(In("id", Array[Any](1500L, 7500L)))))
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val uids = scala.collection.mutable.ArrayBuffer.empty[String]
      while (pr.next()) {
        val b = pr.get()
        val it = b.rowIterator()
        while (it.hasNext) {
          val row = it.next()
          ids += row.getLong(0)
          uids += row.getUTF8String(1).toString
        }
      }
      val expect = (1000L until 2000L) ++ (7000L until 8000L)
      assert(ids.toSeq == expect.toSeq)
      assert(uids.toSeq == expect.map(i => f"uniq-$i%08d").toSeq,
        "direct string decodes correctly after a non-adjacent seek")
      assert(r.counters.stridesSkipped == 8)
    } finally r.close()
  }

  test("stride skipping prunes I/O, not just decode (byte-range reads)") {
    // bigger file so per-stride byte ranges dominate fixed overheads;
    // NONE compression makes byte accounting deterministic
    val dir = graft.TestDirs.tmp("dwrf-ioprune-").toString
    spark.range(0, 100000, 1, 1).select(
      col("id"),
      format_string("%064d", col("id")).as("payload"))
      .write.format("dwrf").mode("overwrite")
      .option("compress", "NONE")
      .option("row.index.stride", "5000").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head

    def bytesFor(filters: Seq[Filter]): Long = {
      val r = new DwrfFileReader(file, new Configuration())
      try {
        val n = r.rows(r.footer.stripes, r.schema, filters).length
        if (filters.isEmpty) assert(n == 100000) else assert(n == 5000)
        r.counters.bytesRead
      } finally r.close()
    }

    val full = bytesFor(Nil)
    // one stride of 20 survives => payload bytes read should be ~5%
    val pruned = bytesFor(Seq(GreaterThanOrEqual("id", 50000L), LessThan("id", 55000L)))
    assert(pruned < full / 5,
      s"pruned=$pruned full=$full: surviving-run byte ranges only")

    // same through the columnar reader
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val pr = new DwrfColumnarPartitionReader(r, r.batches(r.footer.stripes, r.schema,
        Seq(GreaterThanOrEqual("id", 50000L), LessThan("id", 55000L))))
      var rows = 0L
      while (pr.next()) rows += pr.get().numRows()
      assert(rows == 5000)
      assert(r.counters.bytesRead < full / 5,
        s"columnar pruned=${r.counters.bytesRead} full=$full")
    } finally r.close()
  }

  test("array and map columns vectorize, including filtered stride-seek reads") {
    val dir = graft.TestDirs.tmp("dwrf-nestedvec-").toString
    spark.range(0, 8000, 1, 1).select(
      col("id"),
      when(col("id") % 11 =!= 0,
        sequence(lit(0L), col("id") % 4)).as("arr"), // nulls + variable len
      map(concat(lit("k"), col("id") % 3), col("id").cast("double")).as("m"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)

    val q = spark.read.format("dwrf").load(dir)
      .filter(col("id") >= 3000 && col("id") < 3010)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "array/map scan must take the columnar path")
    val got = q.orderBy("id").collect()
    assert(got.length == 10)
    got.foreach { r =>
      val id = r.getLong(0)
      if (id % 11 == 0) assert(r.isNullAt(1))
      else assert(r.getSeq[Long](1) == (0L to id % 4).toSeq, s"id $id array")
      assert(r.getMap[String, Double](2) == Map(s"k${id % 3}" -> id.toDouble), s"id $id map")
    }
  }

  test("stride pruning is exact with tiny compression chunks (slack stress)") {
    // 1 KB chunks + 10-byte varints: boundary-straddling RLE runs span
    // several chunks; the pruning slack must still cover their tails.
    // Large alternating values defeat delta runs => max-width literals.
    val dir = graft.TestDirs.tmp("dwrf-slack-").toString
    spark.range(0, 20000, 1, 1).select(
      col("id"),
      (when(col("id") % 2 === 0, lit(Long.MaxValue) - col("id") * 7)
        .otherwise(lit(Long.MinValue) + col("id") * 11)).as("big"))
      .write.format("dwrf").mode("overwrite")
      .option("compress", "ZLIB")
      .option("compress.size", "1024")
      .option("row.index.stride", "1000").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val readSchema = r.schema
      for (k <- Seq(0, 7, 13, 19)) {
        val lo = k * 1000L
        val rows = r.rows(r.footer.stripes, readSchema,
          Seq(GreaterThanOrEqual("id", lo), LessThan("id", lo + 1000))).toVector
        assert(rows.size == 1000, s"stride $k")
        rows.foreach { row =>
          val id = row.getLong(0)
          val expect =
            if (id % 2 == 0) Long.MaxValue - id * 7 else Long.MinValue + id * 11
          assert(row.getLong(1) == expect, s"id $id decoded wrong after pruning")
        }
      }
    } finally r.close()
  }

  test("nested struct-field predicates skip stripes and strides") {
    val dir = graft.TestDirs.tmp("dwrf-nestpush-").toString
    // st.ok = id*2, sorted => stride k holds st.ok in [2k*1000, 2(k+1)*1000)
    spark.range(0, 10000, 1, 1).select(
      col("id"),
      struct((col("id") * 2).as("ok"),
        concat(lit("v-"), format_string("%06d", col("id"))).as("tag")).as("st"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)

    // reader level: a dotted filter resolves to the nested column's stats
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val rows = r.rows(r.footer.stripes, r.schema,
        Seq(LessThan("st.ok", 1000L))).toVector
      assert(rows.size == 1000, "st.ok < 1000 lives entirely in stride 0")
      assert(r.counters.stridesSkipped == 9, "the other nine strides skip")
      // decoded struct values must be right after the (trivial) seek
      assert(rows.map(_.getStruct(1, 2).getLong(0)) == (0L until 2000L by 2).toVector)
    } finally r.close()

    // refutable range => whole stripe skipped on nested stats
    val r2 = new DwrfFileReader(file, new Configuration())
    try {
      assert(r2.rows(r2.footer.stripes, r2.schema,
        Seq(GreaterThan("st.ok", 999999L))).isEmpty)
      assert(r2.counters.stripesSkipped == 1)
    } finally r2.close()

    // mid-file stride through a dotted equality, struct decode checked
    val r3 = new DwrfFileReader(file, new Configuration())
    try {
      val rows = r3.rows(r3.footer.stripes, r3.schema,
        Seq(EqualTo("st.ok", 7000L))).toVector
      assert(rows.size == 1000, "one stride survives")
      val hit = rows.find(_.getLong(0) == 3500L).get
      assert(hit.getStruct(1, 2).getUTF8String(1).toString == "v-003500")
    } finally r3.close()

    // Spark level: the nested predicate is pushed to the dwrf scan
    val df = spark.read.format("dwrf").load(dir).filter(col("st.ok") > 19000L)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.forall { s =>
      val d = s.scan.description()
      d.contains("PushedFilters: [") && !d.contains("PushedFilters: []")
    }, scans.map(_.scan.description()).mkString("\n"))
    val got = df.select("id").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == (9501L until 10000L).toSeq)
  }

  test("A3: dictionary abandons mid-stripe for unique-heavy strings") {
    val dir = graft.TestDirs.tmp("dwrf-abandon-").toString
    // 30k unique strings; abandon threshold crossed after ~1k rows (29 B
    // keys + 64 B/key bookkeeping > 64 KB), so the conversion fires
    // mid-stripe with stride markers recorded before AND after it
    spark.range(0, 30000, 1, 1).select(
      col("id"),
      concat(lit("uniq-"), format_string("%024d", col("id"))).as("u"),
      concat(lit("cat-"), col("id") % 10).as("tag")) // stays dictionary
      .write.format("dwrf").mode("overwrite")
      .option("dictionary.abandon.bytes", "65536")
      .option("row.index.stride", "1000").save(dir)

    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val sf = r.readStripeFooter(r.footer.stripes.head)
      val ids = ColumnTree.topLevelIds(r.schema)
      val byName = r.schema.fieldNames.zip(ids).toMap
      assert(!sf.encodings(byName("u")).dictionary,
        "abandoned column must write DIRECT")
      assert(sf.encodings(byName("tag")).dictionary,
        "low-cardinality sibling keeps its dictionary")
    } finally r.close()

    // full round trip exact
    val df = spark.read.format("dwrf").load(dir)
    assert(df.count() == 30000)
    val rows = df.orderBy("id").collect()
    rows.foreach { row =>
      val id = row.getLong(0)
      assert(row.getString(1) == f"uniq-$id%024d", s"id $id after abandonment")
      assert(row.getString(2) == s"cat-${id % 10}")
    }
    // stride seek through the abandoned column's captured positions
    val got = df.filter(col("id") >= 14000 && col("id") < 14005)
      .select("u").orderBy("u").collect().map(_.getString(0))
    assert(got.toSeq == (14000L until 14005L).map(i => f"uniq-$i%024d"))
  }

  test("dictionary encoding engages for low-cardinality columns") {
    val dir = writeSorted(stride = 1000)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val sf = r.readStripeFooter(r.footer.stripes.head)
      val ids = ColumnTree.topLevelIds(r.schema)
      val byName = r.schema.fieldNames.zip(ids).toMap
      assert(!sf.encodings(byName("id")).dictionary, "sequential ids: direct")
      assert(sf.encodings(byName("bucket")).dictionary, "50 distinct ints: dictionary")
      assert(sf.encodings(byName("bucket")).dictionarySize == 50)
      assert(sf.encodings(byName("tag")).dictionary, "20 distinct strings: dictionary")
      assert(sf.encodings(byName("tag")).dictionarySize == 20)
      assert(!sf.encodings(byName("uid")).dictionary, "unique strings: direct")
    } finally r.close()
  }
}
