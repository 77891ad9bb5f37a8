package graft.sources.dwrf

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The reader filter: pushed predicates the dwrf reader owns are
  * evaluated exactly inside the reader, and Spark plans no `Filter` for
  * them. Differential against parquet over every atomic type, widened
  * columns (nested ones too) and every kind of read — delete vectors,
  * `_pos`, change-feed deltas, empty projections — each of which must
  * read columnar, plus the plan shape and the row-level operations that
  * read through the same scan.
  */
class DwrfReaderFilterSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String = graft.TestDirs.tmp(prefix).toString

  private def filterExecs(df: DataFrame): Seq[FilterExec] = {
    df.collect()
    df.queryExecution.executedPlan.collect { case f: FilterExec => f } ++
      df.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case f: FilterExec => f }
      }.flatten
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  // ------------------------------------------------------ differential

  /** Column name → (type, the values rows draw from). */
  private val pools: Seq[(String, DataType, IndexedSeq[Any])] = Seq(
    ("b", ByteType, IndexedSeq[Byte](-128, -1, 0, 1, 5, 127)),
    ("s", ShortType, IndexedSeq[Short](-32768, -3, 0, 7, 300, 32767)),
    ("i", IntegerType, IndexedSeq(Int.MinValue, -5, 0, 1, 42, Int.MaxValue)),
    ("l", LongType, IndexedSeq(Long.MinValue, -7L, 0L, 3L, 1L << 40, Long.MaxValue)),
    ("f", FloatType, IndexedSeq(Float.NaN, -0.0f, 0.0f, 1.5f, -2.25f,
      Float.PositiveInfinity)),
    ("d", DoubleType, IndexedSeq(Double.NaN, -0.0, 0.0, 1.0, 2.5, -1e300,
      Double.NegativeInfinity, Double.PositiveInfinity)),
    ("str", StringType, IndexedSeq("", "a", "ab", "abc", "é", "日本", "zz", "Ab")),
    ("bool", BooleanType, IndexedSeq(true, false)),
    ("dec", DecimalType(7, 2), IndexedSeq("-12345.67", "0.00", "1.25", "99999.99",
      "0.01").map(new java.math.BigDecimal(_))),
    ("dl", DecimalType(15, 3), IndexedSeq("-1.000", "0.001", "123456789012.345",
      "5.500").map(new java.math.BigDecimal(_))),
    ("dt", DateType, IndexedSeq("1900-01-01", "1969-12-31", "1970-01-01",
      "2000-06-15").map(java.sql.Date.valueOf)),
    ("ts", TimestampType, IndexedSeq("1950-05-05 12:00:00",
      "1969-12-31 23:59:59.999999", "1970-01-01 00:00:00",
      "2024-01-01 10:11:12.123456").map(java.sql.Timestamp.valueOf)),
    // narrower in the older files (see `narrower`): widened at read
    ("w", LongType, IndexedSeq(Int.MinValue.toLong, -1L, 0L, 9L, 1L << 33,
      Long.MaxValue)),
    ("wb", LongType, IndexedSeq(-128L, -1L, 0L, 5L, 127L, 1L << 40, Long.MinValue)),
    ("wf", DoubleType, IndexedSeq(Double.NaN, -0.0, 1.5, -2.25, 1e300,
      Double.PositiveInfinity)),
    // only the newer files have it
    ("late", IntegerType, IndexedSeq(0, 1, 2)),
    ("p", IntegerType, IndexedSeq(0, 1, 2)))

  /** The columns the older files store narrower: their type there and
    * the values their rows draw from. */
  private val narrower: Map[String, (DataType, IndexedSeq[Any])] = Map(
    "w" -> (IntegerType, IndexedSeq(Int.MinValue, -1, 0, 9)),
    "wb" -> (ByteType, IndexedSeq[Byte](-128, -1, 0, 5, 127)),
    "wf" -> (FloatType, IndexedSeq(Float.NaN, -0.0f, 1.5f, -2.25f,
      Float.PositiveInfinity)))

  /** Nested columns whose leaves the older files store narrower: an
    * array of bytes, a struct of int and float, a map of float values,
    * all widened to long and double at read. */
  private def nestedType(older: Boolean): Seq[StructField] = {
    val (long, double) = if (older) (ByteType, FloatType) else (LongType, DoubleType)
    Seq(StructField("na", ArrayType(long)),
      StructField("ns", StructType(Seq(StructField("x",
        if (older) IntegerType else LongType), StructField("y", double)))),
      StructField("nm", MapType(StringType, double)))
  }

  private def nestedValues(older: Boolean, rnd: scala.util.Random): Seq[Any] = {
    def long(): Any =
      if (rnd.nextDouble() < 0.1) null
      else if (older) Seq[Byte](-128, -1, 0, 7, 127)(rnd.nextInt(5))
      else Seq(Long.MinValue, -1L, 0L, 7L, 1L << 40)(rnd.nextInt(5))
    def double(): Any =
      if (rnd.nextDouble() < 0.1) null
      else if (older) Seq(Float.NaN, -0.0f, 0.1f, -2.25f)(rnd.nextInt(4))
      else Seq(Double.NaN, -0.0, 0.1, 1e300)(rnd.nextInt(4))
    def orNull(v: => Any): Any = if (rnd.nextDouble() < 0.12) null else v
    Seq(
      orNull(Seq.fill(rnd.nextInt(4))(long())),
      orNull(Row(if (older) Seq(Int.MinValue, 0, 3)(rnd.nextInt(3))
        else Seq(Long.MaxValue, 0L, 3L)(rnd.nextInt(3)), double())),
      orNull((0 until rnd.nextInt(3)).map(j => s"k$j" -> double()).toMap))
  }

  /** Two file generations: the older lacks `late` and stores the
    * `narrower` columns and the nested leaves narrower; `p` partitions
    * both. */
  private def generation(older: Boolean, ids: Range, rnd: scala.util.Random): DataFrame = {
    val cols = pools.filterNot(older && _._1 == "late")
    val rows = ids.map { id =>
      Row.fromSeq((id.toLong +: cols.map { case (name, dt, vs) =>
        val nullShare = if (name == "p") 0.1 else 0.12
        if (rnd.nextDouble() < nullShare) null
        else narrower.get(name) match {
          case Some((_, olderVs)) if older => olderVs(rnd.nextInt(olderVs.length))
          case _ => vs(rnd.nextInt(vs.length))
        }
      }) ++ nestedValues(older, rnd) :+ s"u$id-${rnd.nextInt(1000)}")
    }
    val schema = StructType((StructField("id", LongType) +: cols.map { case (n, dt, _) =>
      StructField(n, narrower.get(n).filter(_ => older).fold(dt)(_._1))
    }) ++ nestedType(older) :+ StructField("u", StringType))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** The dwrf scans of `df`'s executed plan, adaptive stages included;
    * `df` must have run. */
  private def dwrfScans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[DwrfScan] => b
    }

  /** Collects `df` and asserts that every dwrf scan in its plan read
    * columnar batches (a contradictory predicate plans none). */
  private def collectColumnar(df: DataFrame, clue: String): Array[Row] = {
    val rows = df.collect()
    assert(dwrfScans(df).forall(_.supportsColumnar), s"$clue: a row scan\n" +
      df.queryExecution.executedPlan)
    rows
  }

  /** Deterministic stand-in for scalatestplus's forAll (as in
    * KernelSpec): sample the generator across fixed seeds. */
  private def forSamples[A](gen: Gen[A], n: Int)(check: (Int, A) => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default.withSize(i % 100 + 1), Seed(20261018L + i))
        .foreach(check(i, _))
    }

  /** A leaf the reader owns: a comparison, `<=>`, IN (maybe with a
    * NULL) or IS [NOT] NULL on one column, with a literal of its type. */
  private val leafGen: Gen[(Column, String)] = for {
    (name, dt, vs) <- Gen.frequency(
      pools.length -> Gen.oneOf(pools),
      2 -> Gen.const(("u", StringType: DataType, IndexedSeq[Any]("u3-", "u5", "u42-"))))
    shape <- Gen.choose(0, 4)
    op <- Gen.choose(0, 5)
    v <- Gen.oneOf(vs)
    more <- Gen.listOfN(2, Gen.oneOf(vs))
    withNull <- Gen.oneOf(true, false, false)
  } yield {
    def litOf(x: Any): Column =
      if (x == null) lit(null).cast(dt) else lit(x).cast(dt)
    val c = col(name)
    shape match {
      case 0 =>
        val ops = Seq[(String, Column => Column)](
          "=" -> (c === _), "<" -> (c < _), "<=" -> (c <= _),
          ">" -> (c > _), ">=" -> (c >= _), "!=" -> (c =!= _))
        (ops(op)._2(litOf(v)), s"$name ${ops(op)._1} $v")
      case 1 =>
        val x = if (withNull) null else v
        (c <=> litOf(x), s"$name <=> $x")
      case 2 =>
        val xs = (v +: more.take(op % 3)) ++ (if (withNull) Seq(null) else Nil)
        (c.isin(xs.map(litOf): _*), s"$name IN (${xs.mkString(", ")})")
      case 3 => (c.isNull, s"$name IS NULL")
      case _ => (c.isNotNull, s"$name IS NOT NULL")
    }
  }

  /** AND/OR/NOT trees of owned leaves, `depth` levels deep at most. */
  private def predGen(depth: Int): Gen[(Column, String)] =
    if (depth <= 0) leafGen
    else Gen.frequency(
      4 -> leafGen,
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map {
        case ((a, da), (b, db)) => (a && b, s"($da AND $db)") },
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map {
        case ((a, da), (b, db)) => (a || b, s"($da OR $db)") },
      1 -> predGen(depth - 1).map { case (a, da) => (!a, s"NOT $da") })

  test("differential: owned predicates over every atomic type and read path equal parquet") {
    val rnd = new scala.util.Random(20261018L)
    val dir = tmp("dwrf-rf-")
    val dvDir = tmp("dwrf-rf-dv-")
    val pq = tmp("dwrf-rf-pq-")
    val old = generation(older = true, 0 until 300, rnd).cache()
    val neu = generation(older = false, 300 until 600, rnd).cache()
    Seq(dir, dvDir).foreach { d =>
      old.write.format("dwrf").partitionBy("p").mode("append")
        .option("row.index.stride", "16").save(d)
      neu.write.format("dwrf").partitionBy("p").mode("append").save(d)
    }
    val widened = narrower.keys.foldLeft(old) { (df, n) =>
      df.withColumn(n, col(n).cast(pools.find(_._1 == n).get._2))
    }
    val all = nestedType(older = false).foldLeft(widened) { (df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.dataType))
    }.withColumn("late", lit(null).cast(IntegerType)).unionByName(neu)
    all.write.mode("overwrite").parquet(pq)

    val dwrf = spark.read.format("dwrf").load(dir)
    val ref = spark.read.parquet(pq)
    assert(narrower.keys.forall(n => dwrf.schema(n).dataType == ref.schema(n).dataType))
    assert(nestedType(older = false).forall(f =>
      dwrf.schema(f.name).dataType.simpleString == f.dataType.simpleString))
    val names = ref.columns.toSeq
    def select(df: DataFrame, cols: Seq[String]): DataFrame = df.select(cols.map(col): _*)

    // unfiltered: every column, widened ones included, and `_pos`
    val full = collectColumnar(select(dwrf, names :+ "_file" :+ "_pos"), "unfiltered")
    assert(sorted(full.map(r => Row.fromSeq(r.toSeq.take(names.length)))) ==
      sorted(select(ref, names).collect()), "unfiltered")
    // every row's provenance: each file's rows hold positions 0 until n
    val where: Map[Long, (String, Long)] = full.map(r =>
      r.getLong(0) -> (r.getString(names.length), r.getLong(names.length + 1))).toMap
    assert(where.size == 600)
    where.values.groupBy(_._1).foreach { case (file, ps) =>
      assert(ps.map(_._2).toSeq.sorted == (0L until ps.size).toSeq, s"_pos of $file")
    }
    // an empty projection counts through the scan, not the footers
    val noAgg = spark.read.format("dwrf").option("aggregate.pushdown", "false")
    assert(collectColumnar(noAgg.load(dir).groupBy().count(), "count").head.getLong(0) == 600)

    // merge-on-read deletes give every file a delete vector
    DwrfLog.enable(new Path(dvDir), DwrfUtil.sessionHadoopConf())
    val dvWhere: Map[Long, Long] = spark.read.format("dwrf").load(dvDir)
      .select("id", "_pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("DROP TABLE IF EXISTS dwrf_rf_dv")
    spark.sql(s"CREATE TABLE dwrf_rf_dv USING dwrf LOCATION '$dvDir' " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    val deleteVersion = DwrfLog.latestVersion(new Path(dvDir), DwrfUtil.sessionHadoopConf())
      .get + 1
    val deleted = (0L until 600L).filter(_ % 5 == 0)
    spark.sql(s"DELETE FROM dwrf_rf_dv WHERE id IN (${deleted.mkString(", ")})")
    val dv = spark.read.format("dwrf").load(dvDir)
    val kept = ref.filter(!col("id").isin(deleted: _*))
    val dvFull = collectColumnar(select(dv, names :+ "_pos"), "unfiltered delete vectors")
    assert(sorted(dvFull.map(r => Row.fromSeq(r.toSeq.init))) ==
      sorted(select(kept, names).collect()), "unfiltered delete vectors")
    dvFull.foreach(r => assert(r.getLong(names.length) == dvWhere(r.getLong(0)), "dv _pos"))
    assert(collectColumnar(noAgg.load(dvDir).groupBy().count(), "dv count")
      .head.getLong(0) == 480)

    // the change feed of the delete: exactly the deleted rows
    val feedOut = tmp("dwrf-rf-cdf-")
    val q = spark.readStream.format("dwrf")
      .option(DwrfChanges.ReadChangeFeedKey, "true")
      .option("startingVersion", deleteVersion.toString)
      .load(dvDir)
      .writeStream.format("parquet")
      .option("path", s"$feedOut/out").option("checkpointLocation", s"$feedOut/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val feedScans = collect(q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan) {
      case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
    }
    assert(feedScans.nonEmpty && feedScans.forall(_.supportsColumnar), "change feed: a row scan")
    val feed = spark.read.parquet(s"$feedOut/out")
    assert(feed.select("_change_type").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("delete"))
    assert(sorted(select(feed, names).collect()) ==
      sorted(select(ref.filter(col("id").isin(deleted: _*)), names).collect()), "change feed")

    forSamples(predGen(2), 40) { case (k, (pred, desc)) =>
      val want = ref.filter(pred)
      def clue(what: String) = s"case $k [$desc] $what"

      // every column, with `_pos`
      val a = select(dwrf.filter(pred), names :+ "_pos")
      val got = collectColumnar(a, clue("all columns"))
      assert(sorted(got.map(r => Row.fromSeq(r.toSeq.init))) ==
        sorted(select(want, names).collect()), clue("all columns"))
      assert(filterExecs(a).isEmpty, clue(s"left a Filter:\n${a.queryExecution.executedPlan}"))
      got.foreach { r =>
        val id = r.getLong(0)
        assert(r.getLong(names.length) == where(id)._2, clue(s"_pos of $id"))
      }
      // a projection without the predicate's columns, with `_file`
      val c = collectColumnar(dwrf.filter(pred).select("id", "_file"), clue("id-only"))
      assert(c.map(_.getLong(0)).sorted.toSeq ==
        want.select("id").collect().map(_.getLong(0)).sorted.toSeq, clue("id-only"))
      c.foreach(r => assert(r.getString(1) == where(r.getLong(0))._1, clue("_file")))
      assert(dwrf.filter(pred).count() == c.length, clue("count"))
      // delete-vector files, with `_pos`
      val d = collectColumnar(select(dv.filter(pred), names :+ "_pos"), clue("delete vectors"))
      assert(sorted(d.map(r => Row.fromSeq(r.toSeq.init))) ==
        sorted(select(want.filter(!col("id").isin(deleted: _*)), names).collect()),
        clue("delete vectors"))
      d.foreach(r => assert(r.getLong(names.length) == dvWhere(r.getLong(0)),
        clue("delete-vector _pos")))
    }
    old.unpersist(); neu.unpersist()
    spark.sql("DROP TABLE dwrf_rf_dv")
  }

  test("no row reader: a row read fails loudly, naming the partition") {
    val dir = tmp("dwrf-rf-norow-")
    spark.range(0, 10, 1, 1).write.format("dwrf").mode("overwrite").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), DwrfUtil.sessionHadoopConf()).head
    val factory = new DwrfPartitionReaderFactory(
      StructType(Seq(StructField("id", LongType))).json, Array.empty,
      new SerializableHadoopConf(DwrfUtil.sessionHadoopConf()))
    val partition = DwrfInputPartition(file.toString, 0L, Long.MaxValue)
    assert(factory.supportColumnarReads(partition))
    val e = intercept[UnsupportedOperationException](factory.createReader(partition))
    assert(e.getMessage.contains(file.toString), e.getMessage)
  }

  test("evaluator: Spark's double ordering, inexact and out-of-range literals") {
    val schema = StructType(Seq(StructField("d", DoubleType),
      StructField("x", DecimalType(5, 2)), StructField("n", IntegerType)))
    import ExactFilter.{F, N, T}
    def eval(f: sources.Filter, row: Seq[Any]): Byte =
      Option(ExactFilter.compile(Seq(f), schema(_).dataType,
        a => ExactFilter.Slot(schema.fieldIndex(a), schema(a).dataType)))
        .fold(T)(_.evalRow(org.apache.spark.sql.catalyst.InternalRow.fromSeq(row)))
    val nan = Seq(Double.NaN, null, null)
    assert(eval(sources.GreaterThan("d", 1.0), nan) == T)
    assert(eval(sources.EqualTo("d", Double.NaN), nan) == T)
    assert(eval(sources.LessThan("d", Double.PositiveInfinity), nan) == F)
    assert(eval(sources.EqualTo("d", 0.0), Seq(-0.0, null, null)) == T)
    assert(eval(sources.In("d", Array(-0.0, 3.0)), Seq(0.0, null, null)) == T)
    assert(eval(sources.In("d", Array(3.0, null)), Seq(0.0, null, null)) == N)
    assert(eval(sources.EqualNullSafe("d", 1.0), Seq(null, null, null)) == F)
    assert(eval(sources.In("d", Array.empty[Any]), Seq(null, null, null)) == F)
    // 1.255 lies between the unscaled 125 and 126
    val x = Seq(null, Decimal(new java.math.BigDecimal("1.25"), 5, 2), null)
    val dec = new java.math.BigDecimal("1.255")
    assert(eval(sources.EqualTo("x", dec), x) == F)
    assert(eval(sources.LessThan("x", dec), x) == T)
    assert(eval(sources.GreaterThanOrEqual("x", dec), x) == F)
    val n = Seq(null, null, Int.MaxValue)
    assert(eval(sources.LessThan("n", Long.MaxValue), n) == T)
    assert(eval(sources.GreaterThan("n",
      new java.math.BigDecimal("1e30")), n) == F)
    assert(eval(sources.GreaterThan("n",
      new java.math.BigDecimal("-1e30")), n) == T)
    assert(eval(sources.Not(sources.EqualTo("n", 3)), Seq(null, null, null)) == N)
  }

  test("filtered batches compact nested, string and null rows in place") {
    val dir = tmp("dwrf-rf-nested-")
    val pq = tmp("dwrf-rf-nested-pq-")
    val src = spark.range(0, 10000, 1, 2).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(
        array(col("id").cast("int"), (col("id") * 2).cast("int"))).as("arr"),
      map(concat(lit("k"), (col("id") % 5).cast("string")), col("id").cast("int")).as("m"),
      when(col("id") % 11 === 0, lit(null)).otherwise(
        struct((col("id") % 13).cast("int").as("a"),
          concat(lit("s"), col("id").cast("string")).as("s"))).as("st"),
      when(col("id") % 3 === 0, lit(null)).otherwise(
        concat(lit("u"), col("id").cast("string"))).as("str"),
      (col("id") % 4).cast("string").as("tag"))
    src.write.format("dwrf").mode("overwrite").save(dir)
    src.write.mode("overwrite").parquet(pq)
    val keys = (0L until 10000L).filter(i => i % 5 == 1 || i % 97 == 0)
    Seq[Column](col("id").isin(keys: _*), col("tag") === "2" && col("id") > 2500L,
      col("str").isNull && col("id") < 5000L || col("id") === 9999L).foreach { p =>
      val got = spark.read.format("dwrf").load(dir).filter(p)
      val want = spark.read.parquet(pq).filter(p)
      assert(sorted(got.collect()) == sorted(want.collect()), p.toString)
    }
  }

  // ------------------------------------------------------- plan shape

  test("plan: owned predicates leave no Filter; StringStartsWith and struct paths keep one") {
    val dir = tmp("dwrf-rf-plan-")
    spark.range(0, 500, 1, 2).select(col("id"),
      concat(lit("n"), col("id")).as("name"),
      struct((col("id") % 7).cast("int").as("a"), lit("x").as("b")).as("st"))
      .write.format("dwrf").mode("overwrite").save(dir)
    val df = spark.read.format("dwrf").load(dir)

    val owned = df.filter(col("id") > 100 && !(col("name") === "n150")).select("name")
    assert(filterExecs(owned).isEmpty, owned.queryExecution.executedPlan.toString)
    assert(owned.count() == 398)
    val scan = owned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("ReaderFilters: ["), scan.scan.description())
    assert(scan.supportsColumnar)

    val prefix = df.filter(col("name").startsWith("n1"))
    assert(filterExecs(prefix).nonEmpty, "StringStartsWith stays with Spark")
    assert(prefix.count() == 111)
    val nested = df.filter(col("st.a") === 3)
    assert(filterExecs(nested).nonEmpty, "dotted struct paths stay with Spark")
    assert(nested.count() == 71)
    // a mix: Spark keeps only the part graft does not own
    val mixed = df.filter(col("id") < 150 && col("name").startsWith("n1"))
    val kept = filterExecs(mixed)
    assert(kept.nonEmpty && kept.forall(!_.condition.references.exists(_.name == "id")),
      mixed.queryExecution.executedPlan.toString)
    assert(mixed.count() == 61)

    // the builder API: owned filters are claimed, the rest returned; a
    // copy-on-write replace scan claims nothing
    val schema = df.schema
    val fs = Array[sources.Filter](sources.GreaterThan("id", 5L),
      sources.StringStartsWith("name", "n"), sources.EqualTo("st.a", 1))
    val b = new DwrfScanBuilder(schema, dir)
    assert(b.pushFilters(fs).toSeq == fs.toSeq.tail)
    assert(b.pushedFilters().toSet == fs.toSet)
    val replace = new DwrfScanBuilder(schema, dir)
    replace.replacedFilesOut = new AtomicReference(ReplacedSet(Nil, Map.empty))
    assert(replace.pushFilters(fs).toSeq == fs.toSeq)
  }

  test("an owned filter refuses the footer-stats aggregate") {
    val dir = tmp("dwrf-rf-agg-")
    spark.range(0, 1000, 1, 2).write.format("dwrf").mode("overwrite").save(dir)
    val df = spark.read.format("dwrf").load(dir)
    assert(df.filter(!(col("id") <=> 5L)).agg(max("id"), count(lit(1))).head() ==
      Row(999L, 999L))
    assert(df.filter(col("id") < 10).count() == 10)
  }

  // ------------------------------------------------- row-level paths

  private def nanRows(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq[(Long, java.lang.Double)]((1L, 0.5), (2L, Double.NaN), (3L, 2.0),
      (4L, -0.0), (5L, null))
      .toDF("id", "v").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
  }

  test("copy-on-write UPDATE with an owned predicate changes exactly its rows") {
    val dir = tmp("dwrf-rf-cow-")
    nanRows(dir)
    spark.sql("DROP TABLE IF EXISTS dwrf_rf_cow")
    spark.sql(s"CREATE TABLE dwrf_rf_cow USING dwrf LOCATION '$dir'")
    spark.sql("UPDATE dwrf_rf_cow SET id = id + 100 WHERE v > 1.0")
    spark.sql("UPDATE dwrf_rf_cow SET id = id + 1000 WHERE v = 0.0")
    assert(spark.table("dwrf_rf_cow").select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 5L, 102L, 103L, 1004L))
    spark.sql("DROP TABLE dwrf_rf_cow")
  }

  test("merge-on-read MERGE with an owned target predicate changes exactly its rows") {
    val s = spark
    import s.implicits._
    val dir = tmp("dwrf-rf-mor-")
    nanRows(dir)
    DwrfLog.enable(new Path(dir), DwrfUtil.sessionHadoopConf())
    s.sql("DROP TABLE IF EXISTS dwrf_rf_mor")
    s.sql(s"CREATE TABLE dwrf_rf_mor USING dwrf LOCATION '$dir' " +
      "TBLPROPERTIES ('merge.mode'='merge-on-read')")
    (1L to 5L).toDF("sid").createOrReplaceTempView("dwrf_rf_src")
    s.sql("""MERGE INTO dwrf_rf_mor t USING dwrf_rf_src c
            |ON t.id = c.sid AND t.v > 1.0
            |WHEN MATCHED THEN UPDATE SET id = t.id + 100
            |""".stripMargin)
    assert(DwrfLog.latest(new Path(dir), DwrfUtil.sessionHadoopConf()).get.dvs.nonEmpty)
    assert(s.table("dwrf_rf_mor").select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 4L, 5L, 102L, 103L))
    s.sql("DROP TABLE dwrf_rf_mor")
  }
}
