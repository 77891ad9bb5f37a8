package graft.sources.dwrf


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object TestSpark {
  // the canonical extensions ride every suite's session: if the lake
  // SQL parser ever broke ordinary SQL fall-through, the whole test
  // suite would fail loudly, not just LakeSqlSpec
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dwrf-test")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** End-to-end write→read parity, the analog of the reference's
  * TestOrcFile round trips (SURVEY §5.2) over FIXTURES.md shapes.
  */
class DwrfRoundTripSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  private def tmpDir(): String = {
    val d = graft.TestDirs.tmp("dwrf-test-").toString
    d
  }

  private def roundTrip(df: DataFrame, options: Map[String, String] = Map.empty): DataFrame = {
    val dir = tmpDir()
    val w = df.write.format("dwrf").mode("overwrite")
    options.foreach { case (k, v) => w.option(k, v) }
    w.save(dir)
    spark.read.format("dwrf").load(dir)
  }

  /** Canonical render (byte arrays by content, maps sorted) so rows can be
    * compared as sets regardless of partition order.
    */
  private def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("Row(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("Map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("Seq(", ",", ")")
    case f: Float => java.lang.Float.toString(f)
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private def assertSameRows(expected: DataFrame, actual: DataFrame): Unit = {
    val e = expected.collect().toSeq
    val a = actual.collect().toSeq
    assert(a.length == e.length, s"row count: got ${a.length}, want ${e.length}")
    val es = e.map(render).sorted
    val as = a.map(render).sorted
    assert(es == as, {
      val diff = es.zip(as).collectFirst { case (x, y) if x != y => s"first diff:\n  want $x\n  got  $y" }
      diff.getOrElse("")
    })
  }

  test("flat primitives round trip, every codec") {
    import spark.implicits._
    val df = spark.range(0, 10000).select(
      col("id"),
      (col("id") % 7).cast("int").as("i"),
      (col("id") % 3).cast("short").as("sh"),
      (col("id") % 120).cast("byte").as("b"),
      (col("id") === 0).as("flag"),
      (col("id") * 1.5).cast("double").as("d"),
      (col("id") * 0.25).cast("float").as("f"),
      concat(lit("row-"), col("id")).as("s"))
    for (codec <- Seq("NONE", "ZLIB", "SNAPPY", "ZSTD", "LZ4")) {
      val back = roundTrip(df, Map("compress" -> codec))
      assertSameRows(df, back)
    }
  }

  test("nulls + PRESENT suppression") {
    val df = TestSpark.spark.range(0, 5000).select(
      col("id"),
      when(col("id") % 3 === 0, col("id") * 2).as("maybe_long"),
      when(col("id") % 5 === 0, concat(lit("v"), col("id"))).as("maybe_str"),
      when(col("id") % 7 === 0, col("id").cast("double")).as("maybe_d"))
    assertSameRows(df, roundTrip(df))
  }

  test("all-null column") {
    val df = TestSpark.spark.range(0, 100).select(
      col("id"), lit(null).cast("string").as("all_null"))
    assertSameRows(df, roundTrip(df))
  }

  test("timestamps incl. pre-1970 and sub-second") {
    import spark.implicits._
    val df = Seq(
      java.sql.Timestamp.valueOf("1969-07-20 20:17:40.123456"),
      java.sql.Timestamp.valueOf("2015-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-02-29 23:59:59.999999"),
      java.sql.Timestamp.valueOf("1900-01-01 00:00:01.000001"),
      java.sql.Timestamp.valueOf("2001-09-09 01:46:40.5")
    ).toDF("ts")
    assertSameRows(df, roundTrip(df))
  }

  test("dates") {
    import spark.implicits._
    val df = Seq(
      java.sql.Date.valueOf("1969-12-31"),
      java.sql.Date.valueOf("1970-01-01"),
      java.sql.Date.valueOf("2024-06-15")).toDF("d")
    assertSameRows(df, roundTrip(df))
  }

  test("binary") {
    import spark.implicits._
    val df = Seq(
      Array[Byte](1, 2, 3),
      Array[Byte](),
      Array.fill[Byte](1000)(42)).toDF("bin")
    assertSameRows(df, roundTrip(df))
  }

  test("BigRow: nested struct/list/map (FIXTURES F2)") {
    val schema = StructType(Seq(
      StructField("boolean1", BooleanType),
      StructField("byte1", ByteType),
      StructField("short1", ShortType),
      StructField("int1", IntegerType),
      StructField("long1", LongType),
      StructField("float1", FloatType),
      StructField("double1", DoubleType),
      StructField("bytes1", BinaryType),
      StructField("string1", StringType),
      StructField("middle", StructType(Seq(
        StructField("list", ArrayType(StructType(Seq(
          StructField("int1", IntegerType),
          StructField("string1", StringType)))))))),
      StructField("list", ArrayType(StructType(Seq(
        StructField("int1", IntegerType),
        StructField("string1", StringType))))),
      StructField("map", MapType(StringType, StructType(Seq(
        StructField("int1", IntegerType),
        StructField("string1", StringType)))))))
    def inner(i: Int, s: String) = Row(i, s)
    val rows = Seq(
      Row(false, 1.toByte, 1024.toShort, 65536, 9223372036854775807L, 1.0f, -15.0,
        Array[Byte](0, 1, 2, 3, 4), "hi",
        Row(Seq(inner(1, "bye"), inner(2, "sigh"))),
        Seq(inner(3, "good"), inner(4, "bad")),
        Map[String, Row]()),
      Row(true, 100.toByte, 2048.toShort, 65536, 9223372036854775807L, 2.0f, -5.0,
        Array[Byte](), "bye",
        Row(Seq(inner(1, "bye"), inner(2, "sigh"))),
        Seq(inner(100000000, "cat"), inner(-100000, "in"), inner(1234, "hat")),
        Map("chani" -> inner(5, "chani"), "mauddib" -> inner(1, "mauddib"))),
      Row(null, null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
    for (codec <- Seq("NONE", "ZLIB")) {
      assertSameRows(df, roundTrip(df, Map("compress" -> codec)))
    }
  }

  test("multiple stripes (tiny stripe size) + multi-partition write") {
    val df = TestSpark.spark.range(0, 50000, 1, 3).select(
      col("id"),
      concat(lit("some-padding-to-make-rows-bigger-"), col("id")).as("s"),
      (col("id") % 100).cast("double").as("d"))
    val back = roundTrip(df, Map("stripe.size" -> "65536", "compress" -> "SNAPPY"))
    assertSameRows(df, back)
  }

  test("column projection reads only requested columns") {
    val df = TestSpark.spark.range(0, 1000).select(
      col("id"), concat(lit("s"), col("id")).as("s"),
      (col("id") * 2).as("j"), (col("id") % 5).cast("double").as("d"))
    val dir = tmpDir()
    df.write.format("dwrf").mode("overwrite").save(dir)
    val back = spark.read.format("dwrf").load(dir).select("s", "j")
    assertSameRows(df.select("s", "j"), back)
    // plan should show only the pruned schema
    val scanLine = back.queryExecution.executedPlan.toString()
    assert(scanLine.contains("dwrf") || scanLine.contains("BatchScan"), scanLine)
  }

  test("empty dataframe round trip") {
    val df = TestSpark.spark.range(0, 0).select(col("id"),
      concat(lit("s"), col("id")).as("s"))
    val back = roundTrip(df)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("row index stride disabled") {
    val df = TestSpark.spark.range(0, 5000).select(col("id"))
    assertSameRows(df, roundTrip(df, Map("row.index.stride" -> "0")))
  }

  test("vints-off mode (fixed 8-byte integers) round trips") {
    import spark.implicits._
    val df = spark.range(0, 8000).select(
      col("id"), (col("id") % 5).cast("int").as("m"),
      concat(lit("k"), col("id") % 9).as("s"),
      (col("id") * 1000000L).cast("timestamp").as("ts"))
    val back = roundTrip(df, Map("use.vints" -> "false", "compress" -> "ZLIB"))
    assertSameRows(df, back)
    // filtered (row+seek) path under vints-off too
    val dir = tmpDir()
    df.write.format("dwrf").mode("overwrite")
      .option("use.vints", "false").option("row.index.stride", "1000").save(dir)
    val got = spark.read.format("dwrf").load(dir)
      .filter(col("id") === 7654).collect()
    assert(got.length == 1 && got(0).getString(2) == s"k${7654 % 9}")
  }

  test("SQL over dwrf matches SQL over parquet") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val dir = tmpDir()
    li.write.format("dwrf").mode("overwrite").option("compress", "ZLIB").save(dir)
    val dwrf = spark.read.format("dwrf").load(dir)
    dwrf.createOrReplaceTempView("li_dwrf")
    li.createOrReplaceTempView("li_pq")
    val q = (t: String) => spark.sql(
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS s
         |FROM $t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(q("li_dwrf").collect().toSeq == q("li_pq").collect().toSeq)
  }
}
