package graft.sources.dwrf


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Directed pins for the NESTED bulk decode paths (list/map offsets via
  * one `nextLongs` + one recursive child fill, struct children bulk when
  * the struct is null-free): every shape below exercises a specific
  * branch, and equality against the written truth IS the bulk ==
  * per-value check — the identical assertions passed on the per-row
  * decoder before the bulk kernels landed.
  *
  * Shapes chosen to hit the ugly spans: null runs of 3/5/7 (byte-
  * misaligned PRESENT bits), empty arrays/maps between nulls, nullable
  * elements under null-free parents, null-free children under nullable
  * parents (the per-row fallback), and stride boundaries mid-run.
  */
class NestedBulkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def roundTrip(df: DataFrame, opts: Map[String, String] = Map.empty): DataFrame = {
    val dir = graft.TestDirs.tmp("nestedbulk-").toString
    val w = df.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save(dir)
    spark.read.format("dwrf").load(dir)
  }

  private def canon(df: DataFrame): Seq[String] = {
    def render(v: Any): String = v match {
      case null => "NULL"
      case r: Row => r.toSeq.map(render).mkString("R(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
          .sorted.mkString("M(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("A(", ",", ")")
      case other => other.toString
    }
    df.collect().toSeq.map(render).sorted
  }

  private def assertSame(df: DataFrame, opts: Map[String, String] = Map.empty): Unit =
    assert(canon(roundTrip(df, opts)) == canon(df))

  private val n = 7000 // several strides at stride=1000

  test("array<long>: misaligned null rows, empty arrays, long runs") {
    val rows = (0 until n).map { i =>
      val arr =
        if (i % 7 == 3) null // null rows in a period-7 (byte-misaligned) pattern
        else if (i % 5 == 0) Seq.empty[Long] // empties consume no elements
        else (0 until (i % 9)).map(j => i.toLong * 10 + j)
      Row(i.toLong, arr)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(LongType, containsNull = false))))
    assertSame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
  }

  test("array<string> with nullable elements under a null-free parent") {
    val rows = (0 until n).map { i =>
      val arr = (0 until (i % 6)).map { j =>
        if ((i + j) % 3 == 1) null else s"v-${i % 101}-$j"
      }
      Row(i.toLong, arr)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(StringType, containsNull = true), nullable = false)))
    // dictionary on and off: dict string children keep the materializing
    // per-row path inside the bulk offsets kernel; direct children bulk
    for (dict <- Seq("true", "false"))
      assertSame(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema),
        Map("dictionary.enabled" -> dict))
  }

  test("null-free struct bulk-fills children; nullable struct falls back") {
    val rows = (0 until n).map { i =>
      val inner = Row(if (i % 4 == 2) null else java.lang.Integer.valueOf(i % 97),
        if (i % 3 == 0) null else s"s${i % 13}")
      val outer = if (i % 11 == 5) null else Row(i.toLong * 2, s"t${i % 7}")
      Row(i.toLong, inner, outer)
    }
    val inner = StructType(Seq(
      StructField("a", IntegerType, nullable = true),
      StructField("b", StringType, nullable = true)))
    val outer = StructType(Seq(
      StructField("c", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("nf", inner, nullable = false), // null-free: children bulk
      StructField("nl", outer, nullable = true))) // nullable: per-row path
    assertSame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
  }

  test("map<string,double> and nested array<array<int>>") {
    val rows = (0 until n).map { i =>
      val m =
        if (i % 6 == 4) null
        else (0 until (i % 4)).map(j => s"k$j" -> (i * 0.5 + j)).toMap
      val aa =
        if (i % 9 == 7) null
        else (0 until (i % 3)).map(j =>
          if ((i + j) % 5 == 2) null else (0 until ((i + j) % 4)).map(_ + i))
      Row(i.toLong, m, aa)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("m", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("aa", ArrayType(ArrayType(IntegerType, containsNull = false),
        containsNull = true))))
    assertSame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
  }

  test("array<struct> — the offsets kernel drives a struct child fill") {
    val rows = (0 until n).map { i =>
      val arr =
        if (i % 8 == 6) null
        else (0 until (i % 5)).map(j => Row(i * 10L + j, s"e${(i + j) % 19}"))
      Row(i.toLong, arr)
    }
    val elem = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", StringType, nullable = false)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("es", ArrayType(elem, containsNull = false))))
    assertSame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema))
  }
}
