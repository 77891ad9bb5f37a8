package graft.sources.dwrf


import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded randomized round-trip fuzz: random schema slices × null rates ×
  * codecs × stripe/stride/dictionary/vints options, plus a random filter
  * probe per iteration. Catches interaction bugs no directed test covers
  * (the scalable analog of the reference's ReallyBigRow grid, F3).
  */
class DwrfFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val innerStruct = StructType(Seq(
    StructField("a", IntegerType), StructField("b", StringType)))

  private def fieldPool(rnd: Random): Seq[(StructField, Random => Any)] = Seq(
    (StructField("f_long", LongType), (r: Random) => r.nextLong() % 1000000),
    (StructField("f_int", IntegerType), (r: Random) => r.nextInt(10000) - 5000),
    (StructField("f_short", ShortType), (r: Random) => (r.nextInt(65536) - 32768).toShort),
    (StructField("f_byte", ByteType), (r: Random) => (r.nextInt(256) - 128).toByte),
    (StructField("f_bool", BooleanType), (r: Random) => r.nextBoolean()),
    (StructField("f_float", FloatType), (r: Random) => r.nextFloat() * 1000 - 500),
    (StructField("f_double", DoubleType), (r: Random) => r.nextDouble() * 1e6 - 5e5),
    (StructField("f_str_low", StringType), (r: Random) => s"cat-${r.nextInt(7)}"),
    (StructField("f_str_high", StringType),
      (r: Random) => s"u-${r.nextInt(1000000)}%08d-${r.nextInt(100)}"),
    (StructField("f_bin", BinaryType),
      (r: Random) => { val b = new Array[Byte](r.nextInt(20)); r.nextBytes(b); b }),
    (StructField("f_ts", TimestampType),
      (r: Random) => new java.sql.Timestamp(
        (r.nextLong() % 4102444800L) * 1000 + r.nextInt(1000))),
    (StructField("f_date", DateType),
      (r: Random) => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(r.nextInt(40000) - 10000L))),
    (StructField("f_arr", ArrayType(IntegerType)),
      (r: Random) => Seq.fill(r.nextInt(5))(r.nextInt(100))),
    (StructField("f_map", MapType(StringType, DoubleType)),
      (r: Random) => (0 until r.nextInt(4)).map(i => s"k$i" -> r.nextDouble()).toMap),
    (StructField("f_struct", innerStruct),
      (r: Random) => Row(r.nextInt(50), s"s-${r.nextInt(9)}")))

  private def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("R(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("M(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("A(", ",", ")")
    case f: Float => java.lang.Float.toString(f)
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private def sortedRender(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => render(r)).sorted

  private val iterations = sys.env.get("DWRF_FUZZ_ITERS")
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption.filter(_ > 0))
    .getOrElse(16)

  test(s"randomized round trips across options ($iterations seeded iterations)") {
    for (iter <- 0 until iterations) {
      val rnd = new Random(4242 + iter)
      val pool = fieldPool(rnd)
      val chosen = rnd.shuffle(pool).take(3 + rnd.nextInt(5))
      val nullProb = rnd.nextInt(4) * 0.1
      val schema = StructType(chosen.map(_._1))
      val nRows = 2000 + rnd.nextInt(8000)
      val rows = (0 until nRows).map { _ =>
        Row.fromSeq(chosen.map { case (_, gen) =>
          if (rnd.nextDouble() < nullProb) null else gen(rnd)
        })
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val codec = Seq("NONE", "ZLIB", "SNAPPY", "ZSTD", "LZ4", "LZO")(rnd.nextInt(6))
      val stride = Seq(0, 500, 1000)(rnd.nextInt(3))
      val opts = Map(
        "compress" -> codec,
        "row.index.stride" -> stride.toString,
        "stripe.size" -> Seq("32768", "1048576")(rnd.nextInt(2)),
        "dictionary.enabled" -> rnd.nextBoolean().toString,
        "use.vints" -> rnd.nextBoolean().toString,
        "use.stride.dictionaries" -> rnd.nextBoolean().toString,
        // tiny threshold exercises A3 mid-stripe dictionary abandonment
        // on unique-heavy string columns; default leaves it dormant
        "dictionary.abandon.bytes" ->
          Seq("1024", (32L * 1024 * 1024).toString)(rnd.nextInt(2)))
      val dir = graft.TestDirs.tmp(s"fuzz-$iter-").toString
      val w = df.write.format("dwrf").mode("overwrite")
      opts.foreach { case (k, v) => w.option(k, v) }
      w.save(dir)
      val back = spark.read.format("dwrf").load(dir)
      assert(sortedRender(back) == sortedRender(df),
        s"iter $iter mismatch (opts=$opts schema=${schema.simpleString})")
      // random filter probe on a filterable column (exercises skipping)
      chosen.map(_._1).find(f => f.dataType == LongType || f.dataType == IntegerType)
        .foreach { f =>
          val bound = rnd.nextInt(2000) - 1000
          val expect = sortedRender(df.filter(col(f.name) > bound))
          val got = sortedRender(back.filter(col(f.name) > bound))
          assert(got == expect, s"iter $iter filter probe on ${f.name} > $bound (opts=$opts)")
        }
      // flat-projection range probe: projecting away arrays/maps forces
      // the COLUMNAR path (structs included), so this exercises
      // vectorized decode + stride-granular I/O pruning under the same
      // random codec/stride/dictionary matrix
      val flatCols = chosen.map(_._1).filter(f => f.dataType match {
        case _: ArrayType | _: MapType => false
        case _ => true
      }).map(_.name)
      val rangeCol = chosen.map(_._1)
        .find(f => flatCols.contains(f.name) &&
          (f.dataType == LongType || f.dataType == IntegerType || f.dataType == ShortType))
      if (flatCols.nonEmpty && rangeCol.isDefined) {
        val f = rangeCol.get
        val lo = rnd.nextInt(1000) - 500
        val hi = lo + rnd.nextInt(800)
        val pred = col(f.name) >= lo && col(f.name) < hi
        val expect = sortedRender(df.select(flatCols.map(col): _*).filter(pred))
        val got = sortedRender(back.select(flatCols.map(col): _*).filter(pred))
        assert(got == expect,
          s"iter $iter columnar range probe ${f.name} in [$lo,$hi) (opts=$opts)")
      }
    }
  }
}
