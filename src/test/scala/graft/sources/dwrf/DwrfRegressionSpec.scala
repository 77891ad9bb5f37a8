package graft.sources.dwrf

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.ColumnStats

/** Regressions for round-1 advisor findings: nested-schema-pruning ordinal
  * corruption, NaN-unsound float/double stats skipping, and UTF-16 vs UTF-8
  * string-bound merge order.
  */
class DwrfRegressionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-reg-").toString

  test("nested struct subfield projection reads the right ordinal") {
    // With nestedSchemaPruning (default on) Catalyst hands the scan a
    // nested-pruned schema; the reader must still decode full top-level
    // columns or SELECT st.b silently returns st.a's values.
    assert(spark.conf.get("spark.sql.optimizer.nestedSchemaPruning.enabled") == "true")
    val dir = tmpDir()
    spark.range(0, 100, 1, 1)
      .select(col("id"), struct(
        (col("id") * 10).as("a"),
        concat(lit("b-"), col("id")).as("b"),
        (col("id") % 7).as("c")).as("st"))
      .write.format("dwrf").mode("overwrite").save(dir)

    val got = spark.read.format("dwrf").load(dir)
      .select(col("st.b")).orderBy(col("b")).collect().map(_.getString(0))
    assert(got.toSeq == (0 until 100).map(i => s"b-$i").sorted)

    // middle + last field together, projected out of order
    val two = spark.read.format("dwrf").load(dir)
      .select(col("st.c"), col("st.a")).orderBy(col("a")).collect()
    assert(two.map(_.getLong(1)).toSeq == (0 until 100).map(_ * 10L))
    assert(two.map(_.getLong(0)).toSeq == (0 until 100).map(_ % 7L))
  }

  test("NaN rows survive stats-based skipping") {
    val dir = tmpDir()
    // stride 0: finite small values; stride 1: finite plus NaN at id=1500
    spark.range(0, 2000, 1, 1)
      .select(col("id"),
        when(col("id") === 1500, lit(Double.NaN))
          .otherwise(col("id").cast("double") / 100.0).as("d"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)

    val file = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head
    val r = new DwrfFileReader(file, new org.apache.hadoop.conf.Configuration())
    try {
      val readSchema = org.apache.spark.sql.types.StructType(
        r.schema.fields.filter(_.name == "d"))
      // Spark semantics: NaN > any finite double, so `d > 1e9` matches the
      // NaN row. The stride's finite max is ~19.99; an unsound skipper
      // would drop the stride (and the match) on stats.
      val over = r.rows(r.footer.stripes, readSchema,
        Seq(GreaterThan("d", 1e9))).toVector
      assert(over.exists(row => row.getDouble(0).isNaN),
        "stride containing NaN must not be skipped for d > maxFinite")
      // equality against NaN likewise cannot skip the NaN stride
      val eq = r.rows(r.footer.stripes, readSchema,
        Seq(EqualTo("d", Double.NaN))).toVector
      assert(eq.exists(row => row.getDouble(0).isNaN))
    } finally r.close()

    // end-to-end through Spark (it re-evaluates, so this is row-presence)
    val viaSpark = spark.read.format("dwrf").load(dir)
      .filter(col("d") > 1e9).collect()
    assert(viaSpark.length == 1 && viaSpark.head.getDouble(1).isNaN)
  }

  test("entropy heuristic sends medium-repeat low-char-diversity strings DIRECT") {
    // UUID-shaped hex keys, each repeated twice: distinct/total = 0.5
    // clears the plain 0.8 threshold (dictionary under round-1 policy),
    // but repetition ≤ 0.9 and only ~17 distinct chars (hex + dash) fail
    // the A2 entropy sample test => DIRECT, letting the block codec do
    // the work instead of keeping a huge dictionary in writer memory
    // (reference WriterImpl.java:1297-1363).
    def hexy = spark.range(0, 4000, 1, 1).select(
      col("id"),
      concat(lit("deadbeef-"),
        format_string("%024x", (col("id") / 2).cast("long"))).as("u"))

    def encodingOf(dir: String): graft.format.ColumnEncoding = {
      val file = DwrfUtil.listDataFiles(
        new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head
      val r = new DwrfFileReader(file, new org.apache.hadoop.conf.Configuration())
      try r.readStripeFooter(r.footer.stripes.head)
        .encodings(ColumnTree.topLevelIds(r.schema)(1))
      finally r.close()
    }

    val d1 = tmpDir()
    hexy.write.format("dwrf").mode("overwrite").save(d1)
    assert(!encodingOf(d1).dictionary,
      "17-char alphabet at 0.5 repetition must go DIRECT")

    // same data, entropy bar lowered below the alphabet size => dictionary
    val d2 = tmpDir()
    hexy.write.format("dwrf").mode("overwrite")
      .option("entropy.string.threshold", "10").save(d2)
    assert(encodingOf(d2).dictionary && encodingOf(d2).dictionarySize == 2000)

    // high repetition bypasses the entropy test entirely (> 0.9 repeated)
    val d3 = tmpDir()
    spark.range(0, 4000, 1, 1).select(
      col("id"), concat(lit("k-"), col("id") % 100).as("u"))
      .write.format("dwrf").mode("overwrite").save(d3)
    assert(encodingOf(d3).dictionary && encodingOf(d3).dictionarySize == 100)

    // and the direct file still round-trips exactly
    val back = spark.read.format("dwrf").load(d1)
    assert(back.exceptAll(hexy).isEmpty && hexy.exceptAll(back).isEmpty)
  }

  test("orc.-prefixed writer options are accepted as aliases") {
    val dir = tmpDir()
    spark.range(0, 100, 1, 1).select(col("id"),
      concat(lit("v"), col("id")).as("s"))
      .write.format("dwrf").mode("overwrite")
      .option("orc.compress", "SNAPPY")
      .option("hive.exec.orc.row.index.stride", "50").save(dir)
    val file = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head
    val r = new DwrfFileReader(file, new org.apache.hadoop.conf.Configuration())
    try {
      assert(r.postScript.compression == graft.format.CompressionKind.Snappy)
      assert(r.footer.rowIndexStride == 50)
    } finally r.close()
  }

  test("negative zero does not sanction stats skipping") {
    // stats min/max are built with primitive comparisons (-0.0 == 0.0);
    // the evaluator must use the same order, or a stride whose max was
    // recorded as -0.0 gets skipped for filters matching 0.0
    val dir = tmpDir()
    spark.range(0, 2000, 1, 1)
      .select(col("id"),
        when(col("id") < 1000, lit(-5.0))
          .otherwise(lit(-0.0)).as("d"))
      .write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000").save(dir)
    val file = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head
    val r = new DwrfFileReader(file, new org.apache.hadoop.conf.Configuration())
    try {
      val readSchema = org.apache.spark.sql.types.StructType(
        r.schema.fields.filter(_.name == "d"))
      // stride 1's max is -0.0; Spark says -0.0 >= 0.0 and -0.0 = 0.0
      val ge = r.rows(r.footer.stripes, readSchema,
        Seq(GreaterThanOrEqual("d", 0.0))).toVector
      assert(ge.size == 1000, "stride with max=-0.0 must survive d >= 0.0")
      val eq = r.rows(r.footer.stripes, readSchema,
        Seq(EqualTo("d", 0.0))).toVector
      assert(eq.size == 1000, "stride with -0.0 values must survive d = 0.0")
    } finally r.close()
    // end to end: Spark re-evaluates, rows must surface
    assert(spark.read.format("dwrf").load(dir)
      .filter(col("d") >= 0.0).count() == 1000)
  }

  test("eager span read collapses per-gap preads (R1 eager mode)") {
    val dir = tmpDir()
    // uncompressed; the middle column makes a >256 KB gap between two
    // BULKY wanted streams, so the span is still mostly wanted bytes
    // (span ≤ 2× wanted): the lazy planner must issue multiple preads,
    // the eager planner exactly one data pread per stripe
    spark.range(0, 100000, 1, 1).select(
      format_string("%064d", col("id")).as("head"),
      format_string("%08d", col("id")).as("mid"), // unique → direct, ~800 KB gap
      format_string("%064d", col("id") + 1).as("tail"))
      .write.format("dwrf").mode("overwrite")
      .option("compress", "NONE").save(dir)
    val file = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head

    def preadsWith(eager: Boolean): Long = {
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.setBoolean("dwrf.eager.read", eager)
      val r = new DwrfFileReader(file, conf)
      try {
        val readSchema = org.apache.spark.sql.types.StructType(
          r.schema.fields.filter(f => Seq("head", "tail").contains(f.name)))
        val n = r.rows(r.footer.stripes, readSchema).length
        assert(n == 100000)
        r.counters.preads
      } finally r.close()
    }

    val eagerPreads = preadsWith(eager = true)
    val lazyPreads = preadsWith(eager = false)
    assert(eagerPreads < lazyPreads,
      s"eager=$eagerPreads lazy=$lazyPreads: eager mode must issue fewer preads")
    // values identical either way
    val viaSpark = spark.read.format("dwrf").load(dir)
      .agg(count(col("head")), count(col("tail"))).collect().head
    assert(viaSpark.getLong(0) == 100000L && viaSpark.getLong(1) == 100000L)
  }

  test("eager mode declines when the span is mostly unwanted bytes") {
    val dir = tmpDir()
    // a narrow 2-column projection over a table dominated by an
    // unwanted bulky middle column: a whole-span pread would read ~8×
    // the wanted bytes, so the waste-capped gate (span ≤ 2× wanted or
    // gap ≤ 256 KB) must fall back to per-stream coalesced preads —
    // projection pushdown must MEAN pushed-down I/O, not just pruned
    // decode (the wide-table shape of a 100 TB feature store)
    spark.range(0, 100000, 1, 1).select(
      col("id"),
      format_string("%0128d", col("id")).as("bulky"),
      (col("id") % 97).as("tail"))
      .write.format("dwrf").mode("overwrite")
      .option("compress", "NONE").save(dir)
    val file = DwrfUtil.listDataFiles(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.conf.Configuration()).head

    def bytesWith(eager: Boolean): Long = {
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.setBoolean("dwrf.eager.read", eager)
      val r = new DwrfFileReader(file, conf)
      try {
        val readSchema = org.apache.spark.sql.types.StructType(
          r.schema.fields.filter(f => Seq("id", "tail").contains(f.name)))
        val n = r.rows(r.footer.stripes, readSchema).length
        assert(n == 100000)
        r.counters.bytesRead
      } finally r.close()
    }

    val eagerBytes = bytesWith(eager = true)
    val lazyBytes = bytesWith(eager = false)
    // the bulky column alone is ~13 MB; the wanted pair ~1.6 MB
    assert(eagerBytes == lazyBytes,
      s"eager=$eagerBytes lazy=$lazyBytes: the gate must decline the span")
    assert(eagerBytes < 4L * 1024 * 1024,
      s"narrow projection read $eagerBytes bytes of a ~15 MB stripe")
  }

  test("schema evolution: files missing a later-added column read as null") {
    import java.nio.file.{Files => JF, Paths => JP}
    val oldDir = tmpDir()
    val newDir = tmpDir()
    val merged = tmpDir()
    // "old" files: (id, a); "new" files: (id, a, b) — b added later
    spark.range(0, 1000, 1, 1)
      .select(col("id"), (col("id") * 2).as("a"))
      .write.format("dwrf").mode("overwrite").save(oldDir)
    spark.range(1000, 2000, 1, 1)
      .select(col("id"), (col("id") * 2).as("a"),
        concat(lit("v-"), col("id")).as("b"))
      .write.format("dwrf").mode("overwrite").save(newDir)
    for (d <- Seq(oldDir, newDir); f <- new java.io.File(d).listFiles
         if f.getName.endsWith(".dwrf"))
      JF.copy(f.toPath, JP.get(merged, s"${JP.get(d).getFileName}-${f.getName}"))

    val df = spark.read.format("dwrf").load(merged)
    // inferred schema is the union
    assert(df.schema.fieldNames.toSet == Set("id", "a", "b"))
    assert(df.count() == 2000)
    val rows = df.orderBy("id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == id * 2)
      if (id < 1000) assert(r.isNullAt(2), s"id $id: missing column must be null")
      else assert(r.getString(2) == s"v-$id")
    }
    // filtering on the evolved column still works (nulls drop out)
    assert(df.filter(col("b") === "v-1500").count() == 1)
    assert(df.filter(col("b").isNull).count() == 1000)
  }

  test("schema evolution: numeric widening across file generations (int→long, float→double)") {
    import java.nio.file.{Files => JF, Paths => JP}
    val oldDir = tmpDir()
    val newDir = tmpDir()
    val merged = tmpDir()
    // "old" generation: int/float, nested int inside a struct and an array
    spark.range(0, 1000, 1, 1).select(
      col("id"),
      col("id").cast("int").as("n"),
      (col("id") * 0.5f).cast("float").as("x"),
      struct(col("id").cast("int").as("v")).as("st"),
      array(col("id").cast("int")).as("arr"))
      .write.format("dwrf").mode("overwrite").save(oldDir)
    // "new" generation: the producer upgraded to long/double everywhere
    spark.range(1000, 2000, 1, 1).select(
      col("id"),
      col("id").as("n"),
      (col("id") * 0.5).as("x"),
      struct(col("id").as("v")).as("st"),
      array(col("id")).as("arr"))
      .write.format("dwrf").mode("overwrite").save(newDir)
    for (d <- Seq(oldDir, newDir); f <- new java.io.File(d).listFiles
         if f.getName.endsWith(".dwrf"))
      JF.copy(f.toPath, JP.get(merged, s"${JP.get(d).getFileName}-${f.getName}"))

    val df = spark.read.format("dwrf").load(merged)
    // merged schema is the widest type at every nesting level
    import org.apache.spark.sql.types._
    assert(df.schema("n").dataType == LongType)
    assert(df.schema("x").dataType == DoubleType)
    assert(df.schema("st").dataType.asInstanceOf[StructType]("v").dataType == LongType)
    assert(df.schema("arr").dataType.asInstanceOf[ArrayType].elementType == LongType)
    assert(df.count() == 2000)
    val rows = df.orderBy("id").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == id, s"id $id: n upcast")
      assert(r.getDouble(2) == id * 0.5f.toDouble || r.getDouble(2) == id * 0.5,
        s"id $id: x upcast")
      assert(r.getStruct(3).getLong(0) == id, s"id $id: nested struct upcast")
      assert(r.getSeq[Long](4) == Seq(id), s"id $id: array element upcast")
    }
    // filters still skip via stats on the widened column (long value vs
    // int-written stats), and aggregation sees one numeric type
    assert(df.filter(col("n") === 500L).count() == 1)
    assert(df.filter(col("st.v") >= 1995L).count() == 5)
    assert(df.agg(sum(col("n"))).collect().head.getLong(0) == (0L until 2000).sum)
  }

  test("string stat merge uses UTF-8 (code point) order, not UTF-16") {
    // U+FF61 is a single BMP char (UTF-16: FF61); U+10000 is a surrogate
    // pair (UTF-16: D800 DC00). UTF-16 code-unit order says FF61 > D800 so
    // String.compareTo ranks "｡" HIGHER; code-point/UTF-8 order ranks
    // U+10000 higher. Eval-time comparisons are UTF-8, so merge must be too.
    val bmp = "｡"
    val supp = new String(Character.toChars(0x10000))
    assert(bmp.compareTo(supp) > 0, "sanity: UTF-16 order disagrees")
    assert(ColumnStats.utf8Compare(bmp, supp) < 0)

    val a = ColumnStats(count = 1, hasNull = false, stringMin = bmp, stringMax = bmp)
    val b = ColumnStats(count = 1, hasNull = false, stringMin = supp, stringMax = supp)
    val m = a.merge(b)
    assert(m.stringMin == bmp, "min must be the BMP char in code-point order")
    assert(m.stringMax == supp, "max must be the supplementary char")
  }
}
