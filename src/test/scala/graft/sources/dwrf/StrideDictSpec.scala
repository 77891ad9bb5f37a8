package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Stride-dictionary (reference E8) behavior: singleton keys leave the
  * global dictionary for per-stride side dictionaries; reads (row path,
  * columnar path, seeks) must still reproduce every value.
  */
class StrideDictSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // half the rows cycle through 20 hot values, half are unique =>
  // distinct/total ≈ 0.5 (dictionary engages), ~half the keys singleton.
  // The writes pin entropy.string.threshold=10 (18 distinct chars here)
  // so the A2 entropy gate keeps dictionary mode at this 0.5 repetition
  private def mixedDf(n: Int) = {
    spark.range(0, n, 1, 1).select(
      col("id"),
      when(col("id") % 2 === 0, concat(lit("hot-"), col("id") % 20))
        .otherwise(concat(lit("uniq-"), format_string("%08d", col("id"))))
        .as("s"))
  }

  test("singletons go to stride dictionaries; global dictionary shrinks") {
    val dir = graft.TestDirs.tmp("stridedict-").toString
    mixedDf(8000).write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("entropy.string.threshold", "10").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val sf = r.readStripeFooter(r.footer.stripes.head)
      val sCol = ColumnTree.topLevelIds(r.schema)(1)
      val enc = sf.encodings(sCol)
      assert(enc.dictionary)
      // even ids only => id % 20 takes the 10 even residues
      assert(enc.dictionarySize == 10,
        s"global dictionary should hold only the 10 hot keys, got ${enc.dictionarySize}")
      val kinds = sf.streams.filter(_.column == sCol).map(_.kind).toSet
      assert(kinds.contains(graft.format.StreamKind.StrideDictionary), kinds.toString)
      assert(kinds.contains(graft.format.StreamKind.StrideDictionaryLength))
    } finally r.close()
  }

  test("round trip exact through both scan paths") {
    val dir = graft.TestDirs.tmp("stridedict-rt-").toString
    val df = mixedDf(8000)
    df.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("entropy.string.threshold", "10").save(dir)
    val back = spark.read.format("dwrf").load(dir)
    // columnar path (no filters)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // row path (pushed filter forces it) + per-value spot checks
    val got = back.filter(col("id") >= 3000 && col("id") < 3010)
      .orderBy("id").collect()
    assert(got.length == 10)
    got.foreach { row =>
      val id = row.getLong(0)
      val expect =
        if (id % 2 == 0) s"hot-${id % 20}" else f"uniq-$id%08d"
      assert(row.getString(1) == expect, s"id $id")
    }
  }

  test("stride-seek reads resolve side-dictionary values correctly") {
    val dir = graft.TestDirs.tmp("stridedict-seek-").toString
    mixedDf(8000).write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("entropy.string.threshold", "10").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      // filter hits only strides 5..6: reader seeks over strides 0-4 and
      // must pick side dictionary entries for the right strides
      val rows = r.rows(r.footer.stripes, r.schema,
        Seq(GreaterThanOrEqual("id", 5500L), LessThan("id", 6500L))).toVector
      assert(rows.size == 2000) // strides 5 and 6 surface
      rows.foreach { row =>
        val id = row.getLong(0)
        val expect = if (id % 2 == 0) s"hot-${id % 20}" else f"uniq-$id%08d"
        assert(row.getUTF8String(1).toString == expect, s"id $id")
      }
      // point seek deep into the file
      val probe = r.rowsFrom(7321, r.schema).next()
      assert(probe.getLong(0) == 7321)
      assert(probe.getUTF8String(1).toString == f"uniq-${7321}%08d")
    } finally r.close()
  }

  test("nested strings get stride dictionaries too (E8 parity)") {
    val dir = graft.TestDirs.tmp("stridedict-nested-").toString
    // struct-nested AND array-nested string columns with the mixed
    // hot/singleton shape; parent nulls make value position != row
    // position, which the flat (stride-major) side-dictionary id space
    // must tolerate
    val df = spark.range(0, 8000, 1, 1).select(
      col("id"),
      when(col("id") % 7 =!= 0, struct(
        when(col("id") % 2 === 0, concat(lit("hot-"), col("id") % 20))
          .otherwise(concat(lit("uniq-"), format_string("%08d", col("id"))))
          .as("s"))).as("st"),
      array(
        when(col("id") % 2 === 0, concat(lit("ahot-"), col("id") % 20))
          .otherwise(concat(lit("auniq-"), format_string("%08d", col("id")))),
        lit("const")).as("arr"))
    df.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("entropy.string.threshold", "10").save(dir)

    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val sf = r.readStripeFooter(r.footer.stripes.head)
      // nested string columns (struct child and array element) must carry
      // STRIDE_DICTIONARY streams now
      val strideDictCols = sf.streams
        .filter(_.kind == graft.format.StreamKind.StrideDictionary)
        .map(_.column).toSet
      assert(strideDictCols.size >= 2,
        s"expected nested stride dictionaries, got columns $strideDictCols")
    } finally r.close()

    val back = spark.read.format("dwrf").load(dir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)

    // stride-seek read through the nested columns
    val got = spark.read.format("dwrf").load(dir)
      .filter(col("id") >= 5500 && col("id") < 5510)
      .orderBy("id").collect()
    assert(got.length == 10)
    got.foreach { row =>
      val id = row.getLong(0)
      if (id % 7 == 0) assert(row.isNullAt(1))
      else {
        val expect = if (id % 2 == 0) s"hot-${id % 20}" else f"uniq-$id%08d"
        assert(row.getStruct(1).getString(0) == expect, s"id $id")
      }
      val e0 = if (id % 2 == 0) s"ahot-${id % 20}" else f"auniq-$id%08d"
      assert(row.getSeq[String](2) == Seq(e0, "const"), s"id $id")
    }
  }

  test("unsorted dictionary mode round trips") {
    val dir = graft.TestDirs.tmp("unsorted-").toString
    val df = mixedDf(4000)
    df.write.format("dwrf").mode("overwrite")
      .option("dictionary.sort.keys", "false")
      .option("entropy.string.threshold", "10").save(dir)
    val back = spark.read.format("dwrf").load(dir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("disabled via option: single global dictionary again") {
    val dir = graft.TestDirs.tmp("stridedict-off-").toString
    mixedDf(4000).write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("use.stride.dictionaries", "false")
      .option("entropy.string.threshold", "10").save(dir)
    val file = DwrfUtil.listDataFiles(new Path(dir), new Configuration()).head
    val r = new DwrfFileReader(file, new Configuration())
    try {
      val sf = r.readStripeFooter(r.footer.stripes.head)
      val sCol = ColumnTree.topLevelIds(r.schema)(1)
      assert(sf.encodings(sCol).dictionarySize == 10 + 2000)
      assert(!sf.streams.exists(s =>
        s.column == sCol && s.kind == graft.format.StreamKind.StrideDictionary))
    } finally r.close()
    assert(spark.read.format("dwrf").load(dir).count() == 4000)
  }
}
