package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Short decimals (precision <= 18) ride the long kernels as unscaled
  * values — beyond the reference, which predates ORC's DECIMAL kind.
  * Covers: both vector storages (int for p<=9, long above), the row
  * path, nulls, negatives, dictionary-eligible low-cardinality data,
  * and the p>18 fail-loud boundary.
  */
class DwrfDecimalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = graft.TestDirs.tmp("dwrf-dec-").toString

  test("decimal columns round-trip exactly through both read paths") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    val df = spark.range(0, 5000, 1, 3).select(
      col("id"),
      // p<=9: int-vector storage; negatives cross zero
      ((col("id") - 2500) / 100.0).cast("decimal(9,2)").as("d9"),
      // p in (9,18]: long-vector storage; wide values
      ((col("id") * 1234567) / 1000.0).cast("decimal(18,3)").as("d18"),
      // low cardinality: exercises the integer dictionary encoder
      (col("id") % 7).cast("decimal(5,1)").as("dict"),
      // nulls interleaved
      when(col("id") % 3 =!= 0, col("id").cast("decimal(10,0)")).as("dn"))
    df.write.format("dwrf").mode("overwrite").save(dir)

    val back = spark.read.format("dwrf").load(dir)
    assert(back.schema("d9").dataType.sql == "DECIMAL(9,2)")
    assert(back.schema("d18").dataType.sql == "DECIMAL(18,3)")
    // columnar (default) path
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // aggregates stay decimal-exact
    val sums = back.agg(
      sum($"d9").as("s9"), sum($"d18").as("s18"), count($"dn").as("cn"))
      .head()
    val expect = df.agg(sum($"d9"), sum($"d18"), count($"dn")).head()
    assert(sums == expect)
  }

  test("decimal stats drive stride skipping, footer MIN/MAX pushdown, and bloom pruning") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // sorted by the decimal column => selective stride windows
    spark.range(0, 60000, 1, 1)
      .select(col("id"), (col("id").cast("decimal(12,2)") / 4).as("d"))
      .orderBy("d")
      .write.format("dwrf").option("bloom.columns", "d")
      .mode("overwrite").save(dir)

    // stride skip: a 1-stride-wide range on the sorted decimal column
    val lo = new java.math.BigDecimal("100.00")
    val hi = new java.math.BigDecimal("120.00")
    val (rows, strides, _) = DwrfUtil.surfacedRows(dir, "d",
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("d", lo),
        org.apache.spark.sql.sources.LessThan("d", hi)))
    assert(strides > 0, "decimal range filter must skip strides")
    assert(rows < 60000 / 2, s"surfaced $rows of 60000 — no skipping happened")

    // footer aggregate pushdown: MIN/MAX/COUNT collapse to a LocalScan
    val back = spark.read.format("dwrf").load(dir)
    val agg = back.agg(min(col("d")).as("mn"), max(col("d")).as("mx"),
      count(col("d")).as("n"))
    val p = agg.queryExecution.executedPlan
    val expanded = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }
    val local = (p +: expanded).flatMap(_.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    })
    assert(local.nonEmpty, s"decimal MIN/MAX must ride the footer:\n$p")
    val r = agg.head()
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.00")) == 0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("14999.75")) == 0)
    assert(r.getLong(2) == 60000)

    // bloom: equality on a value that rescales exactly but is absent
    // (x.37 can never be id/4) prunes the whole (sorted, in-range) file
    val absent = back.filter(col("d") === new java.math.BigDecimal("100.37"))
    assert(absent.count() == 0)
    val present = back.filter(col("d") === new java.math.BigDecimal("100.25"))
    assert(present.count() == 1)
  }

  test("p > 18 fails loud instead of writing garbage") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val e = intercept[Exception](
      spark.range(10).select(col("id").cast("decimal(25,2)").as("big"))
        .write.format("dwrf").mode("overwrite").save(dir))
    assert(chain(e).contains("unsupported type"), chain(e))
  }
}
