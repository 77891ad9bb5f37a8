package graft.sources.dwrf


import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime filtering (SupportsRuntimeFiltering — the DSv2 analog of
  * dynamic partition pruning): join-key predicates injected at execution
  * time prune whole FILES via footer stats and flow to the readers for
  * stripe/stride skipping.
  */
class DwrfRuntimeFilterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("runtime filters prune whole files via footer stats") {
    val dir = graft.TestDirs.tmp("dwrf-rtf-").toString
    // 8 files, each holding a disjoint contiguous id range
    spark.range(0, 80000, 1, 1)
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
      .select(col("id"), (col("id") % 97).as("v"))
      .write.format("dwrf").mode("overwrite").save(dir)

    val schema = spark.read.format("dwrf").load(dir).schema
    def scanWith(runtime: Array[Filter]): DwrfScan = {
      val sb = new DwrfScanBuilder(schema, dir)
      val scan = sb.build().asInstanceOf[DwrfScan]
      scan.filter(runtime)
      scan
    }
    val all = scanWith(Array.empty).planInputPartitions().length
    assert(all >= 8, s"expected >= 8 partitions, got $all")

    // the reported filterable attributes include both columns
    val attrs = scanWith(Array.empty).filterAttributes().map(_.describe()).toSet
    assert(attrs == Set("id", "v"))

    // IN-set touching two files' ranges => only those files planned
    val pruned = scanWith(Array(In("id", Array[Any](5L, 75000L))))
      .planInputPartitions().length
    assert(pruned == 2, s"expected 2 surviving files, got $pruned")

    // refuted everywhere => zero partitions
    assert(scanWith(Array(EqualTo("id", 999999L))).planInputPartitions().isEmpty)

    // end-to-end: a DPP-shaped join stays correct (whether or not Spark
    // chooses to inject the runtime filter at this scale)
    val fact = spark.read.format("dwrf").load(dir)
    val dim = spark.range(0, 80000, 1, 1).select(col("id").as("k"))
      .filter(col("k") % 40000 === 7)
    val got = fact.join(dim, fact("id") === dim("k"))
      .agg(sum(col("v")), count(lit(1))).collect().head
    assert(got.getLong(1) == 2)
    assert(got.getLong(0) == (7 % 97) + (40007 % 97))
  }
}
