package graft.sources.dwrf


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.BloomFilter

/** Per-file Bloom filters (`bloom.columns`): equality/IN predicates on
  * unsorted high-cardinality columns prune whole files at PLANNING time
  * — the case min/max stats cannot help with, because a shuffled id
  * column's range covers every file. False positives only ever keep a
  * file, so results stay byte-identical to the unpruned scan.
  */
class DwrfBloomSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def scanPartitions(df: DataFrame): Int = {
    val p = df.queryExecution.executedPlan
    val expanded = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    (p +: expanded).flatMap(_.collect {
      case b: BatchScanExec => b.inputPartitions.size
    }).sum
  }

  /** 8 files of EVEN ids dealt by hash so every file's [min,max] covers
    * the whole domain — an absent ODD probe value sits inside every
    * file's stats range, so min/max pruning is provably useless and only
    * the bloom can refute it. */
  private def writeFixture(extra: Map[String, String]): String = {
    val dir = graft.TestDirs.tmp("dwrf-bloom-").toString
    val w = spark.range(0, 8000, 1, 1)
      .select((col("id") * 2).as("id"),
        concat(lit("user-"), col("id") * 2 * 7919).as("name"))
      .repartition(8) // hash distribution: all files span the full range
      .write.format("dwrf").mode("overwrite")
    (Map("bloom.columns" -> "id,name") ++ extra).foreach {
      case (k, v) => w.option(k, v)
    }
    w.save(dir)
    dir
  }

  private val AbsentId = 4241L // odd: inside every file's [min,max]

  test("equality on a bloom'd column prunes to the owning file; absent value to zero") {
    val dir = writeFixture(Map.empty)
    val back = spark.read.format("dwrf").load(dir)
    assert(scanPartitions(back) == 8)
    val absent = back.filter(col("id") === AbsentId)
    assert(scanPartitions(absent) == 0,
      "an absent in-range value must prune every file via the bloom")
    assert(absent.count() == 0)
    val present = back.filter(col("id") === 4242L)
    val kept = scanPartitions(present)
    assert(kept >= 1 && kept <= 3, // 1 owning file + fpp=2% stragglers
      s"expected ~1 surviving file, got $kept")
    assert(present.count() == 1)
    // string column, IN-set: two present names + one absent
    val names = back.filter(col("name")
      .isin("user-15838", "user-31676", "user-15839"))
    assert(scanPartitions(names) <= 5, "IN-set must prune to the owning files")
    assert(names.count() == 2)
  }

  test("without the option nothing prunes (baseline) and results agree") {
    val dir = writeFixture(Map("bloom.columns" -> "")) // option cleared
    val back = spark.read.format("dwrf").load(dir)
    val q = back.filter(col("id") === AbsentId)
    assert(scanPartitions(q) == 8, "no bloom => stats alone cannot prune")
    assert(q.count() == 0)
  }

  test("distinct-count cap drops the filter instead of breaking the write") {
    val dir = writeFixture(Map("bloom.max.distinct" -> "10"))
    val conf = new org.apache.hadoop.conf.Configuration()
    DwrfUtil.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf).foreach { f =>
      val r = new DwrfFileReader(f, conf)
      try assert(r.footer.userMetadata.isEmpty,
        s"over-cap bloom must be dropped, found ${r.footer.userMetadata.keySet}")
      finally r.close()
    }
    val back = spark.read.format("dwrf").load(dir)
    assert(scanPartitions(back.filter(col("id") === AbsentId)) == 8)
    assert(back.count() == 8000)
  }

  test("measured false-positive rate stays near the 2% target") {
    val dir = writeFixture(Map.empty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val f = DwrfUtil.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf).head
    val r = new DwrfFileReader(f, conf)
    val bf = try BloomFilter.deserialize(
      r.footer.userMetadata(DwrfBloom.MetaPrefix + "id")).get
    finally r.close()
    val falsePos = (1 to 2000)
      .map(i => DwrfBloom.hashLong(1000000L + i)) // all outside the domain
      .count(bf.mightContain)
    assert(falsePos <= 2000 * 0.05,
      s"fpp drifted: $falsePos/2000 false positives at target 0.02")
  }

  test("truncated or foreign footer bloom bytes mean no pruning, not a crash") {
    val good = {
      val bf = BloomFilter.sized(100, 0.02)
      (1 to 100).foreach(i => bf.add(DwrfBloom.hashLong(i.toLong)))
      bf.serialize()
    }
    assert(BloomFilter.deserialize(good).isDefined)
    // truncated at every prefix length, foreign version, nonsense header
    for (n <- 0 until good.length)
      assert(BloomFilter.deserialize(good.take(n)).isEmpty, s"prefix $n")
    assert(BloomFilter.deserialize(Array[Byte](2) ++ good.drop(1)).isEmpty)
    val hostile = good.clone()
    // declare an enormous word count: must be rejected, not allocated
    java.nio.ByteBuffer.wrap(hostile).put(0, 1.toByte).putInt(5, Int.MaxValue)
    assert(BloomFilter.deserialize(hostile).isEmpty)
  }

  test("internal UTF8String filter values hash like their external form") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.StringType
    val ext = DwrfBloom.hashFilterValue(StringType, "user-42")
    val int = DwrfBloom.hashFilterValue(
      StringType, UTF8String.fromString("user-42"))
    assert(ext.isDefined && ext == int)
  }

  test("misconfiguration fails loud at write time") {
    val dir = graft.TestDirs.tmp("dwrf-bloombad-").toString
    val df = spark.range(10).select(col("id"), (col("id") * 1.5).as("d"))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val noCol = intercept[Exception](df.write.format("dwrf")
      .option("bloom.columns", "nope").mode("overwrite").save(dir))
    assert(chain(noCol).contains("no such column"), chain(noCol))
    val badType = intercept[Exception](df.write.format("dwrf")
      .option("bloom.columns", "d").mode("overwrite").save(dir))
    assert(chain(badType).contains("unsupported type"), chain(badType))
  }
}
