package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** `sort.columns` write option (DSv2 RequiresDistributionAndOrdering):
  * Spark sorts each write task's rows before the dwrf writer sees them,
  * which is what turns per-stride min-max stats from decorative into the
  * I/O plan — on shuffled input every stride spans the full key domain
  * and nothing skips; on sorted input a range predicate touches exactly
  * the strides holding its range.
  */
class DwrfSortedWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Deterministically scrambled keys 0..n-1 (Fibonacci-hash permutation):
    * unsorted on disk unless the writer asks for ordering.
    */
  private def scrambled(n: Int) = {
    // gcd(2654435761, 10000) = 1 for our n => a true permutation
    spark.range(0, n, 1, 1).select(
      pmod(col("id") * 2654435761L, lit(n.toLong)).as("key"),
      (col("id") % 7).cast("int").as("p"),
      concat(lit("v-"), col("id")).as("payload"))
  }

  private def tmp(): String = graft.TestDirs.tmp("dwrf-sorted-").toString

  // order-sensitive (asserts file order == key order), so this one keeps
  // its own reader loop rather than DwrfUtil.surfacedRows' count
  private def keysInFileOrder(dir: String, filters: Seq[Filter] = Nil): Seq[Long] = {
    val conf = new Configuration()
    DwrfUtil.listDataFiles(new Path(dir), conf).flatMap { f =>
      val r = new DwrfFileReader(f, conf)
      try {
        val readSchema = org.apache.spark.sql.types.StructType(
          r.schema.fields.filter(_.name == "key"))
        r.rows(r.footer.stripes, readSchema, filters).map(_.getLong(0)).toVector
      } finally r.close()
    }
  }

  test("sort.columns makes range predicates skip strides; without it nothing skips") {
    val sorted = tmp(); val unsorted = tmp()
    val df = scrambled(10000)
    df.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .option("sort.columns", "key")
      .save(sorted)
    df.write.format("dwrf").mode("overwrite")
      .option("row.index.stride", "1000")
      .save(unsorted)

    // file order IS key order under sort.columns
    val ks = keysInFileOrder(sorted)
    assert(ks == (0L until 10000L), "rows must arrive at the writer sorted")
    assert(keysInFileOrder(unsorted) != (0L until 10000L),
      "scrambled fixture must not be accidentally sorted")

    // sorted: key < 500 lives entirely in stride 0 => 1000 rows surface
    assert(keysInFileOrder(sorted, Seq(LessThan("key", 500L))).size == 1000)
    // unsorted: every stride spans ~the full domain => nothing skips
    assert(keysInFileOrder(unsorted, Seq(LessThan("key", 500L))).size == 10000)
    // both refine to the same answer through Spark; raw superset differs
    val viaSpark = spark.read.format("dwrf").load(sorted)
      .filter(col("key") < 500).count()
    assert(viaSpark == 500)
  }

  test("case-insensitive column resolution; unknown column fails loud") {
    val dir = tmp()
    scrambled(1000).write.format("dwrf").mode("overwrite")
      .option("sort.columns", "KEY")
      .save(dir)
    assert(keysInFileOrder(dir) == (0L until 1000L))

    val e = intercept[Exception] {
      scrambled(100).write.format("dwrf").mode("overwrite")
        .option("sort.columns", "nope")
        .save(tmp())
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("sort.columns")),
      s"error must name the option: $e")
  }

  test("partitioned write clusters by partition value and sorts within it") {
    val dir = tmp()
    scrambled(7000).write.format("dwrf").mode("overwrite")
      .partitionBy("p")
      .option("sort.columns", "key")
      .save(dir)
    val conf = new Configuration()
    val fs = new Path(dir).getFileSystem(conf)
    val partDirs = fs.listStatus(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p="))
    assert(partDirs.length == 7)
    partDirs.foreach { d =>
      // clustered distribution => each partition value lands in ONE task
      // => exactly one data file (no file sprawl at scale)
      val files = DwrfUtil.listDataFiles(d.getPath, conf)
      assert(files.size == 1, s"${d.getPath.getName}: ${files.size} files")
      val ks = keysInFileOrder(d.getPath.toString)
      assert(ks == ks.sorted, s"${d.getPath.getName} not sorted by key")
      assert(ks.nonEmpty)
    }
    // round trip intact (partition col reattached, all rows present)
    val back = spark.read.format("dwrf").load(dir)
    assert(back.count() == 7000)
    assert(back.agg(sum("key")).head().getLong(0) == (0L until 7000L).sum)
  }
}
