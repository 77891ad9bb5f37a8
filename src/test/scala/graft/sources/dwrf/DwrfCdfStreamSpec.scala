package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources.{EqualTo, LessThan}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming change data feed: `readStream` + `readChangeFeed=true`
  * surfaces every commit's row-level delta with change columns, change
  * commits included — where the plain log stream fails loud.
  */
class DwrfCdfStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(prefix: String): String =
    graft.TestDirs.tmp(prefix).toString

  private def seed(dir: String, n: Int, parts: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"name-$i")).toDF("id", "name")
      .repartition(parts)
      .write.format("dwrf").mode("overwrite").save(dir)
  }

  private def runFeed(dir: String, out: String, ck: String): Unit =
    spark.readStream
      .format("dwrf")
      .option(DwrfChanges.ReadChangeFeedKey, "true")
      .load(dir)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

  test("feed carries snapshot, appends, MoR deletes, CoW rewrites; maintenance is silent") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("cdf-life-")
    seed(dir, 50, parts = 2)
    DwrfLog.enable(new Path(dir), conf) // v0
    (100 until 110).map(i => (i.toLong, s"name-$i")).toDF("id", "name")
      .repartition(1)
      .write.format("dwrf").mode("append").save(dir) // v1
    val schema = s.read.format("dwrf").load(dir).schema
    DwrfDv.deleteWhere(s, dir, schema, Array(LessThan("id", 5L))) // v2: MoR
    DwrfDelete.deleteWhere(s, dir, schema, Array(EqualTo("id", 30L))) // v3: CoW
    DwrfOptimize.rewrite(s, dir, Seq("id")) // v4: row-preserving
    assert(DwrfLog.latestVersion(new Path(dir), conf) === Some(4L))

    runFeed(dir, s"$dir-out", s"$dir-ck")
    val feed = s.read.parquet(s"$dir-out")
    assert(feed.columns.toSet === Set("id", "name", "_change_type",
      "_commit_version", "_commit_timestamp"))

    def slice(v: Long, tpe: String): Seq[Long] =
      feed.filter($"_commit_version" === v && $"_change_type" === tpe)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq

    assert(slice(0, "insert") === (0L until 50L)) // initial snapshot
    assert(slice(0, "delete") === Nil)
    assert(slice(1, "insert") === (100L until 110L)) // the append
    assert(slice(2, "delete") === (0L until 5L)) // MoR: EXACT rows
    assert(slice(2, "insert") === Nil)
    // CoW rewrite: file-granular delete+insert pairs, net = minus id 30;
    // the delete side must NOT re-surface rows the DV already masked
    val v3del = slice(3, "delete")
    val v3ins = slice(3, "insert")
    assert(v3del.diff(v3ins) === Seq(30L))
    assert(v3ins.diff(v3del) === Nil)
    assert(!v3del.exists(_ < 5L), "DV-masked rows must not re-surface")
    // OPTIMIZE emitted nothing
    assert(feed.filter($"_commit_version" === 4).count() === 0L)
    // timestamps stamp real commit times
    assert(feed.filter($"_commit_timestamp".isNull).count() === 0L)

    // THE contract: applying the feed reproduces the table
    val net = feed.groupBy("id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when($"_change_type" === "insert", 1)
          .otherwise(-1)).as("n"))
      .filter($"n" > 0)
    assert(net.filter($"n" =!= 1).count() === 0L, "multiset-exact feed")
    val materialized = net.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val table = s.read.format("dwrf").load(dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(materialized === table)
  }

  test("checkpoint resume streams only new commits; MoR UPDATE is delete+insert") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("cdf-resume-")
    seed(dir, 20, parts = 1)
    DwrfLog.enable(new Path(dir), conf) // v0
    runFeed(dir, s"$dir-out", s"$dir-ck")
    assert(s.read.parquet(s"$dir-out").count() === 20L)

    // a MoR UPDATE commit while the stream is down
    s.sql("DROP TABLE IF EXISTS cdf_resume_tbl")
    s.sql(s"CREATE TABLE cdf_resume_tbl USING dwrf LOCATION '$dir' " +
      s"TBLPROPERTIES ('${DwrfDv.UpdateModeKey}'='${DwrfDv.ModeMergeOnRead}')")
    try {
      s.sql("UPDATE cdf_resume_tbl SET name = 'updated' WHERE id = 7")
      runFeed(dir, s"$dir-out", s"$dir-ck") // resume: only v1 streams
      val feed = s.read.parquet(s"$dir-out")
      assert(feed.count() === 22L) // 20 snapshot + (1 delete + 1 insert)
      val v1 = feed.filter($"_commit_version" === 1)
        .select("_change_type", "id", "name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(v1 === Seq(("delete", 7L, "name-7"), ("insert", 7L, "updated")))
    } finally s.sql("DROP TABLE IF EXISTS cdf_resume_tbl")
  }

  test("readChangeFeed refuses batch reads and un-logged tables") {
    val s = spark
    val dir = tmpDir("cdf-refuse-")
    seed(dir, 10, parts = 1)
    // no snapshot log
    val e1 = intercept[Exception](
      s.readStream.format("dwrf")
        .option(DwrfChanges.ReadChangeFeedKey, "true").load(dir))
    assert(e1.getMessage.contains("snapshot log"))
    DwrfLog.enable(new Path(dir), conf)
    // batch read
    val e2 = intercept[Exception](
      s.read.format("dwrf")
        .option(DwrfChanges.ReadChangeFeedKey, "true").load(dir).collect())
    assert(e2.getMessage.contains("STREAMING") ||
      Option(e2.getCause).exists(_.getMessage.contains("STREAMING")))
  }
}
