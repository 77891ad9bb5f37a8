package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot log: atomic multi-file commits, time travel, vacuum, and
  * the copy-on-write conflict rule ([[DwrfLog]]).
  */
class DwrfLogSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-log-").toString

  private def writeRange(dir: String, lo: Int, hi: Int, mode: String = "overwrite",
      parts: Int = 2): Unit = {
    val s = spark
    import s.implicits._
    (lo until hi).map(i => (i.toLong, s"name-$i", i % 5))
      .toDF("id", "name", "grp")
      .repartition(parts)
      .write.format("dwrf").mode(mode).save(dir)
  }

  private def ids(dir: String, version: Option[Long] = None): Seq[Long] = {
    val r = spark.read.format("dwrf")
    version.foreach(v => r.option("versionAsOf", v))
    r.load(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("enable pins v0; appends and overwrites commit new versions with history") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val v0 = DwrfLog.enable(new Path(dir), conf)
    assert(v0.version === 0L && v0.files.nonEmpty)

    writeRange(dir, 10, 20, mode = "append")
    assert(DwrfLog.latestVersion(new Path(dir), conf) === Some(1L))
    assert(ids(dir) === (0L until 20L))
    assert(ids(dir, Some(0L)) === (0L until 10L)) // time travel

    writeRange(dir, 100, 105, mode = "overwrite")
    assert(DwrfLog.latestVersion(new Path(dir), conf) === Some(2L))
    assert(ids(dir) === (100L until 105L))
    // INSERT OVERWRITE on a snapshot table must not destroy history
    assert(ids(dir, Some(1L)) === (0L until 20L))
    assert(ids(dir, Some(0L)) === (0L until 10L))
  }

  test("DELETE on a snapshot table: atomic manifest swap, inputs retained") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val before = DwrfUtil.listDataFiles(new Path(dir), conf).size

    val schema = spark.read.format("dwrf").load(dir).schema
    val res = DwrfDelete.deleteWhere(spark, dir, schema,
      Array(GreaterThanOrEqual("id", 50L)))
    assert(res.rowsDeleted === 50L)

    assert(ids(dir) === (0L until 50L))
    assert(ids(dir, Some(0L)) === (0L until 100L)) // pre-delete snapshot
    // copy-on-write inputs stay on disk backing the old version
    assert(DwrfUtil.listDataFiles(new Path(dir), conf).size >= before)
  }

  test("vacuum drops history past retention and reclaims unreferenced files") {
    import org.apache.spark.sql.sources.LessThan
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDelete.deleteWhere(spark, dir, schema, Array(LessThan("id", 20L)))
    assert(ids(dir, Some(0L)) === (0L until 100L))

    val res = DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    assert(res.manifestsDeleted === 1 && res.dataFilesDeleted > 0)
    assert(ids(dir) === (20L until 100L)) // live set untouched
    // the dropped version is gone for good
    val err = intercept[IllegalArgumentException](ids(dir, Some(0L)))
    assert(err.getMessage.contains("no snapshot version"))
    // every remaining data file is referenced — nothing to reclaim twice
    val res2 = DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    assert(res2.dataFilesDeleted === 0)
  }

  test("timestampAsOf pins the newest commit at or before the instant") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    writeRange(dir, 10, 20, mode = "append")
    val ts0 = DwrfLog.read(root, conf, 0L).ts
    def at(v: String): Seq[Long] =
      spark.read.format("dwrf").option("timestampAsOf", v).load(dir)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(at(ts0.toString) === (0L until 10L)) // epoch millis
    assert(at(java.time.Instant.ofEpochMilli(ts0).toString) === (0L until 10L))
    assert(at(System.currentTimeMillis().toString) === (0L until 20L))
    // an instant before all retained history fails loud
    val e1 = intercept[Exception](at("0"))
    assert(e1.getMessage.contains("at or before"))
    // contradictory pins fail loud
    val e2 = intercept[Exception] {
      spark.read.format("dwrf").option("timestampAsOf", ts0.toString)
        .option("versionAsOf", 1).load(dir).count()
    }
    assert(e2.getMessage.contains("not both"))
    // unparseable instants fail loud
    val e3 = intercept[Exception](at("yesterday-ish"))
    assert(e3.getMessage.contains("ISO-8601"))
  }

  test("time-based vacuum drops versions past the horizon, never the latest") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    writeRange(dir, 10, 20, mode = "append")
    writeRange(dir, 20, 30, mode = "append")
    // a generous horizon retains everything (all stamps are recent)
    val keepAll = DwrfLog.vacuumOlderThan(root, conf,
      horizonMillis = 24L * 3600 * 1000)
    assert(keepAll.manifestsDeleted === 0)
    assert(DwrfLog.history(root, conf).map(_.version) === Seq(0L, 1L, 2L))
    // horizon 0: every version is "old", but the latest always survives
    val res = DwrfLog.vacuumOlderThan(root, conf, horizonMillis = 0L)
    assert(res.manifestsDeleted === 2 && res.retainedVersion === 2L)
    assert(DwrfLog.history(root, conf).map(_.version) === Seq(2L))
    assert(ids(dir) === (0L until 30L)) // live set untouched
  }

  test("restore publishes a new version re-referencing the target's files") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 4)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDelete.deleteWhere(spark, dir, schema,
      Array(GreaterThanOrEqual("id", 50L)))
    assert(ids(dir) === (0L until 50L))

    val snap = DwrfLog.restore(root, conf, 0L)
    assert(snap.version === 2L && snap.op === "restore(v0)")
    assert(ids(dir) === (0L until 100L)) // rolled back
    assert(ids(dir, Some(1L)) === (0L until 50L)) // bad state stays pinnable
    // restoring to the state we're already in is a no-op, not a new commit
    assert(DwrfLog.restore(root, conf, 0L).version === 2L)

    // once vacuum reclaims v1's rewrite outputs, restoring TO v1 must
    // fail loud instead of publishing a version with missing files
    DwrfLog.vacuum(root, conf, retainLast = 1)
    val err = intercept[Exception](DwrfLog.restore(root, conf, 1L))
    assert(err.getMessage.contains("no snapshot version 1") ||
      err.getMessage.contains("vacuumed"))
  }

  test("compaction on a snapshot table swaps through one commit") {
    val dir = tmpDir()
    writeRange(dir, 0, 200, parts = 8)
    DwrfLog.enable(new Path(dir), conf)
    val liveBefore = DwrfLog.latest(new Path(dir), conf).get.files
    assert(liveBefore.size === 8)

    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.filesBefore === 8 && res.filesAfter === 1)
    assert(ids(dir) === (0L until 200L))
    // pre-compaction snapshot still reads through the retained inputs
    assert(ids(dir, Some(0L)) === (0L until 200L))
    assert(DwrfLog.latest(new Path(dir), conf).get.files.size === 1)
    // merged inputs remain on disk until vacuum
    assert(DwrfUtil.listDataFiles(new Path(dir), conf).size === 9)
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    assert(DwrfUtil.listDataFiles(new Path(dir), conf).size === 1)
    assert(ids(dir) === (0L until 200L))
  }

  test("replace commits against a superseded snapshot are refused") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val v0Files = DwrfLog.latest(root, conf).get.resolved(
      DwrfUtil.qualify(root, conf))
    // another writer truncates the table between our scan and our commit
    writeRange(dir, 50, 60, mode = "overwrite")
    val err = intercept[java.util.ConcurrentModificationException] {
      DwrfLog.commitReplace(root, conf, removed = v0Files.take(1),
        added = Nil, op = "delete")
    }
    assert(err.getMessage.contains("superseded"))
  }

  test("versionAsOf without a log and unknown versions fail loud") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val e1 = intercept[IllegalArgumentException](ids(dir, Some(0L)))
    assert(e1.getMessage.contains("no snapshot log"))
    DwrfLog.enable(new Path(dir), conf)
    val e2 = intercept[IllegalArgumentException](ids(dir, Some(7L)))
    assert(e2.getMessage.contains("no snapshot version 7"))
  }

  test("manifest serde round-trips exotic relative paths exactly") {
    val snapIn = DwrfLog.Snapshot(3L, "ap\"pend\\x",
      Seq("a=1/part-0.dwrf", "weird \"name\"\nwith\tctrl.dwrf", ""))
    assert(DwrfLog.parse(DwrfLog.render(snapIn)) === snapIn)
    val empty = DwrfLog.Snapshot(0L, "init", Nil)
    assert(DwrfLog.parse(DwrfLog.render(empty)) === empty)
  }

  test("a crashed commit temp never becomes a version and vacuum sweeps it") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    // simulate a publisher that died between temp write and rename
    val fs = root.getFileSystem(conf)
    val orphan = new Path(DwrfLog.logDir(root), ".tmp-deadbeef")
    val out = fs.create(orphan, false)
    out.write("{\"version\":99,\"op\":\"x\",\"files\":[]}".getBytes("UTF-8"))
    out.close()
    assert(DwrfLog.latestVersion(root, conf) === Some(0L)) // invisible
    assert(ids(dir) === (0L until 10L))
    DwrfLog.vacuum(root, conf, retainLast = 1)
    assert(!fs.exists(orphan))
  }

  test("SQL UPDATE and MERGE on a snapshot table commit atomically with history") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    s.sql("DROP TABLE IF EXISTS dwrf_log_dml")
    s.sql(s"CREATE TABLE dwrf_log_dml (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$dir'")
    s.sql("INSERT INTO dwrf_log_dml VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    DwrfLog.enable(new Path(dir), conf)

    s.sql("UPDATE dwrf_log_dml SET bal = bal * 2 WHERE id >= 2")
    assert(DwrfLog.latest(new Path(dir), conf).get.op === "update")
    def bals(v: Option[Long]) = {
      val r = s.read.format("dwrf")
      v.foreach(x => r.option("versionAsOf", x))
      r.load(dir).as[(Long, Double)].collect().sortBy(_._1).toSeq
    }
    assert(bals(None) === Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)))
    assert(bals(Some(0L)) === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))

    Seq((2L, 5.0), (9L, 9.0)).toDF("id", "amt").createOrReplaceTempView("log_chg")
    s.sql("""MERGE INTO dwrf_log_dml t USING log_chg c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET bal = t.bal + c.amt
            |WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (c.id, c.amt)
            |""".stripMargin)
    assert(bals(None) === Seq((1L, 10.0), (2L, 45.0), (3L, 60.0), (9L, 9.0)))
    assert(bals(Some(1L)) === Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)))
    assert(bals(Some(0L)) === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    s.sql("DROP TABLE dwrf_log_dml")
  }

  test("concurrent readers never observe a torn version during write/compact churn") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val rows = 100
    def writeGen(g: Int, mode: String): Unit =
      (0 until rows).map(i => (g, i.toLong)).toDF("gen", "id")
        .repartition(4).write.format("dwrf").mode(mode).save(dir)
    writeGen(0, "overwrite")
    DwrfLog.enable(new Path(dir), conf)

    @volatile var done = false
    val gens = 12
    val writer = Future {
      (1 until gens).foreach { g =>
        writeGen(g, "overwrite") // atomic commitTruncate
        if (g % 3 == 0) DwrfCompact.compact(s, dir, targetBytes = 1L << 30)
      }
      done = true
    }
    val reader = Future {
      var checks = 0
      val seen = scala.collection.mutable.Set.empty[Int]
      while (!done) {
        val got = s.read.format("dwrf").load(dir)
          .select($"gen", $"id").as[(Int, Long)].collect()
        // the atomicity claim: every read is ONE complete generation —
        // never a mix of two, never a partial file set
        assert(got.length === rows,
          s"torn read: ${got.length} rows (gens ${got.map(_._1).distinct.toSeq})")
        assert(got.map(_._1).distinct.length === 1,
          s"torn read mixes generations: ${got.map(_._1).distinct.toSeq}")
        assert(got.map(_._2).sorted.toSeq === (0L until rows))
        seen += got.head._1
        checks += 1
      }
      (checks, seen.size)
    }
    Await.result(writer, 120.seconds)
    val (checks, distinctGens) = Await.result(reader, 120.seconds)
    assert(checks > 5, s"reader only completed $checks checks — no overlap")
    info(s"$checks concurrent reads over $distinctGens distinct generations, zero torn")
  }

  private def drainToParquet(dir: String, ck: String, out: String,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    val schema = spark.read.format("dwrf").load(dir).schema
    val reader = spark.readStream.format("dwrf").schema(schema)
    extraOptions.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("snapshot table streams its log: initial snapshot then appends, exactly once") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    DwrfLog.enable(new Path(dir), conf)
    writeRange(dir, 10, 17, mode = "append")
    val (ck, out) = (tmpDir(), tmpDir())
    drainToParquet(dir, ck, out)
    def sunk(): Seq[Long] = spark.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sunk() === (0L until 17L)) // v0 snapshot + the append, once

    // new commits after the drain: the SAME checkpoint picks up only the
    // delta — retained history and already-streamed versions never rerun
    writeRange(dir, 17, 21, mode = "append")
    drainToParquet(dir, ck, out)
    assert(sunk() === (0L until 21L))
  }

  test("change commits fail the log stream unless skipChangeCommits") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDelete.deleteWhere(spark, dir,
      spark.read.format("dwrf").load(dir).schema,
      Array(GreaterThanOrEqual("id", 8L)))
    val err = intercept[Exception] {
      drainToParquet(dir, tmpDir(), tmpDir())
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => c.getMessage != null &&
      c.getMessage.contains("not append-shaped")), s"got: $err")

    // skipChangeCommits: the delete commit is skipped whole — the stream
    // reflects appends only (deleted rows still present, documented)
    val out = tmpDir()
    drainToParquet(dir, tmpDir(), out,
      Map("skipChangeCommits" -> "true"))
    assert(spark.read.parquet(out).count() === 10L)
  }

  test("startingVersion=latest streams only future appends") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    DwrfLog.enable(new Path(dir), conf)
    val (ck, out) = (tmpDir(), tmpDir())
    drainToParquet(dir, ck, out, Map("startingVersion" -> "latest"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out)) ||
      spark.read.parquet(out).count() === 0L)
    writeRange(dir, 50, 55, mode = "append")
    drainToParquet(dir, ck, out, Map("startingVersion" -> "latest"))
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (50L until 55L))
  }

  test("streaming sink epochs append to a snapshot table idempotently") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    writeRange(dir, 0, 5)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val src = tmpDir()
    (5 until 12).map(i => (i.toLong, s"name-$i", i % 5))
      .toDF("id", "name", "grp")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val ck = tmpDir()
    val q = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("dwrf")
      .option("path", dir)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(DwrfLog.latestVersion(root, conf).get >= 1L)
    assert(ids(dir) === (0L until 12L))
  }
}
