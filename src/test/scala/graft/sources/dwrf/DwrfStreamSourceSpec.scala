package graft.sources.dwrf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `readStream.format("dwrf")` — the micro-batch read path.
  *
  * Covers: multi-epoch drain with admission control (maxFilesPerTrigger),
  * stream-batch parity on the same landing dir, and the offset JSON
  * round trip.
  */
class DwrfStreamSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("offset json round-trips") {
    val o = DwrfSourceOffset(42L)
    assert(DwrfSourceOffset.parse(o.json()) == 42L)
    intercept[IllegalArgumentException](DwrfSourceOffset.parse("{}"))
  }

  test("partitioned landing dir streams partition-column VALUES, not nulls") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("streamsrcpart-").toString
    // Hive-partitioned landing dir, as the partitioned streaming sink lays out
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "ds")
      .write.format("dwrf").partitionBy("ds").mode("overwrite").save(dir)
    s.readStream
      .format("dwrf")
      .load(dir)
      .writeStream
      .format("parquet")
      .option("path", s"$dir-out")
      .option("checkpointLocation", s"$dir-ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = s.read.parquet(s"$dir-out")
      .select($"id", $"ds").orderBy($"id").as[(Long, String)].collect().toSeq
    assert(streamed == Seq((1L, "a"), (2L, "b"), (3L, "a")),
      "partition values must ride the streamed splits")
  }

  test("widened files mid-stream upcast and read columnar") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("streamwiden-").toString
    def stageOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$dir/tmp"
      df.coalesce(1).write.mode("overwrite").format("dwrf").save(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
        st.filter(_.getFileName.toString.endsWith(".dwrf")).findFirst().get()
      }
      val dst = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // older generation: INT on disk; newer: LONG — the stream reads LONG
    stageOne(Seq(1, 2).toDF("id")
      .select($"id".cast("int").as("id")), "old-ints.dwrf", 1700000000000L)
    stageOne(Seq(3L, 4L).toDF("id"), "new-longs.dwrf", 1700000001000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val q = s.readStream
      .format("dwrf")
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .load(dir)
      .writeStream
      .format("parquet")
      .option("path", s"$dir-out")
      .option("checkpointLocation", s"$dir-ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = s.read.parquet(s"$dir-out").orderBy($"id").as[Long].collect()
    assert(back.toSeq == Seq(1L, 2L, 3L, 4L),
      "int files must upcast through the streamed read")
    // the batch after the widened file still reads columnar batches
    val scans = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collect {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "every streamed batch reads columnar")
  }

  test("landing dir drains epoch by epoch; stream == batch") {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("streamsrc-").toString

    // three arrival files with strictly increasing mtimes
    (0 until 3).foreach { i =>
      val tmp = s"$dir/tmp"
      (0 until 100).map(j => (i * 100L + j, s"tag${j % 5}", j * 1.5))
        .toDF("id", "tag", "v")
        .coalesce(1).write.mode("overwrite").format("dwrf").save(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
        st.filter(_.getFileName.toString.endsWith(".dwrf")).findFirst().get()
      }
      val dst = java.nio.file.Paths.get(dir, f"arrive-$i%02d.dwrf")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000))
    }

    val q = s.readStream
      .format("dwrf")
      // odd casing on purpose: Spark's option contract is case-insensitive,
      // and admission control silently ignored would merge the three
      // arrival files into one epoch (the commit-count assert below)
      .option("maxfilespertrigger", "1")
      .load(dir)
      .filter($"id" % 2 === 0)
      .writeStream
      .format("parquet")
      .option("path", s"$dir-out")
      .option("checkpointLocation", s"$dir-ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = s.read.parquet(s"$dir-out")
      .orderBy($"id").as[(Long, String, Double)].collect().toSeq
    val batch = s.read.format("dwrf").load(dir)
      .filter($"id" % 2 === 0)
      .orderBy($"id").as[(Long, String, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 150)

    // one epoch per file: the offset log must show three committed batches
    val commits = new java.io.File(s"$dir-ck/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(commits.length == 3, commits.toSeq)
  }
}
