package graft.sources.dwrf

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Landing-dir retention (`cleanSource` / `sourceArchiveDir`): committed
  * files may be archived or deleted because offsets index the durable
  * dwrf-source-log under the checkpoint, not the live listing. The
  * critical property is the restart: with count-into-listing offsets,
  * removing drained files would silently strand every later arrival
  * below the committed offset (latestOffset could never exceed the
  * shrunken listing length) — here the registry keeps counting from
  * where it stopped.
  */
class DwrfStreamRetentionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(prefix: String): String =
    graft.TestDirs.tmp(prefix).toString

  /** Stage one single-part dwrf file into `dir` with a pinned mtime. */
  private def stageOne(dir: String, name: String, mtime: Long,
      ids: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    val tmp = s"$dir/tmp"
    ids.toDF("id").coalesce(1).write.mode("overwrite").format("dwrf").save(tmp)
    val part = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
      st.filter(_.getFileName.toString.endsWith(".dwrf")).findFirst().get()
    }
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.move(part, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  /** Explicit schema: a retention-managed landing dir can be fully
    * drained (zero files on disk), where inference has nothing to read —
    * the same reason Spark's own file sources want a user schema for
    * streaming.
    */
  private def drain(dir: String, out: String, ck: String,
      extra: Map[String, String]): Unit = {
    var r = spark.readStream.format("dwrf")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
  }

  private def landingFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".dwrf")).sorted

  test("cleanSource=archive moves committed files; restart keeps counting") {
    val s = spark
    import s.implicits._
    val dir = mkdir("retarch-"); val arch = mkdir("retarch-dst-")
    val out = s"$dir-out"; val ck = s"$dir-ck"
    (0 until 3).foreach(i => stageOne(dir, f"arrive-$i%02d.dwrf",
      1700000000000L + i * 1000, (i * 10L) until (i * 10L + 10)))
    val opts = Map("cleanSource" -> "archive", "sourceArchiveDir" -> arch)

    drain(dir, out, ck, opts)
    // cleanup lags one trigger (commit fires at next-batch planning,
    // like Spark's file source), so the final file may still be present
    assert(landingFiles(dir).forall(_ == "arrive-02.dwrf"),
      s"only the final batch's file may remain: ${landingFiles(dir)}")
    assert(landingFiles(arch).take(2) ==
      Seq("arrive-00.dwrf", "arrive-01.dwrf"),
      "archive must hold drained files under their landing-relative names")

    // restart with nothing new: the idle trigger finishes the cleanup
    drain(dir, out, ck, opts)
    assert(landingFiles(dir).isEmpty && landingFiles(arch).size == 3)

    // two late arrivals — the registry must resume past the archived
    // prefix instead of stranding them below the committed offset
    (3 until 5).foreach(i => stageOne(dir, f"arrive-$i%02d.dwrf",
      1700000000000L + i * 1000, (i * 10L) until (i * 10L + 10)))
    drain(dir, out, ck, opts)
    drain(dir, out, ck, opts) // idle trigger cleans the final batch
    assert(landingFiles(dir).isEmpty && landingFiles(arch).size == 5)

    val got = s.read.parquet(out).orderBy($"id").as[Long].collect().toSeq
    assert(got == (0L until 50L), "every arrival exactly once across restarts")

    // one committed batch per file across all three runs
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(commits.length == 5, commits.toSeq)
  }

  test("cleanSource=delete removes committed files") {
    val s = spark
    import s.implicits._
    val dir = mkdir("retdel-")
    val out = s"$dir-out"; val ck = s"$dir-ck"
    (0 until 2).foreach(i => stageOne(dir, f"a-$i%02d.dwrf",
      1700000000000L + i * 1000, (i * 5L) until (i * 5L + 5)))
    drain(dir, out, ck, Map("cleanSource" -> "delete"))
    drain(dir, out, ck, Map("cleanSource" -> "delete")) // idle cleanup pass
    assert(landingFiles(dir).isEmpty, "delete mode must remove drained files")
    assert(s.read.parquet(out).orderBy($"id").as[Long].collect().toSeq
      == (0L until 10L))
  }

  test("misconfigured retention fails loud at stream start") {
    val dir = mkdir("retbad-")
    stageOne(dir, "x.dwrf", 1700000000000L, Seq(1L))
    def run(extra: Map[String, String]): Unit =
      drain(dir, s"$dir-out", s"$dir-ck-${extra.hashCode}", extra)
    val noDir = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(Map("cleanSource" -> "archive")))
    assert(noDir.getMessage.contains("sourceArchiveDir"))
    val overlap = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(Map("cleanSource" -> "archive", "sourceArchiveDir" -> s"$dir/arch")))
    assert(overlap.getMessage.contains("must not overlap"))
    val badMode = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(Map("cleanSource" -> "sideways")))
    assert(badMode.getMessage.contains("cleanSource"))
  }

  test("off (default) leaves the landing dir untouched") {
    val s = spark
    import s.implicits._
    val dir = mkdir("retoff-")
    stageOne(dir, "keep.dwrf", 1700000000000L, Seq(1L, 2L))
    drain(dir, s"$dir-out", s"$dir-ck", Map.empty)
    assert(landingFiles(dir) == Seq("keep.dwrf"))
  }
}
