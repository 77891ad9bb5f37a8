package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Corrupt snapshot-log manifests must fail LOUD at plan time — a scan
  * over a table whose latest manifest is damaged must never silently
  * fall back to a directory listing (which would surface uncommitted or
  * replaced files) or fabricate a partial file set. Same posture as the
  * format's DwrfCorruptionSpec and the DV sidecar fuzz, applied to the
  * third untrusted input: the log itself.
  */
class DwrfLogCorruptionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def stage(): (String, Path) = {
    val s = spark
    import s.implicits._
    val dir = graft.TestDirs.tmp("dwrf-logcorr-").toString
    spark.range(0, 100, 1, 2).select($"id").write.format("dwrf")
      .mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    spark.range(100, 200, 1, 2).select($"id").write.format("dwrf")
      .mode("append").save(dir)
    val ld = DwrfLog.logDir(new Path(dir))
    val fs = ld.getFileSystem(conf)
    val latest = fs.listStatus(ld).map(_.getPath)
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    (dir, latest)
  }

  private def bytesOf(p: Path): Array[Byte] = {
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  private def overwrite(p: Path, b: Array[Byte]): Unit = {
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(b) finally out.close()
  }

  test("parse fuzz: byte flips and truncations never hang or mis-parse silently") {
    val (_, manifest) = stage()
    val good = bytesOf(manifest)
    val body = new String(good, "UTF-8")
    val reference = DwrfLog.parse(body)
    assert(reference.version == 1L && reference.files.nonEmpty)
    val rnd = new scala.util.Random(11)
    var parsed = 0
    (1 to 400).foreach { _ =>
      val b = good.clone()
      val i = rnd.nextInt(b.length)
      b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      try {
        val snap = DwrfLog.parse(new String(b, "UTF-8"))
        // a parse that survives must be self-consistent: its own render
        // round-trips to the same snapshot (no field silently dropped)
        assert(DwrfLog.parse(DwrfLog.render(snap)) == snap)
        parsed += 1
      } catch { case _: Exception => () }
    }
    (1 to 60).foreach { _ =>
      val cut = rnd.nextInt(good.length)
      try { DwrfLog.parse(new String(good.take(cut), "UTF-8")); () }
      catch { case _: Exception => () }
    }
    assert(parsed > 0, "some flips should land in ignorable positions")
  }

  test("a scan over a damaged latest manifest fails loud, never lists the dir") {
    val (dir, manifest) = stage()
    val good = bytesOf(manifest)
    // kill the version field: parse fails -> planning fails
    overwrite(manifest, new String(good, "UTF-8")
      .replace("\"version\":", "\"vers!on\":").getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("dwrf").load(dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unreadable dwrf log manifest")),
      s"expected the loud manifest error, got: ${messages(e).mkString(" | ")}")
    // restore -> the table reads again, content intact
    overwrite(manifest, good)
    assert(spark.read.format("dwrf").load(dir).count() == 200L)
  }

  test("a manifest naming the wrong version inside fails the read") {
    val (dir, manifest) = stage()
    val good = bytesOf(manifest)
    overwrite(manifest, new String(good, "UTF-8")
      .replace("\"version\":1", "\"version\":7").getBytes("UTF-8"))
    val e = intercept[Exception] {
      DwrfLog.read(new Path(dir), conf, 1L)
    }
    assert(e.getMessage.contains("names version"),
      s"version/name mismatch must fail loud, got: ${e.getMessage}")
    overwrite(manifest, good)
    assert(DwrfLog.read(new Path(dir), conf, 1L).version == 1L)
  }
}
