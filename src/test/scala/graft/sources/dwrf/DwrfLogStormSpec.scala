package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Commit-storm stress for the snapshot log's writer side. The existing
  * suite proves pairwise conflicts and torn-read freedom; this one
  * proves NO LOST UPDATES under many concurrent committers.
  *
  * The in-JVM lock serializes commits per table-root STRING — so half
  * the storm threads address the same directory through a differently
  * spelled (qualified) root on purpose, taking different lock objects
  * and genuinely racing the exists+rename arbitration that is the
  * cross-JVM commit protocol. Losers must retry against the re-read
  * parent and merge; appends commute, so every appended file must be
  * live at the end, the version chain must be gap-free, and every
  * retained manifest must parse with monotonic commit stamps.
  */
class DwrfLogStormSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-storm-").toString

  private def writeRange(dir: String, n: Int, parts: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"name-$i"))
      .toDF("id", "name")
      .repartition(parts)
      .write.format("dwrf").mode("overwrite").save(dir)
  }

  /** Copy one live data file to `count` fresh names under the root —
    * valid dwrf bytes the log does not reference yet, the raw material
    * each storm thread commits.
    */
  private def seedFiles(dir: String, count: Int): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val src = DwrfUtil.listDataFiles(root, conf).head
    (0 until count).map { i =>
      val dst = new Path(root, f"storm-$i%03d.dwrf")
      FileUtil.copy(fs, src, fs, dst, false, conf)
      dst
    }
  }

  // two spellings of the same directory → two in-JVM lock objects →
  // the rename arbitration actually races
  private def roots(dir: String): Array[Path] =
    Array(new Path(dir), new Path("file:" + dir))

  test("append storm across lock scopes loses nothing, versions stay gap-free") {
    val dir = tmpDir()
    writeRange(dir, 40, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val seeded = seedFiles(dir, 40)
    val rs = roots(dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        try {
          (0 until 5).foreach { j =>
            val f = seeded(t * 5 + j)
            DwrfLog.commitAppend(rs(t % 2), conf, Seq(f))
          }
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"storm commits failed: ${errors.peek()}")
    val latest = DwrfLog.latest(new Path(dir), conf).get
    val live = latest.files.toSet
    seeded.foreach { f =>
      val rel = DwrfLog.relativize(new Path(dir), conf, f)
      assert(live.contains(rel), s"lost update: $rel not live after storm")
    }
    // gap-free, parseable, monotonic history; every commit an append
    val hist = DwrfLog.history(new Path(dir), conf)
    assert(hist.map(_.version) == (0L to latest.version),
      "version chain must be contiguous")
    assert(hist.tail.forall(_.op == "append"))
    hist.sliding(2).foreach {
      case Seq(a, b) => assert(b.ts > a.ts, "commit stamps must be monotonic")
      case _ =>
    }
    // every version still readable (manifests + stats written under race)
    hist.foreach(s => assert(
      DwrfLog.read(new Path(dir), conf, s.version).files.nonEmpty))
    // the table actually scans: all 40 original rows × (1 + 40 copies of
    // one source file's rows) — just require the scan succeeds and rows
    // grew past the original table
    val n = spark.read.format("dwrf").load(dir).count()
    assert(n > 40, s"post-storm scan returned $n rows")
  }

  test("a rewrite racing the storm keeps first-writer-wins without losing appends") {
    val dir = tmpDir()
    writeRange(dir, 40, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val originals = DwrfLog.latest(new Path(dir), conf).get
      .resolved(DwrfUtil.qualify(new Path(dir), conf))
    val seeded = seedFiles(dir, 21)
    val rs = roots(dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until 4).map { t =>
      new Thread(() => {
        try (0 until 5).foreach { j =>
          DwrfLog.commitAppend(rs(t % 2), conf, Seq(seeded(t * 5 + j)))
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    val rewriter = new Thread(() => {
      try {
        // a compaction-shaped replace: all original files → one survivor
        // (the seeded spare), racing the appends through the other root
        DwrfLog.commitReplace(rs(1), conf, removed = originals,
          added = Seq(seeded(20)), op = "rewrite-under-storm")
        ()
      } catch { case e: Throwable => errors.add(e); () }
    })
    appenders.foreach(_.start()); rewriter.start()
    appenders.foreach(_.join(120000)); rewriter.join(120000)
    assert(errors.isEmpty, s"racing commits failed: ${errors.peek()}")
    val latest = DwrfLog.latest(new Path(dir), conf).get
    val live = latest.files.toSet
    val relOf = (p: Path) => DwrfLog.relativize(new Path(dir), conf, p)
    // the rewrite won exactly once: originals gone, survivor live
    originals.foreach(f => assert(!live.contains(relOf(f)),
      s"replaced file ${relOf(f)} still live"))
    assert(live.contains(relOf(seeded(20))))
    // and NO append was lost to it
    (0 until 20).foreach(i => assert(live.contains(relOf(seeded(i))),
      s"append ${relOf(seeded(i))} lost to the racing rewrite"))
  }
}
