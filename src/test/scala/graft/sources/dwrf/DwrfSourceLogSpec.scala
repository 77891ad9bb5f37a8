package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the streaming source's durable file registry:
  * escape round-trips (paths are user-controlled strings), restart
  * reloads, duplicate suppression, and the fail-loud contiguity check
  * for a mutilated checkpoint.
  */
class DwrfSourceLogSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def mkdir(): Path = new Path(graft.TestDirs.tmp("srclog-").toString)

  test("entries round-trip across restarts, including hostile path strings") {
    val dir = mkdir()
    val log = new DwrfSourceLog(dir, conf)
    val hostile = Seq(
      ("""/data/plain.dwrf""", 1L),
      ("""/data/with"quote.dwrf""", 2L),
      ("""/data/back\slash.dwrf""", 3L),
      ("""/data/mixed\"both\\".dwrf""", 4L))
    log.register(hostile.take(2))
    log.register(hostile.drop(2))
    assert(log.size == 4)
    // fresh instance = restart: reload from disk
    val back = new DwrfSourceLog(dir, conf)
    assert(back.size == 4)
    assert(back.slice(0, 4) == hostile.toIndexedSeq)
    hostile.foreach { case (p, _) => assert(back.contains(p)) }
    assert(!back.contains("/data/unseen.dwrf"))
  }

  test("render/parse are exact inverses") {
    for (p <- Seq("a", "a\"b", "a\\b", "a\\\"b", "\\\\\"\"", "uénicode",
        "new\nline", "carriage\rreturn", "tab\tandctl"))
      assert(DwrfSourceLog.parse(DwrfSourceLog.render((p, 7L))) == (p, 7L))
    intercept[IllegalArgumentException](DwrfSourceLog.parse("not json"))
  }

  test("a path containing a newline survives the line-oriented restart") {
    val dir = mkdir()
    val log = new DwrfSourceLog(dir, conf)
    val entries = Seq(("/data/evil\nname.dwrf", 1L), ("/data/after.dwrf", 2L))
    log.register(entries)
    val back = new DwrfSourceLog(dir, conf)
    assert(back.size == 2)
    assert(back.slice(0, 2) == entries.toIndexedSeq)
  }

  test("a gap in the log files fails loud instead of renumbering") {
    val dir = mkdir()
    val log = new DwrfSourceLog(dir, conf)
    log.register(Seq(("/a.dwrf", 1L)))
    log.register(Seq(("/b.dwrf", 2L)))
    // simulate a partially-deleted checkpoint: first segment gone
    val fs = dir.getFileSystem(conf)
    val first = fs.listStatus(dir).map(_.getPath).minBy(_.getName)
    fs.delete(first, false)
    val e = intercept[IllegalArgumentException](new DwrfSourceLog(dir, conf))
    assert(e.getMessage.contains("not contiguous"))
  }
}
