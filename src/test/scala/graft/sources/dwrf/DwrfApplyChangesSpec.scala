package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming CDC apply ([[DwrfApplyChanges]]): a change feed replayed
  * into a target table converges to the source table, exactly once,
  * across append / copy-on-write UPDATE / merge-on-read DELETE commits.
  */
class DwrfApplyChangesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-apply-").toString

  private def rowsOf(table: String): Seq[(Long, Double)] = {
    val s = spark
    import s.implicits._
    s.table(table).as[(Long, Double)].collect().sortBy(_._1).toSeq
  }

  private def drain(srcDir: String, target: String, ck: String): Unit = {
    val q = DwrfApplyChanges.start(spark, srcDir, target,
      keys = Seq("id"), checkpoint = ck)
    q.awaitTermination()
  }

  test("apply converges an empty target to the source across commit kinds") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir()
    val tgtDir = tmpDir()
    val src = s"apply_src_${Integer.toHexString(srcDir.hashCode)}"
    val tgt = s"apply_tgt_${Integer.toHexString(tgtDir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $src")
    s.sql(s"DROP TABLE IF EXISTS $tgt")
    try {
      // v0: initial snapshot
      (0L until 20L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .repartition(2).write.format("dwrf").mode("overwrite").save(srcDir)
      s.sql(s"CREATE TABLE $src USING dwrf LOCATION '$srcDir'")
      DwrfLog.enable(new Path(srcDir), conf)
      // v1: append
      (20L until 25L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("append").save(srcDir)
      // v2: copy-on-write UPDATE (delete+insert pairs in the feed)
      s.sql(s"UPDATE $src SET bal = bal * 10 WHERE id < 5")
      // v3: merge-on-read DELETE (row-level deletes in the feed)
      DwrfDv.deleteWhere(s, srcDir,
        s.read.format("dwrf").load(srcDir).schema,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 22L)))
      require(DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L))

      s.sql(s"CREATE TABLE $tgt (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$tgtDir'")
      DwrfLog.enable(new Path(tgtDir), conf)

      val ck = tmpDir()
      drain(srcDir, tgt, ck)
      val expected = rowsOf(src)
      assert(expected.nonEmpty && rowsOf(tgt) === expected)
      val tv = DwrfLog.latestVersion(new Path(tgtDir), conf).get

      // idempotence: draining again with no new source commits is a no-op
      drain(srcDir, tgt, ck)
      assert(rowsOf(tgt) === expected)
      assert(DwrfLog.latestVersion(new Path(tgtDir), conf).get === tv,
        "an empty micro-batch must not commit anything to the target")

      // incremental catch-up: only the delta flows through the checkpoint
      s.sql(s"UPDATE $src SET bal = -1.0 WHERE id = 7")
      (30L until 32L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("append").save(srcDir)
      drain(srcDir, tgt, ck)
      assert(rowsOf(tgt) === rowsOf(src))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $src")
      s.sql(s"DROP TABLE IF EXISTS $tgt")
    }
  }

  test("replaying the same batch twice leaves the target unchanged") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir()
    val tgtDir = tmpDir()
    val tgt = s"apply_replay_${Integer.toHexString(tgtDir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $tgt")
    try {
      (0L until 10L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("overwrite").save(srcDir)
      DwrfLog.enable(new Path(srcDir), conf)
      DwrfDv.deleteWhere(s, srcDir,
        s.read.format("dwrf").load(srcDir).schema,
        Array(org.apache.spark.sql.sources.LessThan("id", 3L)))

      s.sql(s"CREATE TABLE $tgt (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$tgtDir'")
      // (0, latest] = the delete commit only; an empty span is empty
      val batch = DwrfChanges.between(s, srcDir, 0L)
      assert(DwrfChanges.between(s, srcDir, 0L, 0L).count() === 0L)
      s.read.format("dwrf").option("versionAsOf", 0).load(srcDir)
        .write.insertInto(tgt)
      DwrfApplyChanges.applyBatch(batch, tgt, Seq("id"))
      val once = rowsOf(tgt)
      DwrfApplyChanges.applyBatch(batch, tgt, Seq("id"))
      assert(rowsOf(tgt) === once, "re-applying a replayed batch must be a no-op")
      assert(once.map(_._1) === (3L until 10L))
    } finally s.sql(s"DROP TABLE IF EXISTS $tgt")
  }

  test("bootstrap append into an empty target, then a replay through MERGE") {
    // the first sync takes the bulk-load fast path (no join against an
    // empty table); a crash-replay of that same batch finds the target
    // non-empty and must converge through the MERGE path instead —
    // the exactly-once contract is carried by whichever path runs second
    val s = spark
    import s.implicits._
    val srcDir = tmpDir()
    val tgtDir = tmpDir()
    val tgt = s"apply_boot_${Integer.toHexString(tgtDir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $tgt")
    try {
      (0L until 10L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("overwrite").save(srcDir)
      DwrfLog.enable(new Path(srcDir), conf)
      // v1: the rows the feed will carry as inserts; v2: a delete in
      // the same batch span — its net-effect winner must be a no-op on
      // the empty bootstrap, and stay gone after the replay
      (10L until 20L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("append").save(srcDir)
      DwrfDv.deleteWhere(s, srcDir,
        s.read.format("dwrf").load(srcDir).schema,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 18L)))
      s.sql(s"CREATE TABLE $tgt (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$tgtDir'")
      DwrfLog.enable(new Path(tgtDir), conf)

      val batch = DwrfChanges.between(s, srcDir, 0L) // v1 inserts + v2 deletes
      DwrfApplyChanges.applyBatch(batch, tgt, Seq("id"))
      val once = rowsOf(tgt)
      assert(once.map(_._1) === (10L until 18L),
        "bootstrap must load insert winners and skip delete winners")
      val v1 = DwrfLog.latestVersion(new Path(tgtDir), conf).get
      // replay: target non-empty now, so this runs the MERGE path
      DwrfApplyChanges.applyBatch(batch, tgt, Seq("id"))
      assert(rowsOf(tgt) === once,
        "a replayed bootstrap batch must rewrite identical values")
      assert(DwrfLog.latestVersion(new Path(tgtDir), conf).get >= v1)
    } finally s.sql(s"DROP TABLE IF EXISTS $tgt")
  }
}
