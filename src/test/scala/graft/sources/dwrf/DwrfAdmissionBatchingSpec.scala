package graft.sources.dwrf


import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** r15 admission batching: `stream_cdc_apply` / `stream_agg_maintain`
  * drain TWO source commits per trigger instead of one (guide §2.4 —
  * halve the per-trigger planning/WAL/MERGE round-trips). This spec pins
  * the equivalence those queries rely on: a drain under
  * `maxVersionsPerTrigger = 2` produces a target BIT-IDENTICAL to the
  * one-version-per-trigger drain, across append / copy-on-write UPDATE /
  * merge-on-read DELETE commits — i.e. net-effect reduction and
  * recompute-from-truth are batch-span-agnostic, so admission is purely
  * a latency/cost knob, never a semantics knob.
  */
class DwrfAdmissionBatchingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    graft.TestDirs.tmp("dwrf-admission-").toString

  /** v0 snapshot, v1 append, v2 CoW UPDATE, v3 MoR DELETE — the same
    * commit-kind ladder the declared queries stage. */
  private def stageSource(): String = {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir()
    val src = s"adm_src_${Integer.toHexString(srcDir.hashCode)}"
    (0L until 40L).map(i => (i, i * 1.0)).toDF("id", "bal")
      .repartition(2).write.format("dwrf").mode("overwrite").save(srcDir)
    s.sql(s"DROP TABLE IF EXISTS $src")
    s.sql(s"CREATE TABLE $src USING dwrf LOCATION '$srcDir'")
    try {
      DwrfLog.enable(new Path(srcDir), conf)
      (40L until 50L).map(i => (i, i * 1.0)).toDF("id", "bal")
        .write.format("dwrf").mode("append").save(srcDir)
      s.sql(s"UPDATE $src SET bal = bal * 10 WHERE id < 5")
      DwrfDv.deleteWhere(s, srcDir,
        s.read.format("dwrf").load(srcDir).schema,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 45L)))
      require(DwrfLog.latestVersion(new Path(srcDir), conf).contains(3L))
    } finally s.sql(s"DROP TABLE IF EXISTS $src")
    srcDir
  }

  private def rowsOf(table: String): Seq[(Long, Double)] = {
    val s = spark
    import s.implicits._
    s.table(table).as[(Long, Double)].collect().sortBy(_._1).toSeq
  }

  test("CDC apply: maxVersionsPerTrigger=2 target is bit-identical to =1") {
    val s = spark
    val srcDir = stageSource()
    def applyWith(mvpt: String): Seq[(Long, Double)] = {
      val tgtDir = tmpDir()
      val tgt = s"adm_apply_${Integer.toHexString(tgtDir.hashCode)}_$mvpt"
      s.sql(s"DROP TABLE IF EXISTS $tgt")
      try {
        s.sql(s"CREATE TABLE $tgt (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$tgtDir'")
        DwrfLog.enable(new Path(tgtDir), conf)
        val q = DwrfApplyChanges.start(s, srcDir, tgt, keys = Seq("id"),
          checkpoint = tmpDir(),
          sourceOptions = Map("maxVersionsPerTrigger" -> mvpt))
        q.awaitTermination()
        rowsOf(tgt)
      } finally s.sql(s"DROP TABLE IF EXISTS $tgt")
    }
    val perVersion = applyWith("1")
    val batched = applyWith("2")
    assert(perVersion.nonEmpty)
    assert(batched === perVersion,
      "a two-commit-per-trigger drain must converge to the identical target")
  }

  test("agg maintain: maxVersionsPerTrigger=2 rollup is bit-identical to =1") {
    val s = spark
    val srcDir = stageSource()
    val src = s"adm_aggm_src_${Integer.toHexString(srcDir.hashCode)}"
    s.sql(s"DROP TABLE IF EXISTS $src")
    s.sql(s"CREATE TABLE $src USING dwrf LOCATION '$srcDir'")
    // key on id: appends INSERT groups, the UPDATE changes groups' values,
    // the MoR DELETE vanishes groups 45..49 entirely — all three MERGE
    // branches fire in both drains
    val aggs = Seq("COUNT(*) AS n_rows",
      "CAST(ROUND(SUM(CAST(bal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal")
    // None leaves admission unset — the whole span in one batch, the
    // configuration stream_agg_maintain runs
    def maintainWith(mvpt: Option[String]): Seq[(Long, Long, Double)] = {
      val tgtDir = tmpDir()
      val tgt = s"adm_aggm_tgt_${Integer.toHexString(tgtDir.hashCode)}_" +
        mvpt.getOrElse("unset")
      s.sql(s"DROP TABLE IF EXISTS $tgt")
      try {
        s.sql(s"CREATE TABLE $tgt (id BIGINT, n_rows BIGINT, " +
          s"total_bal DOUBLE) USING dwrf LOCATION '$tgtDir'")
        DwrfLog.enable(new Path(tgtDir), conf)
        val q = DwrfAggMaintain.start(s, srcDir, src, tgt,
          keys = Seq("id"), aggClauses = aggs, checkpoint = tmpDir(),
          sourceOptions = mvpt.map("maxVersionsPerTrigger" -> _).toMap)
        q.awaitTermination()
        import s.implicits._
        s.table(tgt).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      } finally s.sql(s"DROP TABLE IF EXISTS $tgt")
    }
    try {
      val perVersion = maintainWith(Some("1"))
      val batched = maintainWith(Some("2"))
      val unset = maintainWith(None)
      assert(perVersion.nonEmpty)
      assert(perVersion.forall(r => r._1 < 45L),
        "vanished groups must be absent from the maintained rollup")
      assert(batched === perVersion,
        "a two-commit-per-trigger maintenance must produce the identical rollup")
      assert(unset === perVersion,
        "a whole-span maintenance must produce the identical rollup")
    } finally s.sql(s"DROP TABLE IF EXISTS $src")
  }
}
