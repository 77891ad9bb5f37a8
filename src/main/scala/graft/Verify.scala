package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Same session as Bench (BenchSession: local[$SPARK_GRAFT_CPUS],
    // default 32): a 4-thread default quadruples the dump's wall time for
    // no isolation benefit on a 32-cpu host.
    val spark = BenchSession.build()
    // SPARK_GRAFT_VERIFY_MODE=bench runs the dump under the BENCH
    // arithmetic (production float kernels) so the configuration the
    // bench actually times can be oracle-checked end-to-end; the default
    // mode stays exact. The oracle SQL is identical in both modes: the
    // float rows' parity claim (ExactFloatParitySpec) is that the answers
    // match hash-exactly anyway. Audits run in both modes.
    if (sys.env.get("SPARK_GRAFT_VERIFY_MODE").contains("bench")) {
      System.err.println("[verify] BENCH-MODE dump: float arithmetic")
      graft.queries.Exact.disableForBench()
    }
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter (the driver never sets this):
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump to the named queries.
    // Point filtered runs at a FRESH outDir — oracle_sql.json is written
    // for the subset only, so mixing with a previous full dump would let
    // the stale queries go unchecked by check_oracle.py.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeOracleSql(): Unit = {
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => only.forall(_.contains(k)) }
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
    // oracle_sql.json is a pure function of the static maps — write it
    // BEFORE any query runs, so a driver-killed partial run still gets
    // its surviving dumps compared instead of zeroing the whole round
    // (rewritten identically at the end for good measure).
    writeOracleSql()
    // Deterministic name order: if the driver kills a long run partway,
    // the surviving subset is an alphabetic prefix (diagnosable), not a
    // hash-order lottery. Per-query wall time goes to stderr so a slow
    // query is attributable from the driver log.
    // Each query's audit runs after its dump; a failed query or audit
    // leaves no dump, so check_oracle.py reports the query as failed.
    val audits = SparkEntry.audits
    val t0 = System.nanoTime()
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val dump = Paths.get(outDir, name)
      val tq = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(dump.toString)
        val ta = System.nanoTime()
        audits(name)(spark, sfDir)
        System.err.println(f"[verify] $name ok ${(ta - tq) / 1e9}%.1fs, audit ${(System.nanoTime() - ta) / 1e9}%.1fs (total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
      } catch { case e: Throwable =>
        if (Files.exists(dump)) Files.walk(dump).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.delete(p))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql()
    spark.stop()
  }
}
