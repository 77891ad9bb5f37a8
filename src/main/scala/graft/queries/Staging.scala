package graft.queries

/** Memoized fixture staging, shared by every query that derives an
  * on-disk layout from a source table (CDC snapshots, PQ indexes,
  * bucketed warehouses): run the stage closure once per source
  * generation, keyed by the source file's (mtime, length) plus any
  * variant parameters, with an optional extra validity probe for
  * layouts that must ALSO hold a specific state (e.g. a snapshot log
  * at the expected version after a partial clean). Four hand-rolled
  * copies of this pattern had already drifted (some verified the log
  * version, some did not) — one helper, one behavior.
  */
object Staging {

  /** Fingerprint of the code that does the staging: the newest mtime
    * under this class's code source (the classes dir during sbt runs, the
    * jar otherwise). A staged layout is a function of (source data,
    * writer code); keying on data identity alone once pinned a
    * pre-bug-fix bucket warehouse into a correctness artifact — two
    * write-path fixes landed after first staging and were invisible to
    * Verify until the testdata regenerated. Salting every key with this
    * epoch makes any recompile restage. Overridable via the
    * `graft.staging.epoch` system property (tests; or to pin a known-good
    * epoch across JVMs in a long bench campaign).
    */
  def codeEpoch: String =
    sys.props.getOrElse("graft.staging.epoch", computedEpoch)

  private lazy val computedEpoch: String = {
    val src = getClass.getProtectionDomain.getCodeSource
    val latest =
      if (src == null || src.getLocation == null) 0L
      else {
        val f = new java.io.File(src.getLocation.toURI)
        if (f.isDirectory) {
          var max = f.lastModified
          val walk = java.nio.file.Files.walk(f.toPath)
          try walk.forEach { p =>
            val m = p.toFile.lastModified
            if (m > max) max = m
          } finally walk.close()
          max
        } else {
          // jar code source: sbt's bgRun repackages the classes into a
          // FRESH jar per `runMain`, so the jar file's own mtime is
          // "now" on every invocation — keying on it would restage
          // every fixture every run (measured: bench pass-1 paid full
          // staging each run) — and sbt normalizes entry TIMES to a
          // fixed reproducible-build epoch, so those never change.
          // The entries' CRCs are content-derived: stable across
          // repackaging, different after any recompile. Fold them
          // (with names, from the central directory — no
          // decompression) into one 64-bit fingerprint.
          val zf = new java.util.zip.ZipFile(f)
          try {
            var h = 1125899906842597L
            val es = zf.entries()
            while (es.hasMoreElements) {
              val e = es.nextElement()
              h = h * 31 + e.getName.hashCode
              h = h * 31 + e.getCrc
            }
            h
          } finally zf.close()
        }
      }
    java.lang.Long.toHexString(latest)
  }

  /** Shared staging root for derived on-disk fixtures. Relative to the
    * working directory by default so the queries run from any checkout;
    * overridable for split-machine setups. Always absolute: a relative
    * path would resolve against the warehouse directory when it becomes
    * a catalog table's LOCATION.
    */
  def root: java.nio.file.Path = {
    val p = sys.props.get("graft.staging.root")
      .orElse(sys.env.get("SPARK_GRAFT_STAGING_DIR"))
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get("target", "staging"))
      .toAbsolutePath
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** `mtime:length:codeEpoch[:extra]` identity of a staged layout —
    * source data generation plus the writer-code fingerprint.
    */
  def sourceKey(f: java.io.File, extra: String = ""): String =
    s"${f.lastModified}:${f.length}:$codeEpoch" +
      (if (extra.isEmpty) "" else s":$extra")

  /** Run `stage` unless `marker` already records `key` and `stillValid`
    * holds; the marker is (re)written only after a successful stage.
    * Returns true when the stage closure ran (callers with a
    * cached-path alternative — e.g. re-CREATE a catalog table over the
    * surviving layout — branch on it).
    */
  def once(marker: java.nio.file.Path, key: String,
      stillValid: => Boolean = true)(stage: => Unit): Boolean = {
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == key &&
      stillValid
    if (!fresh) {
      stage
      java.nio.file.Files.write(marker, key.getBytes("UTF-8"))
    }
    !fresh
  }
}
