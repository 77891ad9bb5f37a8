package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Snapshot log: multi-file atomic commits, snapshot-isolated reads,
  * time travel, and retention-based VACUUM for a dwrf table directory.
  *
  * Without a log, every maintenance operation here (copy-on-write
  * DELETE/UPDATE/MERGE, compaction) is atomic per FILE but not per
  * TABLE: a reader listing the directory mid-swap can see a partial
  * state — acceptable for a landing dir, not for a 100 TB lake table
  * under concurrent readers. The log closes that gap the way modern
  * table formats do (Delta/Iceberg shape, re-expressed minimally):
  *
  *  - `_graft_log/v<version>.json` manifests each name the COMPLETE
  *    data-file set of one table version (paths relative to the table
  *    root, so the table can be relocated).
  *  - Readers plan from the latest manifest (or `versionAsOf`), never
  *    from a directory listing — a scan's file set is immutable for the
  *    life of the query, whatever writers do concurrently.
  *  - Writers never mutate or delete a referenced file; they add new
  *    files and publish a NEW manifest. Publication is the atomic
  *    commit point: content is written to a hidden temp in the log dir
  *    and renamed to its final version name (rename-if-absent =
  *    optimistic concurrency; losers re-read and retry or abort).
  *  - Old versions stay readable until [[vacuum]] drops manifests past
  *    the retention count and deletes data files no retained version
  *    references (crash-orphaned files from interrupted commits
  *    converge here too).
  *
  * Concurrency contract: append/truncate commits retry on version
  * conflicts (append merges against the new parent — appends commute);
  * replace commits (DML, compaction) REQUIRE their replaced files to
  * still be live in the winning parent and fail with a concurrent-
  * modification error otherwise — first writer wins, like Delta's
  * conflict rule. The publish arbitration is exact on every store:
  * HDFS-semantics renames refuse an existing destination, and on POSIX
  * local filesystems — where rename(2) would REPLACE it — the publish
  * is a hard link, the atomic create-exclusive primitive
  * (DwrfLogStormSpec provokes the race by defeating the in-JVM
  * per-root lock and proves no commit is lost).
  *
  * The log is OPT-IN per table ([[enable]]): streaming landing dirs and
  * plain directories keep their existing listing semantics untouched.
  */
object DwrfLog {
  val LogDirName = "_graft_log"

  /** Read-side option: `spark.read.format("dwrf").option("versionAsOf", 3)`. */
  val VersionAsOfKey = "versionAsOf"

  /** Write-side option ([[DwrfOptimize]]): an overwrite that is a
    * REWRITE of the named base version commits via [[commitReplace]]
    * against that version's files instead of [[commitTruncate]] — a
    * concurrent append survives, a concurrent delete conflicts.
    */
  val RewriteOfKey = "log.rewrite.of"

  /** Companion to [[RewriteOfKey]]: comma-separated RELATIVE paths
    * restricting the replace to a subset of the base version's files (a
    * partition-scoped OPTIMIZE replaces only the selected partitions'
    * files; everything else stays live untouched). Absent = the whole
    * base file set.
    */
  val RewriteFilesKey = "log.rewrite.files"

  /** `ts` = commit wall-clock millis (0 for manifests written before the
    * field existed) — the TIMESTAMP AS OF resolution key. Commit clocks
    * only need to be monotonic per table for time travel to be sane;
    * every commit stamps `max(now, parent.ts + 1)` so a stepped-back
    * clock can't make history non-monotonic.
    *
    * `dvs` binds a data file (relative path, must be in `files`) to its
    * positional delete vector sidecar (relative path, under
    * [[DwrfDv.DvDirName]]) — the merge-on-read DELETE state of this
    * version. At most one DV per file per version: a second DELETE
    * writes the UNION as a fresh sidecar and rebinds. Files without an
    * entry have no deleted rows.
    */
  final case class Snapshot(version: Long, op: String, files: Seq[String],
      ts: Long = 0L, dvs: Map[String, String] = Map.empty) {
    def resolved(root: Path): Seq[Path] = files.map(new Path(root, _))
    def dvFor(root: Path, relFile: String): Option[Path] =
      dvs.get(relFile).map(new Path(root, _))
  }

  final case class VacuumResult(dataFilesDeleted: Int, manifestsDeleted: Int,
      retainedVersion: Long)

  def logDir(root: Path): Path = new Path(root, LogDirName)

  def isEnabled(root: Path, conf: Configuration): Boolean = {
    val fs = root.getFileSystem(conf)
    fs.exists(logDir(root))
  }

  // in-JVM commit serialization per table root (cross-JVM arbitration is
  // the exclusive rename below)
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(root: Path): Object =
    locks.getOrElseUpdate(root.toString, new Object)

  // ------------------------------------------------------------ naming

  private def manifestName(v: Long): String = f"v$v%020d.json"

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.stripPrefix("v").stripSuffix(".json").toLongOption
    else None

  // ------------------------------------------------------------- serde

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[dwrf] def render(s: Snapshot): String = {
    // dvs BEFORE files: the files parser scans to the body's LAST ']',
    // which must stay the files array's own terminator
    val dvPart =
      if (s.dvs.isEmpty) ""
      else s.dvs.toSeq.sortBy(_._1).map { case (f, d) =>
        "[\"" + esc(f) + "\",\"" + esc(d) + "\"]"
      }.mkString("\"dvs\":[", ",", "],")
    s"""{"version":${s.version},"ts":${s.ts},"op":"${esc(s.op)}",""" +
      dvPart + "\"files\":[" +
      s.files.map(f => "\"" + esc(f) + "\"").mkString(",") + "]}"
  }

  /** Minimal parser for exactly the shape [[render]] writes. */
  private[dwrf] def parse(body: String): Snapshot = {
    def fail(why: String) =
      throw new IllegalStateException(s"unreadable dwrf log manifest ($why): " +
        body.take(200))
    val vM = """"version":(\d+)""".r.findFirstMatchIn(body).getOrElse(fail("version"))
    val oM = """"op":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(body).getOrElse(fail("op"))
    val fStart = body.indexOf("\"files\":[")
    if (fStart < 0) fail("files")
    val arr = body.substring(fStart + "\"files\":[".length, body.lastIndexOf(']'))
    val files = """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(arr).map(m => unesc(m.group(1))).toSeq
    // ts and dvs are optional: manifests written before the fields read
    // as 0 / empty
    val ts = """"ts":(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toLong).getOrElse(0L)
    val dvs: Map[String, String] = {
      val dStart = body.indexOf("\"dvs\":[")
      if (dStart < 0 || dStart > fStart) Map.empty
      else {
        val darr = body.substring(dStart + "\"dvs\":[".length, fStart)
        val strs = """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(darr)
          .map(m => unesc(m.group(1))).toSeq
        if (strs.length % 2 != 0) fail("dvs")
        strs.grouped(2).map(p => p(0) -> p(1)).toMap
      }
    }
    Snapshot(vM.group(1).toLong, unesc(oM.group(1)), files, ts, dvs)
  }

  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  // -------------------------------------------------------------- read

  private def listVersions(root: Path, conf: Configuration): Seq[(Long, Path)] = {
    val ld = logDir(root)
    val fs = ld.getFileSystem(conf)
    if (!fs.exists(ld)) return Nil
    fs.listStatus(ld).toSeq.flatMap(s =>
      versionOf(s.getPath.getName).map(_ -> s.getPath)).sortBy(_._1)
  }

  def latestVersion(root: Path, conf: Configuration): Option[Long] =
    listVersions(root, conf).lastOption.map(_._1)

  def read(root: Path, conf: Configuration, version: Long): Snapshot = {
    val p = new Path(logDir(root), manifestName(version))
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"dwrf: no snapshot version $version under $root " +
        s"(available: ${listVersions(root, conf).map(_._1).mkString(", ")})")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val snap = parse(body)
    require(snap.version == version,
      s"dwrf log manifest $p names version ${snap.version}")
    snap
  }

  def latest(root: Path, conf: Configuration): Option[Snapshot] =
    latestVersion(root, conf).map(read(root, conf, _))

  /** All retained versions, oldest first — the DESCRIBE HISTORY analog. */
  def history(root: Path, conf: Configuration): Seq[Snapshot] =
    listVersions(root, conf).map { case (v, _) => read(root, conf, v) }

  /** The newest retained version committed at or before `tsMillis`
    * (TIMESTAMP AS OF resolution). Fails loud when the instant predates
    * all retained history — vacuum may have dropped the version that
    * would have answered, and silently serving a newer one would lie.
    */
  def versionAt(root: Path, conf: Configuration, tsMillis: Long): Long = {
    val hist = history(root, conf)
    require(hist.nonEmpty, s"dwrf: no snapshot log under $root")
    hist.filter(_.ts <= tsMillis).lastOption.map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"dwrf: no snapshot of $root at or before timestamp $tsMillis " +
          s"(earliest retained: v${hist.head.version} at ${hist.head.ts}; " +
          "history before it was vacuumed or predates the log)"))
  }

  /** The file set a scan of `root` should plan from, or None when the
    * table has no log (fall back to directory listing). `versionAsOf`
    * pins a historic snapshot; vacuumed versions fail loud in [[read]].
    */
  def resolve(root: Path, conf: Configuration,
      versionAsOf: Option[Long]): Option[Snapshot] =
    versionAsOf match {
      case Some(v) =>
        if (!isEnabled(root, conf)) throw new IllegalArgumentException(
          s"dwrf: versionAsOf=$v but $root has no snapshot log " +
            s"(enable one with DwrfLog.enable)")
        Some(read(root, conf, v))
      case None => latest(root, conf)
    }

  // ------------------------------------------------------------ commit

  def relativize(root: Path, conf: Configuration, file: Path): String = {
    val q = DwrfUtil.qualify(root, conf).toString
    val f = DwrfUtil.qualify(file, conf).toString
    require(f.startsWith(q + "/") || f == q,
      s"dwrf log: $file is not under table root $root")
    f.stripPrefix(q).stripPrefix("/")
  }

  /** Per-log-directory memo of whether link(2) works there — probed
    * ONCE with a scratch file, so a createLink failure during commit
    * arbitration can be classified: genuine no-hardlink filesystem
    * (FAT, some network mounts) ⇒ documented rename fallback; transient
    * IO error on a link-capable filesystem ⇒ rethrown, because falling
    * back there would silently weaken commit arbitration to the racy
    * exists+rename path (two same-slot committers could both "win"). */
  private val linkProbe =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def linkSupported(ld: Path): Boolean = {
    val key = ld.toUri.getPath
    linkProbe.get(key) match {
      case Some(v) => v
      case None =>
        val dir = java.nio.file.Paths.get(key)
        val stamp = java.util.UUID.randomUUID().toString.take(12)
        val src = dir.resolve(s".probe-$stamp")
        val links = (0 until 3).map(i => dir.resolve(s".probe-$stamp-l$i"))
        try {
          // if even the scratch WRITE fails the filesystem is sick, not
          // linkless — report "supported" WITHOUT caching, so the commit
          // path rethrows its own exception and the next commit
          // re-probes once the condition clears; only a successful
          // write followed by a failing link(2) is evidence about link
          // support and gets memoized
          val wrote =
            try { java.nio.file.Files.write(src, Array.emptyByteArray); true }
            catch { case _: java.io.IOException => false }
          if (!wrote) true
          else {
            // Linkless EVIDENCE that is safe to memoize (ADVICE r14): the
            // default JVM Unix provider reports a filesystem without
            // link(2) support (FAT/exFAT, many NFS/CIFS mounts) as a
            // FileSystemException carrying EPERM/EOPNOTSUPP/ENOSYS — only
            // providers that don't implement createLink at all throw
            // UnsupportedOperationException. Classify by the specific
            // error; an UNCLASSIFIED IOException is retried twice with
            // fresh names, and only a CONSISTENT failure (all attempts
            // refused while the scratch write succeeded) memoizes false —
            // a one-off transient error still reports "supported"
            // UNCACHED, so the commit path's own createLink fails loudly
            // and the next commit re-probes once the condition clears
            // (never a silent permanent downgrade to the racy
            // exists+rename path).
            // getReason is the provider's strerror(errno) text, so this
            // assumes C-locale (English) messages: under another
            // LC_MESSAGES no reason matches, nothing is memoized, and a
            // linkless mount fails its commits loudly instead of taking
            // the rename fallback. getMessage is not consulted — it also
            // carries the file names, which may contain these words.
            def linklessSignature(e: java.io.IOException): Boolean = e match {
              case fse: java.nio.file.FileSystemException =>
                val reason = Option(fse.getReason).getOrElse("").toLowerCase
                reason.contains("not permitted") ||      // EPERM
                  reason.contains("not supported") ||    // EOPNOTSUPP
                  reason.contains("function not implemented") // ENOSYS
              case _ => false
            }
            def attempt(d: java.nio.file.Path): Option[Boolean] =
              try {
                java.nio.file.Files.createLink(d, src)
                java.nio.file.Files.deleteIfExists(d)
                Some(true)
              } catch {
                case _: UnsupportedOperationException => Some(false)
                case e: java.io.IOException if linklessSignature(e) => Some(false)
                case _: java.io.IOException => None // unclassified: retry
              }
            val verdicts = links.iterator.map(attempt)
              .collectFirst { case Some(v) => v }
            verdicts match {
              case Some(v) => linkProbe.putIfAbsent(key, v); v
              case None =>
                // every attempt failed UNCLASSIFIED: the three retries
                // run microseconds apart, so a seconds-long transient
                // (NFS blip, quota hiccup) would look "consistent" —
                // memoizing false here could still silently and
                // permanently downgrade a link-capable mount to the racy
                // exists+rename path. Report "supported" UNCACHED
                // instead: the commit's own createLink fails loudly and
                // the next commit re-probes; genuinely linkless mounts
                // are served by the signature classification above.
                true
            }
          }
        } finally {
          // an attempt whose own delete threw leaves its link behind
          links.foreach(java.nio.file.Files.deleteIfExists)
          java.nio.file.Files.deleteIfExists(src)
          ()
        }
    }
  }

  /** Publish `snap` as the next version after `parent`. Returns the
    * committed snapshot, or None when another writer took the version
    * slot first (caller re-reads and retries/aborts).
    */
  private def tryPublish(root: Path, conf: Configuration,
      snap: Snapshot): Boolean = {
    val ld = logDir(root)
    val fs = ld.getFileSystem(conf)
    fs.mkdirs(ld)
    val target = new Path(ld, manifestName(snap.version))
    if (fs.exists(target)) return false
    val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, false)
    try out.write(render(snap).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem
           | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // POSIX local FS: rename(2) REPLACES an existing destination, so
        // two same-slot committers could BOTH "win" and one manifest
        // would be silently overwritten (the lost-update race the
        // commit-storm spec provokes by defeating the in-JVM lock).
        // link(2) is the atomic create-EXCLUSIVE publish: it fails when
        // the target exists, and the linked file is already fully
        // written, so readers never see a partial manifest.
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        val d = java.nio.file.Paths.get(target.toUri.getPath)
        // the temp manifest is withdrawn on EVERY exit — including the
        // new rethrow path (transient IOException on a link-capable
        // filesystem), which would otherwise orphan a .tmp per failure
        try {
          try { java.nio.file.Files.createLink(d, t); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case e @ (_: UnsupportedOperationException | _: java.io.IOException)
                if !linkSupported(ld) =>
              // local mount genuinely without hard-link support (FAT,
              // some network mounts behind RawLocalFileSystem — verified
              // by a one-time probe, NOT inferred from this exception:
              // a transient IO error on a link-capable filesystem must
              // fail the commit loudly, never silently downgrade
              // arbitration): fall back to the exists+rename path,
              // accepting the documented narrower check-then-rename
              // race that link(2) closes
              val _ = e
              !fs.exists(target) && fs.rename(tmp, target)
          }
        } finally {
          fs.delete(tmp, false)
          ()
        }
      case _ =>
        // HDFS-semantics stores: rename refuses an existing destination,
        // so the plain rename IS the exclusive atomic commit point; a
        // lost race returns false and the temp is withdrawn
        if (fs.exists(target) || !fs.rename(tmp, target)) {
          fs.delete(tmp, false)
          false
        } else true
    }
  }


  /** Commit wall-clock stamp, clamped monotonic over the parent so a
    * stepped-back host clock cannot reorder TIMESTAMP AS OF history. */
  private def stampOver(parent: Option[Snapshot]): Long =
    math.max(System.currentTimeMillis(),
      parent.map(_.ts + 1).getOrElse(Long.MinValue))

  /** Initialize the log at version 0 from the directory's current data
    * files. Idempotent: an existing log is returned as-is. Refuses
    * streaming landing dirs (their file set is owned by the source's
    * own durable log).
    */
  def enable(root: Path, conf: Configuration): Snapshot = lockFor(root).synchronized {
    val fs = root.getFileSystem(conf)
    val marker = new Path(root, DwrfUtil.StreamMarkerName)
    if (fs.exists(marker)) throw new IllegalStateException(
      s"$root is a dwrf streaming source landing dir: its file set is " +
        "owned by the streaming source's own log; a snapshot log would " +
        "fight it. Use snapshots on downstream tables instead.")
    latest(root, conf) match {
      case Some(s) => s
      case None =>
        DwrfCompact.recover(root, conf) // converge older swap protocols first
        val files = DwrfUtil.listDataFiles(root, conf)
          .map(relativize(root, conf, _)).sorted
        val snap = Snapshot(0L, "init", files, stampOver(None))
        require(tryPublish(root, conf, snap),
          s"dwrf: concurrent log initialization under $root")
        DwrfLogStats.write(root, conf, 0L,
          DwrfLogStats.summarize(root, conf, files))
        snap
    }
  }

  private def requireEnabled(root: Path, conf: Configuration): Snapshot =
    latest(root, conf).getOrElse(throw new IllegalStateException(
      s"dwrf: no snapshot log under $root (DwrfLog.enable first)"))

  /** Commit `added` on top of whatever the latest version is when the
    * rename wins — appends commute, so conflicts just retry against the
    * new parent. Already-referenced files dedupe (idempotent epoch
    * replay in the streaming sink).
    */
  def commitAppend(root: Path, conf: Configuration, added: Seq[Path],
      op: String = "append"): Snapshot = lockFor(root).synchronized {
    val rel = added.map(relativize(root, conf, _))
    var attempt = 0
    while (attempt < 64) {
      val parent = requireEnabled(root, conf)
      if (rel.forall(parent.files.contains))
        return parent // pure replay: everything already referenced
      val merged = (parent.files ++ rel.filterNot(parent.files.contains)).sorted
      val snap = Snapshot(parent.version + 1, op, merged,
        stampOver(Some(parent)), parent.dvs)
      if (tryPublish(root, conf, snap)) {
        DwrfLogStats.write(root, conf, snap.version,
          DwrfLogStats.advance(root, conf, parent, merged, rel))
        return snap
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"dwrf: append commit under $root lost ${64} version races")
  }

  /** Commit a full replacement file set (INSERT OVERWRITE / truncate). */
  def commitTruncate(root: Path, conf: Configuration, files: Seq[Path],
      op: String = "overwrite"): Snapshot = lockFor(root).synchronized {
    val rel = files.map(relativize(root, conf, _)).sorted
    var attempt = 0
    while (attempt < 64) {
      val parent = requireEnabled(root, conf)
      val snap = Snapshot(parent.version + 1, op, rel, stampOver(Some(parent)))
      if (tryPublish(root, conf, snap)) {
        DwrfLogStats.write(root, conf, snap.version,
          DwrfLogStats.advance(root, conf, parent, rel, rel))
        return snap
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"dwrf: overwrite commit under $root lost ${64} version races")
  }

  /** Commit a copy-on-write swap: `removed` leave the live set (files
    * stay on disk for time travel), `added` join it. Fails with a
    * concurrent-modification error if any removed file is no longer
    * live in the winning parent — the rewrite was computed against a
    * superseded snapshot and applying it would lose the other writer's
    * work (first writer wins).
    *
    * Delete-vector awareness: `observedDvs` is the DV binding (relative
    * dv path per relative data file) the caller READ for its removed
    * files when it planned — a parent whose binding has since changed
    * conflicts too, because the rewrite's output was computed from a
    * superseded mask and committing it would RESURRECT concurrently
    * deleted rows. `dvUpdates` rebinds live files to new DV sidecars
    * (the merge-on-read DELETE commit); its targets must be live and
    * their binding unchanged since `observedDvs` (the new DV was
    * unioned against the one read). Removed files' bindings drop.
    */
  def commitReplace(root: Path, conf: Configuration,
      removed: Seq[Path], added: Seq[Path], op: String,
      observedDvs: Map[String, String] = Map.empty,
      dvUpdates: Map[String, String] = Map.empty): Snapshot =
    lockFor(root).synchronized {
      val relRemoved = removed.map(relativize(root, conf, _))
      val relAdded = added.map(relativize(root, conf, _))
      var attempt = 0
      while (attempt < 64) {
        val parent = requireEnabled(root, conf)
        val live = parent.files.toSet
        val gone = (relRemoved ++ dvUpdates.keys).filterNot(live.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"dwrf: copy-on-write commit under $root was computed against a " +
            s"superseded snapshot: ${gone.take(3).mkString(", ")} no longer " +
            s"live in v${parent.version}. Re-run the statement.")
        val rebound = (relRemoved ++ dvUpdates.keys)
          .filter(f => parent.dvs.get(f) != observedDvs.get(f))
        if (rebound.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"dwrf: copy-on-write commit under $root read a superseded delete-" +
            s"vector binding for ${rebound.take(3).mkString(", ")} (a " +
            s"concurrent DELETE committed v${parent.version}); committing " +
            "would resurrect its deleted rows. Re-run the statement.")
        val snap = Snapshot(parent.version + 1, op,
          (parent.files.filterNot(relRemoved.contains) ++ relAdded).sorted,
          stampOver(Some(parent)),
          parent.dvs -- relRemoved ++ dvUpdates)
        if (tryPublish(root, conf, snap)) {
          DwrfLogStats.write(root, conf, snap.version,
            DwrfLogStats.advance(root, conf, parent, snap.files, relAdded))
          return snap
        }
        attempt += 1
      }
      throw new IllegalStateException(
        s"dwrf: replace commit under $root lost ${64} version races")
    }

  /** Commit an INSERT OVERWRITE of a partition scope. Unlike
    * [[commitReplace]] — whose output ROWS were computed from the removed
    * files, so a superseded snapshot must conflict — an overwrite's
    * output is independent of what it replaces: the contract is "after
    * this commit the scope contains exactly my rows". The removal set is
    * therefore recomputed against the WINNING parent inside the retry
    * loop, so a file appended concurrently into the overwritten scope is
    * removed rather than silently retained (the r10 race: removedRel was
    * computed from a pre-commit snapshot and commitReplace only verified
    * liveness, letting a concurrent append survive an overwrite that
    * should have replaced it). Out-of-scope files and their DV bindings
    * carry over untouched; in-scope DV bindings drop with their files.
    *
    * `scope` is a predicate over table-relative data-file paths.
    */
  def commitOverwriteScope(root: Path, conf: Configuration,
      scope: String => Boolean, added: Seq[Path], op: String): Snapshot =
    lockFor(root).synchronized {
      val relAdded = added.map(relativize(root, conf, _))
      var attempt = 0
      while (attempt < 64) {
        val parent = requireEnabled(root, conf)
        val relRemoved = parent.files.filter(scope)
        val snap = Snapshot(parent.version + 1, op,
          (parent.files.filterNot(scope) ++ relAdded).sorted,
          stampOver(Some(parent)),
          parent.dvs -- relRemoved)
        if (tryPublish(root, conf, snap)) {
          DwrfLogStats.write(root, conf, snap.version,
            DwrfLogStats.advance(root, conf, parent, snap.files, relAdded))
          return snap
        }
        attempt += 1
      }
      throw new IllegalStateException(
        s"dwrf: overwrite commit under $root lost ${64} version races")
    }

  /** Roll the table back (or forward) to the state of `toVersion` by
    * publishing a NEW commit that re-references that version's files and
    * delete-vector bindings — history is never rewritten, so the bad
    * intermediate versions stay inspectable (and vacuumable) and a
    * concurrent reader pinned to them is unaffected. Fails loud when any
    * referenced file of the target version is no longer on disk (vacuum
    * already reclaimed it): a partial restore would silently drop rows.
    * Restoring to the current state is a no-op returning the latest
    * snapshot unchanged.
    */
  def restore(root: Path, conf: Configuration, toVersion: Long): Snapshot =
    lockFor(root).synchronized {
      val target = read(root, conf, toVersion) // fails loud if vacuumed
      val fs = root.getFileSystem(conf)
      val missing = (target.files ++ target.dvs.values)
        .filterNot(rel => fs.exists(new Path(root, rel)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"dwrf: cannot restore $root to v$toVersion: ${missing.size} " +
          s"referenced file(s) were vacuumed (first: ${missing.head}). " +
          "Only versions whose files survive retention are restorable.")
      var attempt = 0
      while (attempt < 64) {
        val parent = requireEnabled(root, conf)
        if (parent.files == target.files && parent.dvs == target.dvs)
          return parent // already in the target state
        val snap = Snapshot(parent.version + 1, s"restore(v$toVersion)",
          target.files, stampOver(Some(parent)), target.dvs)
        if (tryPublish(root, conf, snap)) {
          DwrfLogStats.write(root, conf, snap.version,
            DwrfLogStats.load(root, conf, toVersion).getOrElse(
              DwrfLogStats.summarize(root, conf, target.files)))
          return snap
        }
        attempt += 1
      }
      throw new IllegalStateException(
        s"dwrf: restore commit under $root lost ${64} version races")
    }

  // --------------------------------------------------------------- cli

  /** Ops CLI, mirroring [[DwrfCompact.main]]:
    * `runMain graft.sources.dwrf.DwrfLog <enable|history|vacuum> <dir> [retainLast]`.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DwrfLog <enable|history|vacuum|restore> <dir> [retainLast=2|toVersion]")
    val conf = new Configuration()
    val root = new Path(args(1))
    args(0) match {
      case "enable" => println(enable(root, conf))
      case "history" => history(root, conf).foreach(s =>
        println(s"v${s.version}\t${s.op}\t${s.files.size} files"))
      case "vacuum" =>
        val retain = if (args.length > 2) args(2).toInt else 2
        println(vacuum(root, conf, retain))
      case "restore" =>
        require(args.length > 2, "usage: DwrfLog restore <dir> <toVersion>")
        println(restore(root, conf, args(2).toLong))
      case other => throw new IllegalArgumentException(
        s"unknown DwrfLog command '$other' (enable|history|vacuum|restore)")
    }
  }

  // ------------------------------------------------------------ vacuum

  /** Drop history: retain the newest `retainLast` versions (≥ 1), delete
    * every older manifest, then delete every data file under `root` that
    * no RETAINED version references — replaced copy-on-write inputs past
    * retention and crash-orphaned files (written, never committed) both
    * go here. Run it from a maintenance window: a concurrent reader
    * pinned to a dropped version loses its files mid-query, exactly like
    * VACUUM on any snapshot store.
    */
  def vacuum(root: Path, conf: Configuration, retainLast: Int = 2): VacuumResult = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    vacuumWhere(root, conf, (versions, _) =>
      versions.splitAt(math.max(0, versions.size - retainLast)))
  }

  /** Time-based retention (the ops knob a retention POLICY sets, where
    * [[vacuum]]'s count is the manual override): drop every version whose
    * commit stamp is older than `horizonMillis` before now — except the
    * latest, which always survives (a table must stay readable however
    * stale). `horizonMillis = 7 days` keeps a week of time travel.
    */
  def vacuumOlderThan(root: Path, conf: Configuration,
      horizonMillis: Long): VacuumResult = {
    require(horizonMillis >= 0, s"horizonMillis must be >= 0, got $horizonMillis")
    val cutoff = System.currentTimeMillis() - horizonMillis
    vacuumWhere(root, conf, (versions, read) =>
      versions.zipWithIndex.partition { case ((v, _), i) =>
        i < versions.size - 1 && read(v).ts < cutoff
      } match { case (drop, keep) => (drop.map(_._1), keep.map(_._1)) })
  }

  private def vacuumWhere(root: Path, conf: Configuration,
      split: (Seq[(Long, Path)], Long => Snapshot) =>
        (Seq[(Long, Path)], Seq[(Long, Path)])): VacuumResult =
    lockFor(root).synchronized {
      val fs = root.getFileSystem(conf)
      val versions = listVersions(root, conf)
      require(versions.nonEmpty,
        s"dwrf: no snapshot log under $root (DwrfLog.enable first)")
      val (drop, keep) = split(versions, read(root, conf, _))
      require(keep.nonEmpty, "dwrf: vacuum must retain at least one version")
      val retained = keep.map { case (v, _) => read(root, conf, v) }
      val referenced: Set[String] = retained.flatMap(_.files).toSet
      var dataDeleted = 0
      DwrfUtil.listDataFiles(root, conf).foreach { f =>
        if (!referenced.contains(relativize(root, conf, f))) {
          fs.delete(f, false)
          dataDeleted += 1
        }
      }
      // delete-vector sidecars: keep those a retained version binds,
      // reclaim superseded ones (each re-DELETE writes a fresh union DV,
      // so history drops strand the old sidecars here) and crash orphans
      val referencedDvs: Set[String] = retained.flatMap(_.dvs.values).toSet
      val dvDir = new Path(root, DwrfDv.DvDirName)
      if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { s =>
        if (s.isFile &&
            !referencedDvs.contains(relativize(root, conf, s.getPath))) {
          fs.delete(s.getPath, false)
          dataDeleted += 1
        }
      }
      drop.foreach { case (_, p) => fs.delete(p, false) }
      // stats sidecars of dropped versions (and orphans from lost races)
      DwrfLogStats.vacuumSidecars(root, conf, keep.map(_._1).toSet)
      // withdraw commit temps from crashed publishers
      fs.listStatus(logDir(root)).foreach { s =>
        if (s.getPath.getName.startsWith(".tmp-")) fs.delete(s.getPath, false)
      }
      VacuumResult(dataDeleted, drop.size, keep.last._1)
    }
}
