package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** `readStream.format("dwrf")` — tail a landing directory of dwrf files
  * as a micro-batch stream (the read half of the native ingestion loop;
  * the write half is [[DwrfStreamingWrite]]).
  *
  * Offset model: the number of files consumed from a DURABLE per-query
  * registry ([[DwrfSourceLog]] under the checkpoint location). Each
  * trigger lists the landing dir once, sorted by (mtime, name), and
  * appends previously-unseen files to the registry before answering
  * `latestOffset`; offsets index the registry, never the live listing.
  * Replay after a restart therefore returns byte-identical batches even
  * when already-committed files have since been removed — which is what
  * makes retention possible:
  *
  *  - `cleanSource=archive` + `sourceArchiveDir=<dir>` moves each
  *    committed file (Spark's FileStreamSource option names) into the
  *    archive dir, preserving its path relative to the landing root;
  *  - `cleanSource=delete` deletes committed files;
  *  - `cleanSource=off` (default) leaves the landing dir untouched.
  *
  * Cleanup runs in `commit(end)` — i.e. strictly after the offset log
  * committed the batch — and is best-effort per file, like Spark's own
  * source cleaner: a failed rename warns and retries at the next commit
  * (after a restart, `commit` simply finds already-moved files absent
  * and skips them). Files must still be immutable once visible, and a
  * file must not vanish before the batch that reads it commits; but
  * "never delete anything while a checkpoint is active" is no longer
  * part of the contract.
  *
  * Each micro-batch plans the new files' stripe groups with the same
  * split logic as the batch scan, so one giant backfill file still fans
  * out across the cluster. Admission control honors `maxFilesPerTrigger`,
  * and Trigger.AvailableNow snapshots the registry end once so a drain
  * has a fixed endpoint. Listing cost is one directory walk per trigger
  * (footers are read only for NEW files); a production deployment with
  * huge dirs would layer mtime-partitioned landing paths on top, same as
  * any file stream.
  */
final class DwrfMicroBatchStream(
    tableSchema: StructType,
    readSchema: StructType,
    path: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    options: Map[String, String],
    hadoopConf: SerializableHadoopConf,
    checkpointLocation: String)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // A snapshot table is the wrong shape for the file-tailing source: the
  // mtime-ordered listing would ingest RETAINED historic files (pre-DML
  // copies still on disk for time travel) as if they were live data —
  // silent duplicates. Refuse up front; batch reads + versionAsOf are
  // the snapshot surfaces, landing dirs the streaming one.
  require(!DwrfLog.isEnabled(new Path(path), hadoopConf.value),
    s"$path has a snapshot log (_graft_log): streaming-reading a " +
      "snapshot table would re-ingest retained historic files as " +
      "duplicates. Stream the upstream landing dir instead, or read " +
      "the table in batch (optionally with versionAsOf).")

  private val log = new DwrfSourceLog(
    new Path(checkpointLocation, "dwrf-source-log"), hadoopConf.value)

  // Best-effort marker so maintenance tooling (DwrfCompact) can tell this
  // directory is a live streaming landing dir: compacting one would merge
  // committed files into NEW paths the source log re-registers, i.e.
  // duplicate every already-ingested row. The marker names the checkpoint
  // for the operator reading the refusal message. Failure to write it is
  // non-fatal (read-only landing dirs with cleanSource=off still work).
  locally {
    try {
      val fs = qualifiedRoot.getFileSystem(hadoopConf.value)
      val marker = new Path(qualifiedRoot, DwrfUtil.StreamMarkerName)
      val out = fs.create(marker, true)
      try out.write(checkpointLocation.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  // options arrive wrapped in CaseInsensitiveMap (DwrfTable.newScanBuilder
  // boundary), so a plain get honors Spark's case-insensitive contract
  private val cleanSource =
    options.getOrElse("cleanSource", "off").toLowerCase(java.util.Locale.ROOT)
  private val qualifiedRoot =
    DwrfUtil.qualify(new Path(path), hadoopConf.value)
  private val archiveRoot: Option[Path] = cleanSource match {
    case "off" | "delete" => None
    case "archive" =>
      val dir = options.getOrElse("sourceArchiveDir", throw new
          IllegalArgumentException("cleanSource=archive requires sourceArchiveDir"))
      val q = DwrfUtil.qualify(new Path(dir), hadoopConf.value)
      val (a, b) = (q.toString + "/", qualifiedRoot.toString + "/")
      require(!a.startsWith(b) && !b.startsWith(a),
        s"sourceArchiveDir $q must not overlap the landing dir $qualifiedRoot")
      Some(q)
    case other => throw new IllegalArgumentException(
      s"cleanSource must be off|archive|delete, got '$other'")
  }

  /** One directory walk; discovery order for new files is (mtime, name),
    * so registry order matches arrival under the sink's epoch-tagged
    * monotone naming. mtimes come from the FileStatus the walk already
    * holds — no per-file status RPCs.
    */
  private def discover(): Unit = {
    val fresh = DwrfUtil.listDataFileStatuses(new Path(path), hadoopConf.value)
      .map(s => (s.getPath.toString, s.getModificationTime))
      .filterNot(l => log.contains(l._1))
      .sortBy { case (p, m) => (m, p) }
    log.register(fresh)
  }

  // AvailableNow snapshot: fixed drain endpoint captured once per run
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    discover()
    availableNowEnd = Some(log.size.toLong)
  }

  private def registeredEnd(): Long = availableNowEnd.getOrElse {
    discover(); log.size.toLong
  }

  override def getDefaultReadLimit: ReadLimit =
    options.get("maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = DwrfSourceOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[DwrfSourceOffset].index
    // `start` is the durably committed restart point (the engine only
    // asks for a new offset once the previous batch has committed), so
    // cleaning below it here catches the final batch of a drained run
    // on the next trigger or restart — commit() alone always lags one
    // batch, exactly like Spark's FileStreamSource cleaner
    clean(from.toInt)
    val total = registeredEnd()
    def cap(l: ReadLimit): Long = l match {
      case mf: ReadMaxFiles => math.min(total, from + mf.maxFiles())
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => total
    }
    DwrfSourceOffset(math.max(from, cap(limit)))
  }

  override def reportLatestOffset(): Offset =
    DwrfSourceOffset(log.size.toLong)

  override def deserializeOffset(json: String): Offset =
    DwrfSourceOffset(DwrfSourceOffset.parse(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DwrfSourceOffset].index.toInt
    val to = end.asInstanceOf[DwrfSourceOffset].index.toInt
    // a replayed batch reads the registry the offsets were minted from —
    // the registry is loaded from the checkpoint, so this holds across
    // restarts unless the checkpoint itself was mutilated
    require(to <= log.size,
      s"dwrf stream: offset $to beyond ${log.size} registered files — " +
        "the checkpoint's dwrf-source-log does not cover this offset")
    val slice = log.slice(from, to)
    // partition-dir values must ride each split exactly like the batch
    // scan's, or a partitioned landing dir would stream its partition
    // columns as all-NULL (the reader maps absent columns to null fill)
    val tails = DwrfUtil.parMap(slice.toSeq) { case (lp, _) =>
      val file = new Path(lp)
      val r = new DwrfFileReader(file, hadoopConf.value)
      try (lp, r.footer.stripes, PartitionLayout.specOf(qualifiedRoot, file))
      finally r.close()
    }
    tails.flatMap { case (file, stripes, partSpec) =>
      DwrfSplits.stripeGroups(stripes).map { case (off, len) =>
        DwrfInputPartition(file, off, len, partSpec)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DwrfPartitionReaderFactory(readSchema.json, pushed, hadoopConf)

  // retention: earliest registry index whose file may still be present.
  // Resets to 0 on restart — commit then just re-skips absent files.
  @volatile private var cleanedUpTo = 0

  /** Cleanup below a durably committed offset — invoked from `commit`
    * (next-batch time) and from `latestOffset` (idle triggers and
    * restarts), so every committed file is removed no later than the
    * trigger after its batch. Best-effort per file, matching Spark's
    * FileStreamSource cleaner: a failure warns and is retried at the
    * next opportunity rather than failing the query.
    */
  override def commit(end: Offset): Unit =
    clean(end.asInstanceOf[DwrfSourceOffset].index.toInt)

  private def clean(to: Int): Unit = {
    if (cleanSource == "off") return
    if (to <= cleanedUpTo) return
    val fs = qualifiedRoot.getFileSystem(hadoopConf.value)
    var allOk = true
    log.slice(cleanedUpTo, to).foreach { case (lp, _) =>
      val src = new Path(lp)
      try {
        if (fs.exists(src)) archiveRoot match {
          case None => fs.delete(src, false)
          case Some(root) =>
            // preserve the path relative to the landing root so a
            // partitioned landing dir keeps its layout in the archive
            val rel = src.toString.stripPrefix(qualifiedRoot.toString)
              .stripPrefix("/")
            val dst = new Path(root, rel)
            fs.mkdirs(dst.getParent)
            if (!fs.rename(src, dst)) {
              allOk = false
              System.err.println(
                s"[dwrf-source] WARN: could not archive $src -> $dst; will retry")
            }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          allOk = false
          System.err.println(
            s"[dwrf-source] WARN: cleanup of $src failed: $e; will retry")
      }
    }
    // only advance past a fully-cleaned prefix — a failed file is
    // retried at the next commit (absent files skip cheaply via exists)
    if (allOk) cleanedUpTo = to
  }

  override def stop(): Unit = ()

  override def toString: String = s"DwrfMicroBatchStream[$path]"
}

/** Count of files consumed from the checkpoint's dwrf-source-log. */
final case class DwrfSourceOffset(index: Long) extends Offset {
  override def json(): String = s"""{"index":$index}"""
}

object DwrfSourceOffset {
  private val Re = """\{\s*"index"\s*:\s*(\d+)\s*\}""".r
  def parse(json: String): Long = json match {
    case Re(n) => n.toLong
    case _ => throw new IllegalArgumentException(s"bad dwrf offset: $json")
  }
}

/** Stripe-group split logic shared by the batch scan and the stream:
  * consecutive stripes coalesce until the ~128 MB target, so both paths
  * produce identical task granularity for the same file.
  */
private[dwrf] object DwrfSplits {
  val targetSplit: Long = 128L * 1024 * 1024

  /** (offset, length) byte ranges covering whole stripes. */
  def stripeGroups(stripes: Seq[graft.format.StripeInformation]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var start = -1L
    var end = -1L
    stripes.foreach { s =>
      val stripeLen = s.indexLength + s.dataLength + s.footerLength
      if (start < 0) { start = s.offset; end = s.offset + stripeLen }
      else if (end - start >= targetSplit) {
        out += ((start, end - start))
        start = s.offset
        end = s.offset + stripeLen
      } else end = s.offset + stripeLen
    }
    if (start >= 0) out += ((start, end - start))
    out.toSeq
  }
}
