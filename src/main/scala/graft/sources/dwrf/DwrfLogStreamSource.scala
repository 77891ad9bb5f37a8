package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** `readStream.format("dwrf")` over a SNAPSHOT table: tail the log, not
  * the directory. Offsets are "versions consumed" — each micro-batch
  * streams the files ADDED by the next span of commits, computed as a
  * manifest set-difference, so retained historic files (the reason the
  * directory-tailing source refuses log tables) are never re-ingested
  * and an INSERT/streaming-sink epoch flows through exactly once.
  *
  * Version 0 (`enable`'s snapshot of the existing table) streams first
  * by default — a fresh checkpoint gets initial-snapshot-then-changes,
  * the Delta shape; `startingVersion` skips ahead (its value's ADDED
  * files still stream; `latest` starts past everything committed so the
  * stream carries only future appends).
  *
  * Commits that REMOVE files (DELETE / UPDATE / MERGE / OPTIMIZE /
  * compaction) are not append-shaped: their added files re-carry rows
  * already streamed, and their removed rows cannot be retracted from an
  * append-mode sink. The source FAILS LOUD on one unless
  * `skipChangeCommits=true` (Delta's option name), which skips such
  * commits entirely — the stream then reflects appends only. Vacuumed
  * history fails loud with the retention story in the message.
  *
  * Admission control: `maxVersionsPerTrigger` bounds each batch's span
  * (a version's own file count is indivisible — offsets must stay on
  * commit boundaries for replay determinism). No cleanup in `commit`:
  * retention on a snapshot table is [[DwrfLog.vacuum]]'s job, and a
  * checkpoint pinned below the vacuum horizon fails loud rather than
  * silently skipping data.
  */
final class DwrfLogMicroBatchStream(
    tableSchema: StructType,
    readSchema: StructType,
    path: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    options: Map[String, String],
    hadoopConf: SerializableHadoopConf,
    checkpointLocation: String)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val root = new Path(path)
  private val qualifiedRoot = DwrfUtil.qualify(root, hadoopConf.value)
  private val skipChangeCommits =
    options.get("skipChangeCommits").exists(_.toBoolean)

  /** First version whose ADDED files stream. */
  private val startingVersion: Long =
    options.get("startingVersion").map {
      case "latest" => DwrfLog.latestVersion(root, hadoopConf.value)
        .map(_ + 1).getOrElse(0L)
      case v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"dwrf: startingVersion must be a version number or 'latest', got '$v'"))
    }.getOrElse(0L)

  // offset = number of versions consumed; version v streams in the batch
  // whose span covers it, i.e. [startOffset, endOffset) in version ids
  override def initialOffset(): Offset = DwrfSourceOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    DwrfSourceOffset(DwrfSourceOffset.parse(json))

  @volatile private var availableNowEnd: Option[Long] = None

  private def latestEnd(): Long =
    DwrfLog.latestVersion(root, hadoopConf.value).map(_ + 1).getOrElse(0L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestEnd())

  override def getDefaultReadLimit: ReadLimit =
    options.get("maxVersionsPerTrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[DwrfSourceOffset].index
    val total = availableNowEnd.getOrElse(latestEnd())
    def cap(l: ReadLimit): Long = l match {
      case mf: ReadMaxFiles => math.min(total, from + mf.maxFiles())
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => total
    }
    DwrfSourceOffset(math.max(from, cap(limit)))
  }

  override def reportLatestOffset(): Offset = DwrfSourceOffset(latestEnd())

  /** The files version `v` ADDED over its parent (empty for a skipped
    * change commit). Fails loud on vacuumed manifests and on change
    * commits without the skip option.
    */
  private def addedBy(v: Long): Seq[Path] = {
    val conf = hadoopConf.value
    def readOr(v: Long): DwrfLog.Snapshot =
      try DwrfLog.read(root, conf, v)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalStateException(
            s"dwrf stream: version $v of $path is gone (vacuumed past " +
              "retention?). Streaming a snapshot table needs its history " +
              "retained at least as long as the slowest checkpoint; " +
              "restart from a fresh checkpoint (or startingVersion=latest).", e)
      }
    val snap = readOr(v)
    val prevSnap = if (v == 0) None else Some(readOr(v - 1))
    val prev: Set[String] = prevSnap.map(_.files.toSet).getOrElse(Set.empty)
    val removed = prev -- snap.files.toSet
    // a delete-vector rebinding removes ROWS without removing files —
    // just as change-shaped as a copy-on-write commit
    val dvChanged = snap.dvs != prevSnap.map(_.dvs).getOrElse(Map.empty)
    if (removed.nonEmpty || dvChanged) {
      if (skipChangeCommits) return Nil
      throw new IllegalStateException(
        s"dwrf stream: version $v of $path is a '${snap.op}' commit that " +
          (if (removed.nonEmpty) s"removed ${removed.size} file(s)"
           else "rebound delete vectors") +
          " — not append-shaped, its rows were already streamed in " +
          "earlier form. Set skipChangeCommits=true to skip such " +
          "commits, or restart from a fresh checkpoint to re-snapshot " +
          "the table.")
    }
    snap.files.filterNot(prev.contains)
      .map(new Path(DwrfUtil.qualify(root, conf), _))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DwrfSourceOffset].index
    val to = end.asInstanceOf[DwrfSourceOffset].index
    val files = (from until to).flatMap(addedBy)
    val tails = DwrfUtil.parMap(files) { file =>
      val r = new DwrfFileReader(file, hadoopConf.value)
      try (file.toString, r.footer.stripes, PartitionLayout.specOf(qualifiedRoot, file))
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

  override def commit(end: Offset): Unit = () // retention = DwrfLog.vacuum
  override def stop(): Unit = ()
}
