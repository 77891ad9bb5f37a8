package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** `readStream.format("dwrf").option("readChangeFeed", true)` over a
  * snapshot table: the STREAMING change data feed. Where the plain log
  * stream ([[DwrfLogMicroBatchStream]]) carries appended rows only and
  * fails loud on change-shaped commits, this stream carries EVERY
  * commit's row-level delta — table rows plus `_change_type`
  * ('insert' | 'delete'), `_commit_version`, `_commit_timestamp` — so a
  * downstream materialization applies each micro-batch and provably
  * holds the table, DELETEs included. The continuous analog of
  * [[DwrfChanges.between]], built from the same retained artifacts:
  *
  *  - appended files stream as inserts; removed files' rows stream as
  *    deletes read from the RETAINED pre-commit file (masked by its
  *    pre-commit delete vector, so already-dead rows don't re-surface).
  *  - a delete-vector rebinding (merge-on-read DELETE / UPDATE / MERGE)
  *    streams its exact newly-masked rows as deletes via
  *    [[DwrfCdfDeltaPartition]] — the inverse mask, new sidecar minus
  *    old, computed executor-side.
  *  - compaction / OPTIMIZE commits stream nothing (row-preserving).
  *
  * The change columns ride the partition-constant splice (zero decode
  * cost, same path as Hive partition values). Offsets are versions
  * consumed, exactly like the log stream: commit boundaries only, so
  * replay after a crash re-emits whole commits, never fractions.
  * Vacuumed history fails loud — a feed that cannot be computed must
  * never silently skip a span.
  */
final class DwrfCdfMicroBatchStream(
    tableSchema: StructType,
    readSchema: StructType,
    path: String,
    options: Map[String, String],
    hadoopConf: SerializableHadoopConf,
    checkpointLocation: String)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val root = new Path(path)
  private val qualifiedRoot = DwrfUtil.qualify(root, hadoopConf.value)

  /** First version whose delta streams. */
  private val startingVersion: Long =
    options.get("startingVersion").map {
      case "latest" => DwrfLog.latestVersion(root, hadoopConf.value)
        .map(_ + 1).getOrElse(0L)
      case v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"dwrf: startingVersion must be a version number or 'latest', got '$v'"))
    }.getOrElse(0L)

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

  private def readOr(v: Long): DwrfLog.Snapshot =
    try DwrfLog.read(root, hadoopConf.value, v)
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalStateException(
          s"dwrf change feed: version $v of $path is gone (vacuumed past " +
            "retention?). A change-feed checkpoint needs history retained " +
            "at least as long as its lag; restart from a fresh checkpoint " +
            "(or startingVersion=latest).", e)
    }

  /** (change type, commit version, commit micros) as partition-constant
    * raw values, spliced by the reader like Hive partition columns. */
  private def changeSpec(tpe: String, v: Long,
      tsMillis: Long): Seq[(String, String)] = Seq(
    DwrfChanges.ChangeTypeColumn -> tpe,
    DwrfChanges.VersionColumn -> v.toString,
    DwrfChanges.TimestampColumn -> (tsMillis * 1000L).toString)

  /** One version's delta as input partitions. */
  private def deltaOf(v: Long): Seq[InputPartition] = {
    val conf = hadoopConf.value
    val snap = readOr(v)
    if (DwrfChanges.RowPreservingOps.contains(snap.op)) return Nil
    val prev = if (v == 0) None else Some(readOr(v - 1))
    val prevFiles: Set[String] = prev.map(_.files.toSet).getOrElse(Set.empty)
    val prevDvs: Map[String, String] = prev.map(_.dvs).getOrElse(Map.empty)
    val curFiles = snap.files.toSet

    // (absolute file, change spec, masking dv | None, delta dv pair | None)
    val work: Seq[(String, Seq[(String, String)], Option[String],
        Option[(Option[String], String)])] =
      snap.files.filterNot(prevFiles.contains).map { rel =>
        (new Path(qualifiedRoot, rel).toString,
          changeSpec("insert", v, snap.ts),
          snap.dvs.get(rel).map(d => new Path(qualifiedRoot, d).toString),
          None)
      } ++
      prevFiles.toSeq.sorted.filterNot(curFiles.contains).map { rel =>
        (new Path(qualifiedRoot, rel).toString,
          changeSpec("delete", v, snap.ts),
          prevDvs.get(rel).map(d => new Path(qualifiedRoot, d).toString),
          None)
      } ++
      snap.files.filter(rel => prevFiles.contains(rel) &&
          snap.dvs.get(rel) != prevDvs.get(rel)).map { rel =>
        (new Path(qualifiedRoot, rel).toString,
          changeSpec("delete", v, snap.ts),
          None,
          Some((prevDvs.get(rel).map(d =>
            new Path(qualifiedRoot, d).toString),
            new Path(qualifiedRoot, snap.dvs(rel)).toString)))
      }

    val tails = DwrfUtil.parMap(work) { case (file, spec, dv, deltaDv) =>
      val r = new DwrfFileReader(new Path(file), hadoopConf.value)
      try (file, r.footer.stripes, spec, dv, deltaDv)
      finally r.close()
    }
    tails.flatMap { case (file, stripes, spec, dv, deltaDv) =>
      val layout = PartitionLayout.specOf(qualifiedRoot, new Path(file))
      DwrfSplits.stripeGroups(stripes).map { case (off, len) =>
        deltaDv match {
          case Some((oldDv, newDv)) =>
            DwrfCdfDeltaPartition(file, off, len, layout ++ spec, oldDv, newDv)
          case None =>
            DwrfInputPartition(file, off, len, layout ++ spec, dv)
        }
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DwrfSourceOffset].index
    val to = end.asInstanceOf[DwrfSourceOffset].index
    (from until to).flatMap(deltaOf).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DwrfPartitionReaderFactory(readSchema.json, Array.empty, hadoopConf,
      fileMetaRequested =
        readSchema.fieldNames.contains(DwrfUtil.FileMetaColumn) &&
          !tableSchema.fieldNames.contains(DwrfUtil.FileMetaColumn))

  override def commit(end: Offset): Unit = () // retention = DwrfLog.vacuum
  override def stop(): Unit = ()

  override def toString: String = s"DwrfCdfMicroBatchStream[$path]"
}
