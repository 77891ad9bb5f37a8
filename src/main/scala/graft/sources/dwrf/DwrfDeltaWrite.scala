package graft.sources.dwrf

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.DeleteVector

/** Delta-based (merge-on-read) row-level operations: `UPDATE` / `MERGE
  * INTO` / non-translatable `DELETE` on tables that opt in via
  * `update.mode` / `merge.mode` / `delete.mode` = `merge-on-read`.
  *
  * Where the group-based tier ([[DwrfRowLevelOperation]]) rewrites every
  * file the condition might touch — the right trade when a statement
  * changes a large fraction of its files — this tier writes only the
  * DELTA, the Iceberg position-delta shape on Spark's `SupportsDelta`
  * contract:
  *
  *  1. Spark scans CANDIDATE rows only (filters prune rows, not just
  *     files — no copy-through of untouched rows) with the row identity
  *     metadata columns `_file`/`_pos` as the row id.
  *  2. Spark hands the writer per-row actions: `delete(id)` records the
  *     position, `update(id, row)` records the position AND writes the
  *     new row version, `insert(row)` writes a new row. The write
  *     requests clustering by `_file` and ordering by (`_file`,`_pos`),
  *     so each touched file's positions land in one task, sorted —
  *     the task unions them with the file's existing delete vector and
  *     writes the fresh sidecar executor-side (driver never
  *     materializes positions).
  *  3. Commit promotes the new data files and publishes ONE atomic
  *     manifest commit binding sidecars + added files + whole-file
  *     drops (a file whose every physical row is now masked leaves the
  *     live set), with the same first-writer-wins conflict rule as
  *     every copy-on-write commit: the statement proves at commit time
  *     that no concurrent writer removed or re-bound what it read.
  *
  * Cost model at 100 TB: bytes written ∝ rows CHANGED (new row versions
  * + delta-varint positions), not files touched — a 50-row GDPR update
  * across 10k files writes 10k tiny sidecars + one small data file
  * instead of rewriting 10 TB. The read-side debt (per-batch position
  * masking, no footer aggregates while DVs bound) is the standard merge-on-read
  * trade, repaid by `OPTIMIZE` which purges masks and folds in the
  * appended files. Snapshot-log tables only: the sidecar/file rebinding
  * must be one atomic publication.
  *
  * Reference analog: none — hive-dwrf has no DML (SURVEY §2.8); this is
  * lake-maintenance surface the Spark re-expression adds, mirroring the
  * reference's own stripe-level immutability (files never mutate in
  * place, OrcFileStripeMergeRecordReader's append-only story).
  */
final class DwrfDeltaOperationBuilder(info: RowLevelOperationInfo,
    tableSchema: StructType, path: String, writeOptions: Map[String, String],
    partCols: Seq[String]) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new DwrfDeltaOperation(info.command(), tableSchema, path, writeOptions,
      partCols)
}

final class DwrfDeltaOperation(cmd: RowLevelOperation.Command,
    tableSchema: StructType, path: String, writeOptions: Map[String, String],
    partCols: Seq[String]) extends RowLevelOperation with SupportsDelta {

  // the snapshot the statement reads; commit proves its bindings survive
  private val observed = new AtomicReference[DwrfLog.Snapshot](null)

  override def command(): RowLevelOperation.Command = cmd

  /** `(_file, _pos)` — stable physical row identity, the delete-vector
    * coordinate space. */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(DwrfUtil.FileMetaColumn),
    Expressions.column(DwrfUtil.PosMetaColumn))

  // the writer handles update(id, row) directly — one DV position + one
  // new row version, no operation-split plan
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val marker = new Path(root, DwrfUtil.StreamMarkerName)
    if (fs.exists(marker)) throw new IllegalStateException(
      s"$path is (or was) a dwrf streaming source landing dir: row-level " +
        "DML is owned by the source's log there. Stop the streaming query " +
        s"and remove the marker ($marker) only if its checkpoint will be " +
        "discarded.")
    if (!DwrfLog.isEnabled(root, conf)) throw new IllegalStateException(
      s"dwrf: merge-on-read ${cmd.toString.toLowerCase} needs the snapshot " +
        s"log (a manifest must bind file -> delete vector atomically). " +
        s"DwrfLog.enable($path) first, or set the operation's mode to " +
        s"${DwrfDv.ModeCopyOnWrite}.")
    DwrfCompact.recover(root, conf)
    val snap = DwrfLog.latest(root, conf).get
    observed.set(snap)
    // pin the scan to the observed version: candidates, conflict proof
    // and commit all speak about the same snapshot
    val opts = options.asCaseSensitiveMap().asScala.toMap +
      (DwrfLog.VersionAsOfKey -> snap.version.toString)
    new DwrfScanBuilder(tableSchema, path,
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(opts))
  }

  /** Same layout discovery as the copy-on-write tier: a catalog table
    * created over an already-partitioned LOCATION records no
    * partitioning, so read the layout keys off the directory itself.
    */
  private def layoutPartCols(): Seq[String] =
    if (partCols.nonEmpty) partCols
    else {
      val conf = DwrfUtil.sessionHadoopConf()
      val root = new Path(path)
      DwrfUtil.listDataFiles(root, conf).headOption
        .map(f => PartitionLayout.specOf(DwrfUtil.qualify(root, conf), f)
          .map(_._1)).getOrElse(Nil)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val snap = observed.get()
        require(snap != null, "dwrf: delta write built before its scan")
        new DwrfDeltaWrite(info, tableSchema, path, writeOptions,
          layoutPartCols(), snap, cmd.toString.toLowerCase + "-mor")
      }
    }

  override def description(): String = s"dwrf $cmd merge-on-read of $path"
}

/** Clustering by `_file` sends each touched file's delete positions to
  * one task (inserts — null `_file` — share one cluster; an insert-heavy
  * MERGE that needs fan-out belongs on the copy-on-write tier or a
  * follow-up OPTIMIZE); ordering by (`_file`, `_pos`) hands the task
  * sorted positions, so the sidecar encodes in one streaming pass.
  */
final class DwrfDeltaWrite(info: LogicalWriteInfo, tableSchema: StructType,
    path: String, options: Map[String, String], partCols: Seq[String],
    snapshot: DwrfLog.Snapshot, opName: String)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column(DwrfUtil.FileMetaColumn)))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(DwrfUtil.FileMetaColumn),
      SortDirection.ASCENDING),
    Expressions.sort(Expressions.column(DwrfUtil.PosMetaColumn),
      SortDirection.ASCENDING))

  override def toBatch: DeltaBatchWrite =
    new DwrfDeltaBatchWrite(info, tableSchema, path, options, partCols,
      snapshot, opName)

  override def description(): String = s"dwrf $opName of $path"
}

final class DwrfDeltaBatchWrite(info: LogicalWriteInfo,
    tableSchema: StructType, path: String, options: Map[String, String],
    partCols: Seq[String], snapshot: DwrfLog.Snapshot, opName: String)
    extends DeltaBatchWrite {

  require(!info.schema().fieldNames.contains(DwrfUtil.FileMetaColumn),
    s"delta write data schema must not contain ${DwrfUtil.FileMetaColumn}")

  override def createBatchWriterFactory(
      phys: PhysicalWriteInfo): DeltaWriterFactory = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    root.getFileSystem(conf).mkdirs(root)
    val qualified = DwrfUtil.qualify(root, conf)
    // absolute file -> absolute existing sidecar, resolved once on the
    // driver from the pinned snapshot (what the scan's masks applied)
    val oldDvs = snapshot.dvs.map { case (fileRel, dvRel) =>
      new Path(qualified, fileRel).toString ->
        new Path(qualified, dvRel).toString
    }
    new DwrfDeltaWriterFactory(info.schema().json,
      info.rowIdSchema().orElseThrow(() => new IllegalStateException(
        "dwrf: delta write without a rowId schema")).json,
      path, qualified.toString, options,
      new SerializableHadoopConf(conf), partCols, oldDvs)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    val qualified = DwrfUtil.qualify(root, conf)
    val msgs = messages.collect { case m: DwrfDeltaCommitMessage => m }

    val temps = msgs.flatMap(_.newFiles)
    val renames = temps.toSeq.map { t =>
      val p = new Path(t)
      t -> new Path(p.getParent,
        p.getName.stripPrefix(".").stripSuffix(".tmp") + ".dwrf").toString
    }

    // one task per file by required distribution; if the planner could
    // not honor it (strictness is advisory on some plans), merge the
    // per-task sidecars here — union is idempotent over the shared old
    // vector, so the merged sidecar is exact either way
    val byFile = msgs.flatMap(_.dvBinds).groupBy(_._1)
    var removed = msgs.flatMap(_.fullyDeleted).map(new Path(_)).toSeq
    val dvUpdates = mutable.Map.empty[String, String]
    val fs = root.getFileSystem(conf)
    byFile.foreach { case (file, binds) =>
      val fileRel = DwrfLog.relativize(root, conf, new Path(file))
      if (binds.length == 1)
        dvUpdates += fileRel ->
          DwrfLog.relativize(root, conf, new Path(binds.head._2))
      else {
        val parts = binds.map(b => DwrfDv.read(new Path(b._2), conf))
        val numRows = parts.head._2
        val unioned = parts.map(_._1).reduce(DeleteVector.union)
        binds.foreach(b =>
          try fs.delete(new Path(b._2), false)
          catch { case _: Throwable => () })
        if (unioned.length.toLong == numRows) removed :+= new Path(file)
        else dvUpdates += fileRel -> DwrfLog.relativize(root, conf,
          DwrfDv.write(qualified, conf, unioned, numRows))
      }
    }

    if (renames.nonEmpty) DwrfReplaceCommit.run(root, conf, renames, Nil)
    val added = renames.map { case (_, dst) => new Path(dst) }
    if (removed.nonEmpty || added.nonEmpty || dvUpdates.nonEmpty)
      DwrfLog.commitReplace(root, conf, removed, added, opName,
        observedDvs = snapshot.dvs, dvUpdates = dvUpdates.toMap)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    messages.foreach {
      case DwrfDeltaCommitMessage(newFiles, dvBinds, _, _) =>
        (newFiles ++ dvBinds.map(_._2)).foreach { f =>
          val p = new Path(f)
          try p.getFileSystem(conf).delete(p, false)
          catch { case _: Throwable => () }
        }
      case _ => ()
    }
  }
}

/** (new data temp files, (absolute data file -> absolute new sidecar),
  * files whose every physical row is now masked, rows deleted). */
final case class DwrfDeltaCommitMessage(newFiles: Seq[String],
    dvBinds: Seq[(String, String)], fullyDeleted: Seq[String],
    rowsDeleted: Long) extends WriterCommitMessage

final class DwrfDeltaWriterFactory(dataSchemaJson: String,
    rowIdSchemaJson: String, path: String, qualifiedRoot: String,
    options: Map[String, String], hadoopConf: SerializableHadoopConf,
    partCols: Seq[String], oldDvs: Map[String, String])
    extends DeltaWriterFactory {

  private val opId = java.util.UUID.randomUUID().toString.take(12)

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] = {
    val dataSchema = org.apache.spark.sql.types.DataType
      .fromJson(dataSchemaJson).asInstanceOf[StructType]
    val rowIdSchema = org.apache.spark.sql.types.DataType
      .fromJson(rowIdSchemaJson).asInstanceOf[StructType]
    new DwrfDeltaDataWriter(dataSchema, rowIdSchema, path, qualifiedRoot,
      options, hadoopConf.value, partCols, oldDvs, opId, partitionId, taskId)
  }
}

/** Per-task delta writer: positions accumulate per file (8 B per deleted
  * row — bounded by the task's own delta, not the table), inserts lazily
  * open ONE invisible-temp data writer (partition-routing included).
  * Task commit seals the data file and writes each touched file's fresh
  * sidecar: old vector ∪ new positions, or a whole-file drop when the
  * union masks every physical row (footer row count, one tail read).
  */
final class DwrfDeltaDataWriter(dataSchema: StructType,
    rowIdSchema: StructType, path: String, qualifiedRoot: String,
    options: Map[String, String], conf: Configuration, partCols: Seq[String],
    oldDvs: Map[String, String], opId: String, partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val fileIdx = rowIdSchema.fieldIndex(DwrfUtil.FileMetaColumn)
  private val posIdx = rowIdSchema.fieldIndex(DwrfUtil.PosMetaColumn)

  // insertion-ordered so sidecar writes replay in arrival (file) order
  private val deletes = mutable.LinkedHashMap.empty[String, graft.format.LongBuffer]
  private var inner: DataWriter[InternalRow] = null
  private var rowsDeleted = 0L

  private def recordDelete(id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    val pos = id.getLong(posIdx)
    deletes.getOrElseUpdate(file, new graft.format.LongBuffer()).add(pos)
    rowsDeleted += 1
  }

  private def innerWriter(): DataWriter[InternalRow] = {
    if (inner == null) {
      val tempName = f".rlo-$opId-p$partitionId%05d-t$taskId.tmp"
      inner =
        if (partCols.isEmpty)
          new DwrfFlatDataWriter(dataSchema, new Path(path, tempName),
            options, Map.empty, conf)
        else
          new DwrfPartitionedDataWriter(dataSchema, new Path(path), partCols,
            options, Map.empty, conf, partitionId, taskId,
            fileName = Some(tempName))
    }
    inner
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    recordDelete(id)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    recordDelete(id)
    innerWriter().write(row)
  }

  override def insert(row: InternalRow): Unit = innerWriter().write(row)

  override def commit(): WriterCommitMessage = {
    val newFiles: Seq[String] = if (inner == null) Nil else {
      inner.commit() match {
        case DwrfCommitMessage(_, _, files) => files
        case _ => Nil
      }
    }
    val binds = mutable.ArrayBuffer.empty[(String, String)]
    val fullyDeleted = mutable.ArrayBuffer.empty[String]
    deletes.foreach { case (fileStr, buf) =>
      val fresh = buf.toSortedDistinct
      val old: Array[Long] = oldDvs.get(fileStr) match {
        case Some(p) => DwrfDv.read(new Path(p), conf)._1
        case None => Array.emptyLongArray
      }
      val unioned = DeleteVector.union(old, fresh)
      val numRows = {
        val r = new DwrfFileReader(new Path(fileStr), conf)
        try r.footer.numRows finally r.close()
      }
      if (unioned.length.toLong == numRows) fullyDeleted += fileStr
      else binds += fileStr -> DwrfDv.write(new Path(qualifiedRoot), conf,
        unioned, numRows).toString
    }
    DwrfDeltaCommitMessage(newFiles, binds.toSeq, fullyDeleted.toSeq,
      rowsDeleted)
  }

  override def abort(): Unit = if (inner != null) inner.abort()
  override def close(): Unit = if (inner != null) inner.close()
}
