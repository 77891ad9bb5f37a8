package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** `DELETE FROM <dwrf table> WHERE ...` — stats-pruned copy-on-write.
  *
  * Three tiers per data file, decided from footer stats plus the
  * partition values its directory encodes (the same
  * min=max-pseudo-stats trick the scan pruner uses):
  *
  *  1. provably NO row matches ([[StatsFilter.mayMatch]] false) — the
  *     file is untouched; byte-identical, mtime-identical.
  *  2. provably EVERY row matches ([[StatsFilter.allMatch]]) — the file
  *     is deleted whole, no row decoded. This is the
  *     `DELETE WHERE dt = '2024-01-01'` partition-retention fast path a
  *     100 TB landing zone lives on.
  *  3. otherwise — the file is REWRITTEN without its matching rows, one
  *     Spark task per file (same distribution shape as [[DwrfCompact]]):
  *     survivors stream into `.delete-<id>.dwrf.inprogress` carrying a
  *     footer manifest naming the input, then input-delete + promote.
  *     A crash at any point converges on the next delete/compact
  *     ([[DwrfCompact.recover]] handles both protocols): torn temp →
  *     temp removed, input intact; complete temp → input removed, temp
  *     promoted. All-survive rewrites abort (input kept untouched);
  *     zero-survivor rewrites remove the input without promoting.
  *
  * Atomicity contract (same as compaction): each FILE converges
  * atomically; a crash mid-job leaves the delete applied to some files
  * and not others — re-running the same DELETE converges (matching
  * rows are gone from done files, still matched in the rest).
  *
  * Row-level evaluation is SQL three-valued: a predicate evaluating to
  * NULL keeps the row (DELETE removes only where the condition is
  * TRUE). A column the table gained after a file was written (schema
  * evolution) reads as all-NULL in that file: IS NULL matches, value
  * predicates don't — identical to what a scan of the evolved table
  * answers. [[ExactFilter.owned]] gates `canDeleteWhere`: anything the
  * evaluator cannot decide EXACTLY (unsupported node, non-atomic
  * column, inconvertible value) refuses up front and Spark reports the
  * delete unsupported instead of silently mis-applying it.
  */
object DwrfDelete {
  private[dwrf] val ManifestKey = "delete.inputs"

  final case class Result(filesKept: Int, filesDeleted: Int,
      filesRewritten: Int, rowsDeleted: Long)

  // ------------------------------------------------- row-level evaluation

  /** Per-file TRUE-matcher over the conjunction of `filters` — the
    * shared row evaluator behind both DELETE tiers (copy-on-write
    * rewrite here, merge-on-read position collection in [[DwrfDv]]),
    * over rows of the file's own schema. Returns true exactly when the
    * condition evaluates TRUE (NULL keeps the row, per DELETE
    * semantics). Partition columns are per-file constants from the
    * directory path; renamed columns resolve at the file's own name; a
    * column the file predates is all-NULL.
    */
  private[dwrf] def matcherFor(fileSchema: StructType, qualifiedRoot: Path,
      file: Path, tableSchema: StructType,
      filters: Array[Filter]): InternalRow => Boolean = {
    def declaredType(k: String): DataType =
      tableSchema.fields.find(_.name == k).map(_.dataType)
        .getOrElse(StringType)
    val partConst = PartitionLayout.specOf(qualifiedRoot, file).map {
      case (k, raw) => k -> PartitionLayout.catalystValue(raw, declaredType(k))
    }.toMap
    val fileFields = fileSchema.fields.zipWithIndex
      .map { case (f, i) => f.name -> ExactFilter.Slot(i, f.dataType) }.toMap
    val pred = ExactFilter.compile(filters.toSeq, declaredType, { a =>
      if (partConst.contains(a)) ExactFilter.Constant(partConst(a))
      else tableSchema.fields.find(_.name == a)
        .flatMap(ColumnAliases.resolve(_, fileFields))
        .getOrElse(ExactFilter.Constant(null))
    })
    if (pred == null) _ => true
    else row => pred.evalRow(row) == ExactFilter.T
  }

  // ------------------------------------------------------------ drive

  /** Stats classification shared by both DELETE tiers: 0 = provably no
    * row matches (untouched), 1 = provably every row matches (drop the
    * file whole, no decode), 2 = maybe (row-level work). Decided from
    * footer stats plus the partition pseudo-stats the scan pruner uses.
    * Returns (file, tier, physicalNumRows).
    */
  private[dwrf] def classifyFiles(files: Seq[Path],
      conf: org.apache.hadoop.conf.Configuration, tableSchema: StructType,
      qualifiedRoot: Path, filters: Array[Filter]): Seq[(Path, Int, Long)] =
    DwrfUtil.parMap(files) { file =>
      val r = new DwrfFileReader(file, conf)
      try {
        val statsByName = ColumnTree.pathIds(r.schema).flatMap {
          case (path, (id, _)) => r.footer.fileStats.get(id).map(path -> _)
        }
        val spec = PartitionLayout.specOf(qualifiedRoot, file)
        val partStats = spec.flatMap { case (k, raw) =>
          tableSchema.fields.find(_.name == k).flatMap(f =>
            PartitionLayout.asStats(raw, f.dataType, r.footer.numRows).map(k -> _))
        }
        val stats = statsByName ++ partStats
        val statsOf = (a: String) => stats.get(a)
        val tier =
          if (!StatsFilter.mayMatch(filters.toSeq, tableSchema, statsOf)) 0
          else if (StatsFilter.allMatch(filters.toSeq, tableSchema, statsOf)) 1
          else 2
        (file, tier, r.footer.numRows)
      } finally r.close()
    }

  /** Applies the delete under `root`. `tableSchema` is the full table
    * schema (partition columns included), `partTypes` their declared
    * types.
    */
  def deleteWhere(spark: SparkSession, root: String,
      tableSchema: StructType, filters: Array[Filter]): Result = {
    val conf = DwrfUtil.sessionHadoopConf()
    val rootPath = new Path(root)
    // same hazard as compaction: rewriting files under an active
    // streaming SOURCE landing dir re-ingests every rewritten file as a
    // new path through the durable source log (and in-flight batches
    // fail on vanished inputs) — refuse outright; stop the query and
    // discard its checkpoint first
    val markerFs = rootPath.getFileSystem(conf)
    val marker = new Path(rootPath, DwrfUtil.StreamMarkerName)
    if (markerFs.exists(marker)) throw new IllegalStateException(
      s"$root is (or was) a dwrf streaming source landing dir: DELETE " +
        "would re-ingest rewritten files as duplicates through the " +
        "source log. Stop the streaming query and remove the marker " +
        s"($marker) only if its checkpoint will be discarded.")
    DwrfCompact.recover(rootPath, conf)
    val qualifiedRoot = DwrfUtil.qualify(rootPath, conf)
    // snapshot tables: candidates are the LIVE manifest set; replaced
    // files stay on disk for time travel and leave through one atomic
    // commitReplace below, so concurrent readers never see a half-swap
    val snapshots = DwrfLog.isEnabled(rootPath, conf)
    // the snapshot's delete-vector bindings: rewrites must MASK already-
    // deleted positions (or they would resurrect merge-on-read deletes),
    // and the replace commit must prove the bindings didn't change
    val snapDvs: Map[String, String] =
      if (snapshots) DwrfLog.latest(rootPath, conf).map(_.dvs).getOrElse(Map.empty)
      else Map.empty
    val files = DwrfUtil.scanFiles(rootPath, conf, Map.empty)
    val fs = rootPath.getFileSystem(conf)

    val classified = classifyFiles(files, conf, tableSchema, qualifiedRoot,
      filters)

    val kept = classified.count(_._2 == 0)
    var rowsDeleted = 0L
    val removed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val added = scala.collection.mutable.ArrayBuffer.empty[Path]
    def dvRelOf(file: Path): Option[String] =
      snapDvs.get(DwrfLog.relativize(rootPath, conf, file))
    classified.filter(_._2 == 1).foreach { case (file, _, n) =>
      if (!snapshots) fs.delete(file, false)
      removed += file
      // rows already masked by the file's DV were deleted earlier, not now
      rowsDeleted += n - dvRelOf(file)
        .map(rel => DwrfDv.count(new Path(rootPath, rel), conf)).getOrElse(0L)
    }
    val deleted = classified.count(_._2 == 1)

    val rewrites = classified.filter(_._2 == 2).map(_._1.toString)
    var rewritten = 0
    val result = if (rewrites.nonEmpty) {
      val ser = new SerializableHadoopConf(conf)
      val schemaJson = tableSchema.json
      val rootStr = qualifiedRoot.toString
      val dvOf = rewrites.map(f =>
        f -> dvRelOf(new Path(f)).map(new Path(rootPath, _).toString)).toMap
      val results = spark.sparkContext
        .parallelize(rewrites, rewrites.length)
        .map { f =>
          rewriteFile(new Path(f), new Path(rootStr),
            DataType.fromJson(schemaJson).asInstanceOf[StructType],
            filters, ser.value, snapshots, dvOf(f))
        }
        .collect()
      rowsDeleted += results.map(_._1).sum
      rewritten = results.count(_._2)
      results.zip(rewrites).foreach { case (r, in) =>
        if (r._4) removed += new Path(in)
        r._3.foreach(n => added += new Path(n))
      }
      // a rewrite that found nothing kept its input; one that kept
      // nothing deleted it outright — neither is a promoted rewrite
      Result(
        kept + results.count(r => !r._2 && r._1 == 0),
        deleted + results.count(r => !r._2 && r._1 > 0),
        rewritten, rowsDeleted)
    } else Result(kept, deleted, rewritten, rowsDeleted)

    if (snapshots && (removed.nonEmpty || added.nonEmpty))
      DwrfLog.commitReplace(rootPath, conf, removed.toSeq, added.toSeq,
        "delete", observedDvs = snapDvs)
    result
  }

  /** One file's copy-on-write pass; returns (rowsDeleted, didRewrite,
    * promotedReplacement, inputLeavesLiveSet). In snapshot mode the
    * input is never physically deleted (it backs time travel) and the
    * temp carries NO delete-protocol footer manifest — a crash must
    * leave an inert orphan for [[DwrfCompact.recover]] to sweep, never
    * an authoritative instruction to delete a manifest-referenced input.
    */
  private def rewriteFile(file: Path, qualifiedRoot: Path,
      tableSchema: StructType, filters: Array[Filter],
      conf: org.apache.hadoop.conf.Configuration,
      snapshots: Boolean = false,
      dvPath: Option[String] = None): (Long, Boolean, Option[String], Boolean) = {
    val fs = file.getFileSystem(conf)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val temp = new Path(file.getParent, s".delete-$id.dwrf.inprogress")
    val r = new DwrfFileReader(file, conf)
    val (survivors, total) = try {
      val fileSchema = r.schema
      val matches = matcherFor(fileSchema, qualifiedRoot, file, tableSchema,
        filters)
      // rows the file's delete vector already masked: skipped entirely —
      // neither copied to the rewrite nor counted as deleted now
      val masked: Array[Long] = dvPath match {
        case Some(p) => DwrfDv.read(new Path(p), conf)._1
        case None => Array.emptyLongArray
      }
      val opts = DwrfWriteOptions(
        kind = r.postScript.compression,
        blockSize = r.postScript.blockSize,
        rowIndexStride = r.footer.rowIndexStride,
        useVInts = r.postScript.useVInts)
      val out = fs.create(temp, false)
      var keptRows = 0L
      var totalRows = 0L
      // declared outside the try so the error path can release its
      // governor registration (a leaked Reg permanently shrinks every
      // later writer's budget in this executor)
      var w: DwrfFileWriter = null
      try {
        w = new DwrfFileWriter(fileSchema, opts, out)
        var pos = 0L
        var dvIdx = 0
        r.rows(r.footer.stripes, fileSchema).foreach { row =>
          val dvDeleted = dvIdx < masked.length && masked(dvIdx) == pos
          if (dvDeleted) dvIdx += 1
          else {
            totalRows += 1
            // DELETE removes rows where the condition is TRUE; NULL keeps
            if (!matches(row)) {
              w.addRow(row)
              keptRows += 1
            }
          }
          pos += 1
        }
        // the manifest-carrying close happens ONLY on a fully-iterated
        // file: a temp with a readable manifest is authoritative to
        // recovery, so a partial one must never gain a footer (and a
        // snapshot-mode temp never carries one at all — scaladoc above)
        w.close(if (snapshots) Map.empty else Map(ManifestKey ->
          file.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        out.close()
      } catch {
        case t: Throwable =>
          if (w != null) w.release() // registration must not outlive the op
          try out.close() catch { case _: Throwable => () }
          try fs.delete(temp, false) catch { case _: Throwable => () }
          throw t
      }
      (keptRows, totalRows)
    } finally r.close()

    if (survivors == total) { // nothing matched: keep the input untouched
      fs.delete(temp, false)
      (0L, false, None, false)
    } else if (survivors == 0L) { // everything matched: no replacement file
      fs.delete(temp, false)
      if (!snapshots) fs.delete(file, false)
      (total, false, None, true)
    } else {
      // same converge-forward order as compaction: a complete temp's
      // manifest is authoritative, so recovery after any crash below
      // finishes exactly these two steps. Snapshot mode promotes only —
      // the input's removal is the driver's manifest commit.
      if (!snapshots) fs.delete(file, false)
      val visible = new Path(file.getParent,
        temp.getName.stripPrefix(".").stripSuffix(".inprogress"))
      if (!fs.rename(temp, visible)) throw new java.io.IOException(
        s"delete rewrite: could not promote $temp -> $visible")
      (total - survivors, true, Some(visible.toString), true)
    }
  }
}
