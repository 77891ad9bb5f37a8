package graft.sources.dwrf

import java.util.{Map => JMap, OptionalLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 binding: `spark.read.format("dwrf")` /
  * `df.write.format("dwrf")` (replaces the reference's Hive
  * InputFormat/OutputFormat/SerDe surface S7-S9, SURVEY §2.1).
  *
  * Scale design: one InputPartition per stripe group (split semantics =
  * stripe-start containment, like the reference's MapReduce splits), so a
  * 1000-executor cluster reads a 100 TB dataset with stripe-granular
  * parallelism and no driver bottleneck beyond footer reads.
  */
final class DwrfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dwrf"

  override def supportsExternalMetadata(): Boolean = true

  // catalog tables (CREATE TABLE … USING dwrf LOCATION …) surface the
  // directory as 'location'; path-based reads as 'path' — accept both
  private def pathOf(options: CaseInsensitiveStringMap): Path =
    new Path(DwrfUtil.pathOption(options.asCaseSensitiveMap().asScala.toMap)
      .getOrElse(throw new IllegalArgumentException(
        "dwrf: 'path' (or table LOCATION) required")))

  /** Union of all files' top-level fields, in first-appearance order
    * (schema evolution: files written before a column was added simply
    * read it as null). Footers are read on a bounded pool.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    val conf = DwrfUtil.sessionHadoopConf()
    // snapshot tables infer from the manifest's files (a versionAsOf read
    // gets that version's schema, pre-evolution)
    val files = DwrfUtil.scanFiles(path, conf,
      options.asCaseSensitiveMap().asScala.toMap)
    require(files.nonEmpty, s"dwrf: no .dwrf files under $path")
    val schemas = DwrfUtil.parMap(files) { f =>
      val r = new DwrfFileReader(f, conf)
      try r.schema finally r.close()
    }
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.types.StructField]
    val seenIn = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    schemas.foreach(_.fields.foreach { f =>
      seenIn(f.name) += 1
      merged.get(f.name) match {
        case None => merged(f.name) = f
        case Some(prev) =>
          // type widening across file generations: int→long, float→double
          // (recursively through structs/arrays/maps) merges to the widest
          // type; files with the narrower one upcast on read
          val widened = TypeWidening.widen(prev.dataType, f.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"dwrf: column '${f.name}' has conflicting types " +
                s"${prev.dataType.simpleString} vs ${f.dataType.simpleString} " +
                "(only widening drift — int→long, float→double — is readable)"))
          merged(f.name) = prev.copy(dataType = widened,
            nullable = prev.nullable || f.nullable)
      }
    })
    // a column absent from any file reads as null there => force nullable
    val dataFields = merged.values.map { f =>
      if (seenIn(f.name) < schemas.size) f.copy(nullable = true) else f
    }.toArray
    // partition discovery: col=value/ directory segments become columns
    // (appended after the data columns, Hive-style), typed by the
    // narrowest parse all values share
    val qualifiedRoot = DwrfUtil.qualify(path, conf)
    val specs = files.map(f => PartitionLayout.specOf(qualifiedRoot, f))
    val keys = specs.head.map(_._1)
    require(specs.forall(_.map(_._1) == keys),
      s"dwrf: inconsistent partition directory layout under $path")
    // date inference is opt-out (option mirrors Spark's
    // partitionColumnTypeInference switch): a pre-existing layout whose
    // STRING values happen to spell yyyy-MM-dd can pin strings
    val inferDate = Option(options.get("partition.typeInference.date"))
      .forall(_.toBoolean)
    val partFields = keys.zipWithIndex.map { case (k, i) =>
      require(!merged.contains(k),
        s"dwrf: partition column '$k' collides with a data column")
      val values = specs.map(_(i)._2)
      org.apache.spark.sql.types.StructField(
        k, PartitionLayout.inferType(values, inferDate),
        nullable = values.contains(PartitionLayout.NullSentinel))
    }
    // change-feed reads append the three change columns; actual rows
    // only flow through the streaming CDF path (toBatch refuses)
    val changeFields =
      if (!DwrfChanges.requested(options.asCaseSensitiveMap().asScala.toMap)) Nil
      else {
        require(DwrfLog.isEnabled(path, conf),
          s"dwrf: $path: ${DwrfChanges.ReadChangeFeedKey} needs the " +
            "snapshot log (DwrfLog.enable) — the feed is computed from " +
            "its version manifests")
        DwrfChanges.changeFields.map { f =>
          require(!merged.contains(f.name) && !keys.contains(f.name),
            s"dwrf: change column '${f.name}' collides with a table column")
          f
        }
      }
    StructType(dataFields ++ partFields ++ changeFields)
  }

  /** Discovered Hive layout as identity transforms, so `CREATE TABLE …
    * USING dwrf LOCATION` over an existing partitioned directory adopts
    * the partitioning into the catalog — without it, the analyzer
    * refuses `INSERT OVERWRITE … PARTITION (p=v)` on the adopted table
    * (NON_PARTITION_COLUMN) even though the scan reads the layout fine.
    */
  override def inferPartitioning(
      options: CaseInsensitiveStringMap): Array[Transform] = {
    val path = pathOf(options)
    val conf = DwrfUtil.sessionHadoopConf()
    val files = DwrfUtil.scanFiles(path, conf,
      options.asCaseSensitiveMap().asScala.toMap)
    if (files.isEmpty) return Array.empty
    val qualifiedRoot = DwrfUtil.qualify(path, conf)
    val keys = PartitionLayout.specOf(qualifiedRoot, files.head).map(_._1)
    // a heterogeneous directory (files under different layouts) must
    // fail loud at adoption, not mis-infer from whichever file listed
    // first — every file's key sequence has to agree
    files.foreach { f =>
      val ks = PartitionLayout.specOf(qualifiedRoot, f).map(_._1)
      require(ks == keys,
        s"dwrf: inconsistent partition layouts under $path: " +
          s"${files.head} has [${keys.mkString(",")}] but $f has " +
          s"[${ks.mkString(",")}]")
    }
    keys.map(k => org.apache.spark.sql.connector.expressions.Expressions
      .identity(k): Transform).toArray
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // Hive-style directory partitioning: identity transforms only (the
    // reference's OrcOutputFormat files lived under Hive partition dirs)
    val fromTransforms = partitioning.map { t =>
      require(t.name == "identity",
        s"dwrf: only identity partition transforms are supported, got $t")
      val ref = t.references.head.fieldNames
      require(ref.length == 1,
        s"dwrf: partition columns must be top-level, got ${ref.mkString(".")}")
      ref.head
    }.toSeq
    // Streaming writes can't express partitioning as transforms:
    // DataStreamWriter.start(path) silently DROPS .partitionBy for V2
    // path-based sinks (measured — only checkpointLocation/path survive
    // into the table properties), and the toTable route encodes it as the
    // __partition_columns JSON option instead. Accept both that key and
    // an explicit comma-separated `partition.columns` option, so
    // partitioned streaming ingestion is spellable:
    //   .writeStream.format("dwrf").option("partition.columns", "ds")
    // lookups below are case-insensitive: getTable's properties are
    // wrapped in CaseInsensitiveMap at the boundary (Spark's option
    // contract), so a plain .get honors any spelling
    val props = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
      properties.asScala.toMap)
    val fromOptions =
      props.get(org.apache.spark.sql.execution.datasources.DataSourceUtils.PARTITIONING_COLUMNS_KEY)
        .map(org.apache.spark.sql.execution.datasources.DataSourceUtils.decodePartitioningColumns)
        .orElse(props.get("partition.columns")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
        .getOrElse(Nil)
    // order-insensitive agreement: the transforms may come from directory
    // INFERENCE (nesting order) while the option spells the user's order —
    // a multi-level LOCATION adoption with columns listed differently must
    // not be rejected. When both are present the TRANSFORM order wins:
    // transforms are the layout truth (directory nesting on adoption, the
    // catalog's stored spec otherwise), and an append that followed the
    // option's order instead would write a reversed k2=/k1= nesting
    // beside the existing k1=/k2= dirs — physical fragmentation the
    // heterogeneity check above would then reject at the next adoption.
    // The option stays a set-level sanity check; its order only matters
    // when there is no layout to adopt (empty dir, fresh stream sink).
    require(fromTransforms.isEmpty || fromOptions.isEmpty ||
        fromTransforms.toSet == fromOptions.toSet,
      s"dwrf: conflicting partition specs: $fromTransforms vs $fromOptions")
    val partCols = {
      val base = if (fromTransforms.nonEmpty) fromTransforms else fromOptions
      if (fromTransforms.nonEmpty || fromOptions.isEmpty) base
      else {
        // path-based append: Spark passes NO transforms when the user
        // skipped partitionBy, so the option is all we get — but the
        // option\'s ORDER must not beat an existing directory\'s nesting
        // (a reversed append writes k2=/k1= beside k1=/k2=, fragmenting
        // the layout until the heterogeneity check rejects the whole
        // dir). Probe the disk: adopt its order when the key SET
        // agrees, fail loud when it conflicts, and only let the option
        // order stand for a genuinely fresh/unpartitioned location.
        val onDisk = inferPartitioning(
          new CaseInsensitiveStringMap(properties)).toSeq
          .map(_.references.head.fieldNames.head)
        require(onDisk.isEmpty || onDisk.toSet == base.toSet,
          s"dwrf: partition.columns $base conflicts with the existing " +
            s"layout [${onDisk.mkString(",")}] on disk")
        if (onDisk.nonEmpty) onDisk else base
      }
    }
    partCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"dwrf: partition column '$c' not in schema"))
      require(PartitionLayout.supportedType(f.dataType),
        s"dwrf: partition column '$c' has unsupported type " +
          s"${f.dataType.simpleString} (integral, float, string, boolean, date only)")
    }
    new DwrfTable(schema, properties.asScala.toMap, partCols)
  }
}

/** Process-wide planning telemetry: how many footers scan planning
  * opened (split into reuses of a cached parse and fresh parses — every
  * open still reads the tail, see [[DwrfFileReader.FooterCache]]) and how
  * many files manifest-carried stats pruned before any footer I/O. The
  * numbers accumulate across queries (single-JVM test reality); gates
  * read a delta around one query. Correctness never depends on them.
  */
object DwrfPlanningProbe {
  val footerReads = new java.util.concurrent.atomic.AtomicLong
  val footerCacheHits = new java.util.concurrent.atomic.AtomicLong
  val footerCacheMisses = new java.util.concurrent.atomic.AtomicLong
  val manifestPruned = new java.util.concurrent.atomic.AtomicLong
}

object DwrfUtil {
  /** Name of the row-provenance metadata column (Spark's file-source
    * spelling is the nested `_metadata`; a flat `_file` keeps the
    * constant-splice path trivial and reads naturally in SQL).
    */
  val FileMetaColumn = "_file"

  /** Bucketed-write option/table property: roll a bucket's open file to
    * a fresh `-rN` sibling once it projects past this many bytes
    * (flushed + buffered-stripe estimate). Bounds every read split by
    * DATA VOLUME instead of key population — the Iceberg/Delta
    * `write.target-file-size-bytes` knob, here the straggler cap for
    * skewed storage-partitioned joins (see DwrfBucket salt docs). */
  val TargetFileBytesKey = "dwrf.target.file.bytes"

  /** Physical row position within the data file (0-based, pre-mask file
    * order). With [[FileMetaColumn]] it is a STABLE row identity —
    * deterministic across reads, immune to task ordering — which is what
    * the change feed keys row-level deletes on. The reader numbers each
    * batch from its stride's first row, so stride skipping stays on.
    */
  val PosMetaColumn = "_pos"

  /** Scan option restricting the planned file set to the named
    * RELATIVE paths (comma-separated; resolved against the table root
    * after the manifest/listing resolves). Unknown names fail loud —
    * a change-feed read planning a vanished file must not silently
    * shrink. Comma-in-filename is unsupported (writer names never
    * contain one).
    */
  val ScanFilesKey = "scan.files"

  def scanFilesOption(m: Map[String, String]): Option[Set[String]] = {
    val ci = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(m)
    ci.get(ScanFilesKey).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** The table directory from options/properties: 'path' (path-based
    * reads) or 'location' (catalog DDL), case-insensitively.
    */
  def pathOption(m: Map[String, String]): Option[String] = {
    val ci = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(m)
    ci.get("path").orElse(ci.get("location")).filter(_.nonEmpty)
  }

  /** Hidden marker a [[DwrfMicroBatchStream]] drops in its landing dir
    * (content: the checkpoint location) so maintenance tooling can
    * detect an active streaming source; never matched by data listing.
    */
  val StreamMarkerName = ".dwrf-stream-active"

  def listDataFiles(path: Path, conf: Configuration): Seq[Path] =
    listDataFileStatuses(path, conf).map(_.getPath)

  /** `versionAsOf` from scan options (any case — option maps at this
    * boundary are case-insensitive).
    */
  def versionOption(m: Map[String, String]): Option[Long] = {
    val ci = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(m)
    ci.get(DwrfLog.VersionAsOfKey).map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"dwrf: ${DwrfLog.VersionAsOfKey} must be a version number, got '$v'")))
  }

  /** Path-based time travel by instant:
    * `.option("timestampAsOf", <epoch millis | ISO-8601 instant |
    * "yyyy-MM-dd[ HH:mm:ss]" UTC>)` — the read pins the newest retained
    * commit at or before it, the option-route twin of SQL
    * `TIMESTAMP AS OF` (which rides the catalog's loadTable).
    */
  val TimestampAsOfKey = "timestampAsOf"

  private[dwrf] def parseTsMillis(raw: String): Long =
    raw.toLongOption.getOrElse {
      try java.time.Instant.parse(raw).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        try {
          val t = if (raw.contains(' ') || raw.contains('T'))
            java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
          else java.time.LocalDate.parse(raw).atStartOfDay()
          t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        } catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"dwrf: $TimestampAsOfKey must be epoch millis, an ISO-8601 " +
              s"instant, or 'yyyy-MM-dd[ HH:mm:ss]' (UTC), got '$raw'")
        }
      }
    }

  /** The version a scan's options pin — explicitly (`versionAsOf`) or
    * by instant (`timestampAsOf`, resolved against the table's log).
    * Both at once is a contradiction and fails loud.
    */
  def pinnedVersion(root: Path, conf: Configuration,
      m: Map[String, String]): Option[Long] = {
    val ci = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(m)
    val ts = ci.get(TimestampAsOfKey)
    val v = versionOption(m)
    require(v.isEmpty || ts.isEmpty,
      s"dwrf: set either ${DwrfLog.VersionAsOfKey} or $TimestampAsOfKey, not both")
    v.orElse(ts.map(raw => DwrfLog.versionAt(root, conf, parseTsMillis(raw))))
  }

  /** The file set a batch scan plans from: the snapshot-log manifest
    * when the table has one (latest, or the `versionAsOf` the options
    * pin), the recursive directory listing otherwise. Snapshot tables
    * get repeatable reads for free — the manifest resolves once per
    * scan and concurrent DML never mutates referenced files.
    */
  def scanFiles(root: Path, conf: Configuration,
      options: Map[String, String]): Seq[Path] =
    DwrfLog.resolve(root, conf, pinnedVersion(root, conf, options)) match {
      case Some(snap) => snap.resolved(DwrfUtil.qualify(root, conf))
      case None => listDataFiles(root, conf)
    }

  /** Like [[listDataFiles]] but keeps the FileStatus the directory walk
    * already holds — callers needing mtimes (the streaming source's
    * per-trigger listing) must not pay a second status RPC per file.
    */
  def listDataFileStatuses(path: Path, conf: Configuration): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return Nil
    val st = fs.getFileStatus(path)
    if (st.isFile) return Seq(st)
    // recurse ONLY into col=value partition dirs: a stray non-partition
    // subdirectory (backups, scratch) must not silently merge into the
    // table, matching the pre-partitioning single-level behavior.
    // First-level partition dirs list on the bounded pool — at 100 TB a
    // table has thousands of them and one listStatus RPC each, so a
    // sequential walk makes LISTING the planning bottleneck; deeper
    // levels stay sequential per branch (fan-out already achieved).
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isFile && n.endsWith(".dwrf")) Seq(s)
        else if (s.isDirectory && n.indexOf('=') > 0 &&
          !n.startsWith("_") && !n.startsWith(".")) walk(s.getPath)
        else Nil
      }
    val top = fs.listStatus(path).toSeq
    val (dirs, files) = top.partition(s => s.isDirectory &&
      s.getPath.getName.indexOf('=') > 0 &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val out = files.filter(s => s.isFile && s.getPath.getName.endsWith(".dwrf")) ++
      parMap(dirs)(d => walk(d.getPath)).flatten
    out.sortBy(_.getPath.toString)
  }

  /** Filesystem-qualified form of `p` — required before comparing against
    * listed file paths (which are always qualified): a relative or
    * scheme-less root would never prefix-match them.
    */
  def qualify(p: Path, conf: Configuration): Path =
    p.getFileSystem(conf).makeQualified(p)

  /** Rows the stride/stripe indexes surface for `filters` over every file
    * under `dir`, reading only `column`, plus the skip counters summed
    * across files: (rowsSurfaced, stridesSkipped, stripesSkipped). The
    * deterministic I/O instrument used by BenchFormats and the layout
    * specs — a stripe pruned whole never reaches the stride counter, so
    * honest reporting needs BOTH counters. The column resolves
    * case-insensitively and a miss fails loud: an empty read schema
    * would silently disable skipping and inflate the row count into a
    * plausible-looking lie.
    */
  def surfacedRows(dir: String, column: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      conf: Configuration = sessionHadoopConf()): (Long, Long, Long) = {
    var rows = 0L; var strides = 0L; var stripes = 0L
    listDataFiles(new Path(dir), conf).foreach { f =>
      val r = new DwrfFileReader(f, conf)
      try {
        val field = r.schema.fields.find(_.name.equalsIgnoreCase(column))
          .getOrElse(throw new IllegalArgumentException(
            s"surfacedRows: no column '$column' in $f " +
              s"(schema: ${r.schema.fieldNames.mkString(", ")})"))
        val it = r.rows(r.footer.stripes, StructType(Seq(field)), filters)
        while (it.hasNext) { it.next(); rows += 1 }
        strides += r.counters.stridesSkipped
        stripes += r.counters.stripesSkipped
      } finally r.close()
    }
    (rows, strides, stripes)
  }

  /** Publish a committed temp file at its final name WITHOUT ever making
    * a previously visible file disappear. If `dst` already exists, a
    * prior attempt's commit completed — epochs are deterministic, so the
    * existing bytes are the same answer; keep them and discard the temp
    * (the same skip-if-committed semantics Spark's file sink gets from
    * its manifest log). Otherwise one plain rename publishes the file.
    * No rename-over-existing and no delete-then-rename pair anywhere, so
    * a tailing reader can never observe a visibility gap — on ANY store
    * (rename-with-overwrite is not atomic on local FS and object stores
    * anyway; this sidesteps the question entirely).
    */
  def publishCommitted(src: Path, dst: Path, conf: Configuration): Unit = {
    val fs = dst.getFileSystem(conf)
    if (fs.exists(dst)) fs.delete(src, false)
    else require(fs.rename(src, dst), s"dwrf: rename $src -> $dst failed")
  }

  /** The session's Hadoop configuration (spark.hadoop.* — filesystem
    * credentials etc.), falling back to a bare one off-session. A bare
    * `new Configuration()` only works on the local FS.
    */
  def sessionHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Run `f` over `items` on a bounded pool — driver-side metadata reads
    * (footers) for many files should not be a serial loop.
    */
  def parMap[A, B](items: Seq[A], parallelism: Int = 16)(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, items.length))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[B]] =
        items.map(a => (() => f(a)): java.util.concurrent.Callable[B])
      pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }
}

/** Hadoop Configuration is not Serializable; wrap it for shipping to
  * executor-side reader/writer factories (same role as Spark's internal
  * SerializableConfiguration).
  *
  * Encoding: a vint entry count, then each raw key and value of
  * `Configuration.iterator()` as `Text.writeString` (vint length + UTF-8,
  * so values over 64 KB and non-ASCII text survive), read back with `set`
  * into a defaults-free Configuration. Unlike `Configuration.write` it
  * drops each entry's source provenance — a gzipped string array per
  * entry that nothing in graft reads, and that made a ~1,100-entry
  * session conf ~110 KB and ~8 ms to decode in every task.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val entries = value.iterator().asScala.toSeq
    WritableUtils.writeVInt(out, entries.size)
    entries.foreach { e =>
      Text.writeString(out, e.getKey)
      Text.writeString(out, e.getValue)
    }
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    val n = WritableUtils.readVInt(in)
    var i = 0
    while (i < n) {
      value.set(Text.readString(in), Text.readString(in))
      i += 1
    }
  }
}

final class DwrfTable(tableSchema: StructType, properties: Map[String, String],
    partCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** UPDATE / MERGE INTO / non-translatable DELETE. Each statement kind
    * picks its tier from the table properties (`update.mode` /
    * `merge.mode` / `delete.mode`): group-based copy-on-write (default;
    * [[DwrfRowLevelOperationBuilder]]) or position-delta merge-on-read
    * ([[DwrfDeltaOperationBuilder]], snapshot-log tables only). Simple
    * DELETEs keep the cheaper SupportsDelete tiers above.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeKey = info.command() match {
      case Command.UPDATE => DwrfDv.UpdateModeKey
      case Command.MERGE => DwrfDv.MergeModeKey
      case _ => DwrfDv.DeleteModeKey
    }
    val mode = org.apache.spark.sql.catalyst.util
      .CaseInsensitiveMap(properties)
      .getOrElse(modeKey, DwrfDv.ModeCopyOnWrite)
    mode.toLowerCase match {
      case DwrfDv.ModeCopyOnWrite =>
        new DwrfRowLevelOperationBuilder(info, tableSchema,
          resolvedPath(Map.empty), properties, partCols)
      case DwrfDv.ModeMergeOnRead =>
        new DwrfDeltaOperationBuilder(info, tableSchema,
          resolvedPath(Map.empty), properties, partCols)
      case other => throw new IllegalArgumentException(
        s"dwrf: unknown $modeKey '$other' " +
          s"(${DwrfDv.ModeCopyOnWrite} | ${DwrfDv.ModeMergeOnRead})")
    }
  }

  /** Row provenance: `SELECT _file FROM t` names the data file each row
    * came from — a per-partition constant riding the same splice path as
    * partition columns (zero decode cost). Omitted if a data column
    * shadows the name.
    */
  override def metadataColumns(): Array[
      org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val file =
      if (tableSchema.fieldNames.contains(DwrfUtil.FileMetaColumn)) None
      else Some(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = DwrfUtil.FileMetaColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "path of the dwrf data file this row was read from"
      })
    val pos =
      if (tableSchema.fieldNames.contains(DwrfUtil.PosMetaColumn)) None
      else Some(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = DwrfUtil.PosMetaColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical row position within the data file (0-based)"
      })
    (file.toSeq ++ pos.toSeq).toArray
  }

  override def name(): String =
    s"dwrf:${DwrfUtil.pathOption(properties).getOrElse("?")}"
  override def schema(): StructType = tableSchema

  override def partitioning(): Array[Transform] = {
    val idents = partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        : Transform)
    val bucket = DwrfBucket.resolvableSpecOf(properties).map { case (col, n) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)
        : Transform
    }
    (idents ++ bucket).toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  // scan options are point-lookup only, so re-wrap in CaseInsensitiveMap
  // at the boundary (Spark's option contract) — plain .get downstream
  // honors any spelling. Write options are NOT wrapped: they are iterated
  // key-preserving (`metadata.MyKey` must keep its case in the footer).
  // scans/writes from a catalog table get no 'path' option — fall back
  // to the table properties' location captured at getTable time
  private def resolvedPath(opts: Map[String, String]): String =
    DwrfUtil.pathOption(opts).orElse(DwrfUtil.pathOption(properties))
      .getOrElse(throw new IllegalArgumentException(
        "dwrf: 'path' (or table LOCATION) required"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asCaseSensitiveMap().asScala.toMap
    // a time-travel catalog load (SELECT ... VERSION AS OF n) pins the
    // version in the TABLE properties; surface it to the scan unless the
    // read options already carry one
    val optPinned = DwrfUtil.versionOption(opts).isDefined ||
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(opts)
        .contains(DwrfUtil.TimestampAsOfKey)
    val pinned = if (optPinned) opts else {
      DwrfUtil.versionOption(properties) match {
        case Some(v) => opts + (DwrfLog.VersionAsOfKey -> v.toString)
        case None => opts
      }
    }
    // bucketed tables: surface the bucket spec to the scan so it can
    // key partitions by bucket id (storage-partitioned joins)
    val withBucket = DwrfBucket.resolvableSpecOf(properties) match {
      case Some((col, n)) if DwrfBucket.specOf(pinned).isEmpty =>
        pinned + (DwrfBucket.ColumnKey -> col) +
          (DwrfBucket.CountKey -> n.toString) +
          (DwrfBucket.ResolvableKey -> "true")
      case _ => pinned
    }
    new DwrfScanBuilder(tableSchema, resolvedPath(opts),
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(withBucket))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options().asCaseSensitiveMap().asScala.toMap
    // `dwrf.*` table properties act as write-option DEFAULTS (per-write
    // options win): compression, encoding interval, target file bytes —
    // the knobs a table declares once instead of every writer repeating.
    // Forward each key BOTH prefixed and with the `dwrf.` prefix
    // stripped: the writer reads most knobs unprefixed ("compress",
    // "encoding.interval") but a few fully prefixed
    // (DwrfUtil.TargetFileBytesKey, the bucket/salt keys).
    val prefixed = properties.filter {
      case (k, _) => k.toLowerCase.startsWith("dwrf.")
    }
    val tblDefaults = prefixed ++ prefixed.map {
      case (k, v) => k.substring("dwrf.".length) -> v
    }
    new DwrfWriteBuilder(info.schema(), resolvedPath(opts),
      tblDefaults ++ opts, partCols,
      DwrfBucket.resolvableSpecOf(properties),
      DwrfBucket.saltSpecOf(properties))
  }

  // `DELETE FROM <table> WHERE ...` — refuse anything the exact row
  // evaluator can't decide, then apply via the tier the table selects:
  // copy-on-write (default; [[DwrfDelete]] — untouched / whole-file
  // drop / per-file rewrite) or merge-on-read ([[DwrfDv]] — positional
  // delete-vector sidecars, `delete.mode=merge-on-read` in the table
  // properties, snapshot-log tables only)
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => ExactFilter.owned(f, tableSchema))

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val mode = org.apache.spark.sql.catalyst.util
      .CaseInsensitiveMap(properties).getOrElse(DwrfDv.DeleteModeKey,
        DwrfDv.ModeCopyOnWrite)
    mode.toLowerCase match {
      case DwrfDv.ModeCopyOnWrite =>
        DwrfDelete.deleteWhere(org.apache.spark.sql.SparkSession.active,
          resolvedPath(Map.empty), tableSchema, filters)
      case DwrfDv.ModeMergeOnRead =>
        DwrfDv.deleteWhere(org.apache.spark.sql.SparkSession.active,
          resolvedPath(Map.empty), tableSchema, filters)
      case other => throw new IllegalArgumentException(
        s"dwrf: unknown ${DwrfDv.DeleteModeKey} '$other' " +
          s"(${DwrfDv.ModeCopyOnWrite} | ${DwrfDv.ModeMergeOnRead})")
    }
  }
}

// --------------------------------------------------------------- read

final class DwrfScanBuilder(tableSchema: StructType, path: String,
    options: Map[String, String] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var readSchema: StructType = tableSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  /** The pushed filters the reader evaluates exactly ([[ExactFilter]]);
    * Spark plans no `Filter` for them. */
  private var owned: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pushedAgg: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

  // ------------------------------------------- aggregate pushdown (P6)
  // COUNT(*) / COUNT(col) / MIN / MAX answered entirely from file
  // footers — the scan collapses to a driver-side LocalScan and no data
  // page is ever read. At 100 TB this turns "how many rows / what's the
  // key range" from a cluster job into a metadata listing. Spark only
  // attempts the pushdown when no Filter sits between the Aggregate and
  // the relation, which is also the case when the reader owns every
  // filter — so filtered aggregates are refused here and keep the
  // normal path — and we accept only ungrouped
  // queries whose every column is stats-covered in EVERY file —
  // schema-evolved or partition-column references fall back to the
  // normal distributed plan.

  /** Per-file footer summary for the aggregate pushdown. `dvMasked` is
    * the file's delete-vector cardinality (0 without one): footer stats
    * still describe masked rows, so a positive count poisons every
    * aggregate EXCEPT COUNT(*), which stays exact as rows − masked.
    */
  private final case class Tail(cols: Set[String], rows: Long,
      stats: Map[String, graft.format.ColumnStats],
      spec: Seq[(String, String)], dvMasked: Long)

  /** Per-file tails, read once on a bounded pool and only if an
    * aggregate actually reaches us. Snapshot tables resolve their
    * pinned manifest for the file set and DV bindings — same contract
    * as the data scan, still zero data-page I/O (footers + DV sidecars
    * are metadata).
    */
  private lazy val aggTails: Seq[Tail] = {
    val conf = DwrfUtil.sessionHadoopConf()
    val qualifiedRoot = DwrfUtil.qualify(new Path(path), conf)
    val snap = DwrfLog.resolve(new Path(path), conf,
      DwrfUtil.pinnedVersion(new Path(path), conf, options))
    val (files, dvOf) = snap match {
      case Some(s) =>
        val abs = s.files.map(rel => new Path(qualifiedRoot, rel))
        val dv = s.files.zip(abs).collect {
          case (rel, a) if s.dvs.contains(rel) =>
            a.toString -> new Path(qualifiedRoot, s.dvs(rel))
        }.toMap
        (abs, dv)
      case None =>
        (DwrfUtil.listDataFiles(new Path(path), conf),
          Map.empty[String, Path])
    }
    DwrfUtil.parMap(files) { file =>
      val r = new DwrfFileReader(file, conf)
      try {
        val statsByName = ColumnTree.pathIds(r.schema).flatMap {
          case (p, (id, _)) => r.footer.fileStats.get(id).map(p -> _)
        }
        Tail(r.schema.fieldNames.toSet, r.footer.numRows, statsByName,
          PartitionLayout.specOf(qualifiedRoot, file),
          dvOf.get(file.toString)
            .map(DwrfDv.count(_, conf)).getOrElse(0L))
      } finally r.close()
    }
  }

  /** Types whose footer stats are EXACT under the writer's contract:
    * integral longs (+ date days, timestamp micros), full-length strings
    * in unsigned-UTF8 order, and float/double (NaN-free files only —
    * see [[noNaNEverywhere]]). Booleans/decimals/binary stay excluded.
    */
  private def statsExact(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
    // short decimals: unscaled-long stats at a fixed scale are
    // order-preserving, so min/max (and count) are exact; SUM stays
    // excluded (aggOutType would need the widened decimal sum type)
    case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 => true
    case _ => false
  }

  private def floating(name: String): Boolean =
    tableSchema.fields.find(_.name == name).exists(f =>
      f.dataType == org.apache.spark.sql.types.FloatType ||
        f.dataType == org.apache.spark.sql.types.DoubleType)

  /** MIN/MAX on float/double is exact only when no file may hold a NaN:
    * Spark orders NaN above every double (so MAX returns NaN when one
    * exists) while the writer's `v < min` / `v > max` comparisons are
    * always false for NaN — footer bounds silently ignore it. Detection
    * needs no format change: `StatsBuilder.noteDouble` folds every value
    * into `doubleSum`, and NaN poisons a float sum permanently, so a
    * non-NaN per-file sum PROVES the file is NaN-free (the same
    * soundness argument StatsFilter uses for stride skipping).
    * Inf-cancellation (`+Inf + -Inf`) can also NaN the sum — that only
    * costs a conservative fallback to the distributed plan. (-0.0 vs 0.0
    * needs no gate: Java `<` and Spark's nanSafeCompare both treat them
    * as equal, so both plans return whichever spelling arrived first.)
    */
  private def noNaNEverywhere(name: String): Boolean =
    !floating(name) || aggTails.forall(t =>
      t.rows == 0 || t.stats.get(name).forall(st => !st.doubleSum.isNaN))

  private def topColumn(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Column usable for footer aggregation: exact-stats type, present in
    * every file's schema with a stats entry (or the file is empty).
    */
  private def coveredEverywhere(name: String): Boolean =
    tableSchema.fields.find(_.name == name).exists(f => statsExact(f.dataType)) &&
      aggTails.forall(t =>
        t.rows == 0 || (t.cols.contains(name) && t.stats.contains(name)))

  /** Grouping column usable for footer aggregation: a partition column
    * (its value is a per-file constant carried by the directory name)
    * present and cleanly typed in every file's spec. The Hive
    * default-partition marker (null value) bails — conservative.
    */
  private def groupableEverywhere(name: String): Boolean =
    tableSchema.fields.find(_.name == name).exists(f =>
      PartitionLayout.supportedType(f.dataType)) && aggTails.nonEmpty &&
      aggTails.forall(t =>
        t.spec.exists { case (k, raw) =>
          k == name && PartitionLayout.catalystValue(
            raw, tableSchema(name).dataType) != null
        })

  /** Files grouped by the TYPED partition values of `groupCols` (one
    * group holding everything when ungrouped), deterministic order.
    * Grouping on the parsed value — not the raw directory string —
    * merges two spellings of one value (`ds=01` vs `ds=1` on an int
    * column, possible on externally-written layouts) exactly as the
    * distributed plan would.
    */
  private def groupedTails(groupCols: Seq[String]): Seq[(Seq[Any], Seq[Tail])] =
    if (groupCols.isEmpty) Seq((Nil, aggTails))
    else aggTails.groupBy(t =>
      groupCols.map(c => PartitionLayout.catalystValue(
        t.spec.find(_._1 == c).get._2, tableSchema(c).dataType)))
      .toSeq.sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .map { case (k, v) => (k, v.toSeq) }

  /** Exact sum of `name` across `tails`, None when any file's own sum
    * overflowed or the cross-file fold would — ColumnStats.merge adds
    * sums unchecked, so the checked fold lives here.
    */
  private def safeSum(tails: Seq[Tail], name: String): Option[Long] = {
    val sts = tails.flatMap(_.stats.get(name))
    if (sts.exists(_.longSumOverflowed)) None
    else try Some(sts.foldLeft(0L)((a, s) => Math.addExact(a, s.longSum)))
    catch { case _: ArithmeticException => None }
  }

  private def sumType(name: String): Boolean =
    tableSchema.fields.find(_.name == name).exists(_.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })

  private def canPush(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    lazy val groups = groupedTails(
      agg.groupByExpressions().toSeq.map(e => topColumn(e).get))
    // opt-out: a LocalScan result carries no KeyGroupedPartitioning, so
    // a grouped aggregate FEEDING a co-partitioned join may prefer the
    // storage-partitioned scan — aggregate.pushdown=false keeps it
    options.get("aggregate.pushdown").forall(_.toBoolean) &&
      // scan.files-restricted reads (change feed internals) skip the
      // pushdown: aggTails reads the FULL version's footers.
      DwrfUtil.scanFilesOption(options).isEmpty &&
      // delete vectors make footer stats overcount (they still describe
      // the masked rows), so MIN/MAX/SUM/COUNT(col) go distributed until
      // a rewrite purges the DVs — but COUNT(*) stays exact as
      // per-file rows − DV cardinality, both planning-time metadata, so
      // "how many rows" keeps its zero-I/O answer even mid-MoR-churn.
      (aggTails.forall(_.dvMasked == 0L) ||
        agg.aggregateExpressions().forall(_.isInstanceOf[CountStar])) &&
      pushed.isEmpty && owned.isEmpty &&
      agg.groupByExpressions().forall(e =>
        topColumn(e).exists(groupableEverywhere)) &&
      agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall {
        case _: CountStar => true
        case c: Count =>
          !c.isDistinct && topColumn(c.column).exists(coveredEverywhere)
        case m: Min => topColumn(m.column).exists(n =>
          coveredEverywhere(n) && noNaNEverywhere(n))
        case m: Max => topColumn(m.column).exists(n =>
          coveredEverywhere(n) && noNaNEverywhere(n))
        case s: Sum =>
          !s.isDistinct && topColumn(s.column).exists(n =>
            sumType(n) && coveredEverywhere(n) &&
              groups.forall { case (_, ts) => safeSum(ts, n).isDefined })
        case _ => false
      }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    canPush(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (canPush(agg)) { pushedAgg = Some(agg); true } else false
  }

  /** One row per group (one total when ungrouped), straight from the
    * merged footers. Per the SupportsPushDownAggregates contract the
    * output schema is the grouping columns followed by the aggregates.
    */
  private def aggScan(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Scan = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    def merged(tails: Seq[Tail], name: String): graft.format.ColumnStats =
      tails.iterator.flatMap(_.stats.get(name))
        .foldLeft(graft.format.ColumnStats(0L, hasNull = false))(_ merge _)
    def minMax(tails: Seq[Tail], name: String, isMin: Boolean): Any = {
      val st = merged(tails, name)
      if (st.count == 0) null
      else tableSchema(name).dataType match {
        case ByteType => (if (isMin) st.longMin else st.longMax).toByte
        case ShortType => (if (isMin) st.longMin else st.longMax).toShort
        case IntegerType | DateType => (if (isMin) st.longMin else st.longMax).toInt
        case LongType | TimestampType | TimestampNTZType =>
          if (isMin) st.longMin else st.longMax
        case FloatType => (if (isMin) st.doubleMin else st.doubleMax).toFloat
        case DoubleType => if (isMin) st.doubleMin else st.doubleMax
        case d: DecimalType =>
          Decimal(if (isMin) st.longMin else st.longMax, d.precision, d.scale)
        case StringType => org.apache.spark.unsafe.types.UTF8String
          .fromString(if (isMin) st.stringMin else st.stringMax)
        case other => throw new IllegalStateException(
          s"unreachable: $other passed statsExact")
      }
    }
    val groupCols = agg.groupByExpressions().map(e => topColumn(e).get)
    val groups = groupedTails(groupCols.toSeq)
    def aggCols(tails: Seq[Tail]): Seq[Any] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => tails.map(t => t.rows - t.dvMasked).sum
      case c: Count => merged(tails, topColumn(c.column).get).count
      case m: Min => minMax(tails, topColumn(m.column).get, isMin = true)
      case m: Max => minMax(tails, topColumn(m.column).get, isMin = false)
      case s: Sum =>
        val name = topColumn(s.column).get
        // SQL SUM over zero rows is NULL, not 0; canPush validated
        // safeSum per group, so the .get here (per-group only) is safe
        if (merged(tails, name).count == 0) null
        else safeSum(tails, name).get
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    // output types derived statically — no value evaluation here, so a
    // grouped SUM whose per-group totals fit in Long never trips on a
    // hypothetical cross-group overflow during schema derivation
    def aggOutType(e: AggregateFunc): DataType = e match {
      case _: CountStar | _: Count | _: Sum => LongType
      case m: Min => tableSchema(topColumn(m.column).get).dataType
      case m: Max => tableSchema(topColumn(m.column).get).dataType
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    val rows = groups.map { case (keyVals, tails) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        (keyVals ++ aggCols(tails)).toArray)
    }
    val schema = StructType(
      groupCols.toSeq.map(c => StructField(c, tableSchema(c).dataType,
        nullable = false)) ++
      agg.aggregateExpressions().toSeq.zipWithIndex.map { case (e, i) =>
        StructField(s"agg_$i", aggOutType(e), nullable = true)
      })
    new DwrfAggScan(schema, rows.toArray)
  }

  /** Catalyst's ColumnPruning lands here (reference P1's include[]).
    *
    * Top-level pruning ONLY: with nestedSchemaPruning (default on) Catalyst
    * may hand us a nested-pruned struct (e.g. `st: struct<b>` for
    * `SELECT st.b`), but the readers decode whole top-level columns from
    * the file schema — reporting the pruned shape verbatim would misalign
    * struct ordinals downstream (silent corruption). Map each requested
    * field back to its full file type; Catalyst projects the subfield.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // `_file` is a metadata column (SupportsMetadataColumns), not in the
    // table schema: synthesize its field when Spark asks for it
    readSchema = StructType(requiredSchema.fields.map { f =>
      if (f.name == DwrfUtil.FileMetaColumn &&
          !tableSchema.fieldNames.contains(f.name))
        org.apache.spark.sql.types.StructField(
          DwrfUtil.FileMetaColumn, org.apache.spark.sql.types.StringType,
          nullable = false)
      else if (f.name == DwrfUtil.PosMetaColumn &&
          !tableSchema.fieldNames.contains(f.name))
        org.apache.spark.sql.types.StructField(
          DwrfUtil.PosMetaColumn, org.apache.spark.sql.types.LongType,
          nullable = false)
      else tableSchema(f.name)
    })
  }

  /** Filters the stats can refute drive stripe/stride SKIPPING
    * (`PushedFilters` in explain). Filters the reader evaluates exactly
    * ([[ExactFilter.owned]]) are claimed: the reader returns only their
    * matching rows, so Spark plans no `Filter` for them (`ReaderFilters`
    * in explain). Every other filter is returned for Spark to evaluate.
    * A copy-on-write replace scan claims nothing: it must stream every
    * row of a file it rewrites (`replacedFilesOut` is set before Spark
    * pushes filters).
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(StatsFilter.supported(_, tableSchema))
    owned =
      if (replacedFilesOut != null) Array.empty
      else filters.filter(ExactFilter.owned(_, tableSchema))
    filters.filterNot(owned.contains)
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    (pushed ++ owned).distinct

  // set by DwrfRowLevelOperation before Spark builds the scan: flips the
  // scan into copy-on-write mode (file-granularity filtering + planned-
  // file capture); aggregate pushdown never applies to a replace scan
  private[dwrf] var replacedFilesOut:
      java.util.concurrent.atomic.AtomicReference[ReplacedSet] = null

  override def build(): Scan =
    if (replacedFilesOut != null)
      new DwrfScan(tableSchema, readSchema, path, pushed, options,
        replacedFilesOut)
    else pushedAgg match {
      case Some(agg) => aggScan(agg)
      case None => new DwrfScan(tableSchema, readSchema, path, pushed, options,
        owned = owned)
    }
}

/** Metadata-only result of a completely-pushed aggregation: one row per
  * group (one total when ungrouped), computed on the driver from file
  * footers. Spark plans it as a local table scan — no executors, no
  * data pages, no shuffle.
  */
final class DwrfAggScan(out: StructType,
    resultRows: Array[org.apache.spark.sql.catalyst.InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = out
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = resultRows
  override def description(): String = "DwrfAggScan(footer-stats aggregate)"
}

/** Multi-part column reference for nested struct leaves (`st.ok`) — the
  * public FieldReference constructor is sql-private; the interface only
  * needs the parts. */
private final case class DottedFieldReference(parts: Array[String])
    extends org.apache.spark.sql.connector.expressions.NamedReference {
  override def fieldNames(): Array[String] = parts
  override def toString: String = parts.mkString(".")
}

/** Per-file footer summary cached by the Scan: read ONCE per query (shared
  * by planInputPartitions and estimateStatistics) and gathered on a bounded
  * pool — at 100k files two serial driver metadata passes would dominate
  * planning. `statsByName` are the file-level column stats resolved
  * against that file's OWN schema (schema evolution safe), driving
  * whole-file pruning for static and runtime filters.
  */
private final case class DwrfFileTail(
    path: String,
    stripes: Seq[graft.format.StripeInformation],
    numRows: Long,
    rawDataSize: Long,
    statsByName: Map[String, graft.format.ColumnStats],
    partSpec: Seq[(String, String)],
    blooms: Map[String, graft.format.BloomFilter] = Map.empty,
    dvPath: Option[String] = None,
    dvCount: Long = 0L)

final class DwrfScan(tableSchema: StructType, readSchema: StructType, path: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    options: Map[String, String] = Map.empty,
    // row-level-operation (copy-on-write) mode: pushed/runtime filters
    // prune at FILE granularity only — stripe/stride row skipping would
    // silently drop the copied (non-matching) rows of rewritten files —
    // and every planning pass records the exact file set here; the
    // replace commit deletes precisely these files
    replacedFilesOut: java.util.concurrent.atomic.AtomicReference[ReplacedSet] = null,
    // filters the readers evaluate exactly: Spark does not re-evaluate them
    owned: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  override def readSchema(): StructType = readSchema

  /** Every dwrf read is columnar, a scan that plans no partition too. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  /** What the readers decode: `readSchema`, then the columns only the
    * owned filters reference (Spark pruned those from `readSchema` once
    * it dropped its own Filter). */
  private val decodeSchema: StructType = StructType(readSchema.fields ++
    ExactFilter.columns(owned).filterNot(readSchema.fieldNames.contains)
      .map(tableSchema(_)))
  override def toBatch: Batch = {
    if (DwrfChanges.requested(options)) throw new IllegalArgumentException(
      s"dwrf: ${DwrfChanges.ReadChangeFeedKey} is a STREAMING read option " +
        "(readStream); for a batch change feed between two versions use " +
        "DwrfChanges.between")
    this
  }

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // snapshot tables tail the LOG (append commits, exactly once) — or
    // its full change feed when asked; plain landing dirs tail the
    // directory (mtime registry)
    if (DwrfChanges.requested(options))
      new DwrfCdfMicroBatchStream(tableSchema, readSchema, path,
        options, hadoopConf, checkpointLocation)
    else if (DwrfLog.isEnabled(new Path(path), hadoopConf.value))
      new DwrfLogMicroBatchStream(tableSchema, readSchema, path, pushed,
        options, hadoopConf, checkpointLocation)
    else
      new DwrfMicroBatchStream(tableSchema, readSchema, path, pushed, options,
        hadoopConf, checkpointLocation)

  private val hadoopConf = new SerializableHadoopConf(DwrfUtil.sessionHadoopConf())

  /** Runtime filters Spark injects at execution time (the DSv2 analog of
    * dynamic partition pruning — e.g. the IN-set of join keys from a
    * broadcast side). They prune whole files via footer stats and flow to
    * the readers for stripe/stride skipping, exactly like static pushed
    * filters; Spark re-evaluates everything above the scan, so pruning
    * stays pure I/O savings.
    */
  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  /** Copy-on-write runtime group filter: the `_file IN (matched)` set
    * Spark's RowLevelOperationRuntimeGroupFiltering rule derives from
    * the statement's condition (armed by the operation's
    * `requiredMetadataAttributes`). Narrows BOTH the planned partitions
    * and the recorded replace set, so files without matched rows are
    * never read, rewritten, or deleted. None = no group filter arrived
    * (rule disabled, trivial condition): every statically-surviving
    * file is rewritten — the always-correct fallback.
    */
  @volatile private var cowFileFilter: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    if (replacedFilesOut != null) {
      // group-based row-level op: the ONE runtime-filterable attribute
      // is the `_file` metadata column. A single attribute matters —
      // the group filter then arrives as a one-column IN the V1 filter
      // bridge can express, where a multi-attribute set arrives as a
      // struct-IN it cannot. (Shadowed `_file` never gets here: the
      // operation requests no metadata attributes then.)
      if (tableSchema.fieldNames.contains(DwrfUtil.FileMetaColumn))
        Array.empty
      else Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(DwrfUtil.FileMetaColumn))
    } else {
      // every stats-skippable dotted path under a projected top-level
      // column (nested struct leaves included — stats written per id)
      val topNames = readSchema.fields.map(_.name).toSet
      ColumnTree.pathIds(tableSchema).keys.toArray
        .filter(p => topNames.contains(p) || topNames.contains(p.split('.').head))
        .filter(p => StatsFilter.filterableColumn(p, tableSchema))
        .sorted
        .map { p =>
          if (topNames.contains(p))
            org.apache.spark.sql.connector.expressions.Expressions.column(p)
          else DottedFieldReference(p.split('.'))
        }
    }
  }

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (replacedFilesOut != null) {
      import org.apache.spark.sql.sources.{EqualTo, In}
      val sets = filters.collect {
        case In(c, vs) if c == DwrfUtil.FileMetaColumn =>
          vs.iterator.collect { case s: String => s }.toSet
        case EqualTo(c, v: String) if c == DwrfUtil.FileMetaColumn => Set(v)
      }
      if (sets.nonEmpty) cowFileFilter = Some(sets.reduce(_ intersect _))
    } else {
      runtimeFilters = filters.filter(StatsFilter.supported(_, tableSchema))
    }
  }

  private def allFilters: Array[org.apache.spark.sql.sources.Filter] =
    pushed ++ runtimeFilters

  // snapshot tables: the manifest resolves ONCE here (lazy), pinning
  // this scan's file set AND delete-vector bindings for the life of the
  // query — concurrent DML commits new versions but never touches these
  private lazy val resolvedSnapshot: Option[DwrfLog.Snapshot] =
    DwrfLog.resolve(new Path(path), hadoopConf.value,
      DwrfUtil.pinnedVersion(new Path(path), hadoopConf.value, options))

  private lazy val fileTails: Seq[DwrfFileTail] = {
    val qualifiedRoot = DwrfUtil.qualify(new Path(path), hadoopConf.value)
    val (allFiles, dvOf) = resolvedSnapshot match {
      case Some(snap) =>
        val abs = snap.files.map(rel => new Path(qualifiedRoot, rel))
        val dv = snap.files.zip(abs).collect {
          case (rel, a) if snap.dvs.contains(rel) =>
            a.toString -> new Path(qualifiedRoot, snap.dvs(rel)).toString
        }.toMap
        (abs, dv)
      case None =>
        (DwrfUtil.listDataFiles(new Path(path), hadoopConf.value),
          Map.empty[String, String])
    }
    // scan.files: restrict to the named relative paths (change feed
    // reads exactly one commit's added/removed files through the
    // ordinary scan, partition splicing included)
    val files = DwrfUtil.scanFilesOption(options) match {
      case None => allFiles
      case Some(rel) =>
        val byRel = allFiles.map(f =>
          DwrfLog.relativize(new Path(path), hadoopConf.value, f) -> f).toMap
        val missing = rel -- byRel.keySet
        require(missing.isEmpty,
          s"dwrf: ${DwrfUtil.ScanFilesKey} names files not in this " +
            s"version: ${missing.take(3).mkString(", ")}")
        rel.toSeq.sorted.map(byRel)
    }
    // Manifest-carried stats: for snapshot tables the commit's sidecar
    // already holds every file's footer-level column stats, so statically
    // pushed filters prune files HERE — before any footer I/O. At 100 TB
    // a narrow predicate touches a handful of files out of 10⁵⁺; reading
    // one sidecar instead of every footer is the difference between
    // planning in milliseconds and planning in minutes. Runtime filters
    // still prune in planInputPartitions (they arrive after this lazy
    // val resolves); a missing/unreadable sidecar or an unlisted file
    // just falls through to the footer pass below. Pruning uses the SAME
    // StatsFilter evaluation as the footer pass, fed from the same
    // footer-derived stats — manifest pruning can never drop a file the
    // footer pass would have kept.
    val manifestSurvivors: Seq[Path] =
      if (pushed.isEmpty) files
      else resolvedSnapshot match {
        case None => files
        case Some(snap) =>
          DwrfLogStats.load(new Path(path), hadoopConf.value, snap.version) match {
            case None => files
            case Some(sums) =>
              val kept = files.filter { f =>
                val rel = DwrfLog.relativize(new Path(path), hadoopConf.value, f)
                sums.get(rel) match {
                  case None => true // unknown file: never prune blind
                  case Some(colStats) =>
                    // partition-path values prune here too (min=max stats),
                    // numRows=1 because only the window matters
                    val partStats = PartitionLayout.specOf(qualifiedRoot, f)
                      .flatMap { case (k, raw) =>
                        tableSchema.fields.find(_.name == k).flatMap(fd =>
                          PartitionLayout.asStats(raw, fd.dataType, 1L).map(k -> _))
                      }.toMap
                    StatsFilter.mayMatch(pushed.toSeq, tableSchema,
                      n => colStats.get(n).orElse(partStats.get(n)))
                }
              }
              DwrfPlanningProbe.manifestPruned.addAndGet(files.size - kept.size)
              kept
          }
      }
    DwrfUtil.parMap(manifestSurvivors) { file =>
      DwrfPlanningProbe.footerReads.incrementAndGet()
      val r = new DwrfFileReader(file, hadoopConf.value)
      (if (r.footerCacheHit) DwrfPlanningProbe.footerCacheHits
       else DwrfPlanningProbe.footerCacheMisses).incrementAndGet()
      try {
        // keyed by dotted path (top-level AND nested struct leaves), so
        // file pruning acts on nested-field predicates too
        val statsByName = ColumnTree.pathIds(r.schema).flatMap {
          case (path, (id, _)) => r.footer.fileStats.get(id).map(path -> _)
        }
        // partition values surface as min=max stats: the regular pruner
        // then skips whole partitions for static AND runtime filters
        // (= dynamic partition pruning through one code path)
        val spec = PartitionLayout.specOf(qualifiedRoot, file)
        val partStats = spec.flatMap { case (k, raw) =>
          tableSchema.fields.find(_.name == k).flatMap(f =>
            PartitionLayout.asStats(raw, f.dataType, r.footer.numRows).map(k -> _))
        }
        // per-column bloom filters ride the footer's user metadata
        val blooms = r.footer.userMetadata.collect {
          case (k, bytes) if k.startsWith(DwrfBloom.MetaPrefix) =>
            graft.format.BloomFilter.deserialize(bytes)
              .map(k.stripPrefix(DwrfBloom.MetaPrefix) -> _)
        }.flatten.toMap
        // a bound delete vector: its masked-row count corrects the
        // row-count estimate; the reader masks its positions
        val dvPath = dvOf.get(file.toString)
        val dvCount = dvPath.map(p =>
          DwrfDv.count(new Path(p), hadoopConf.value)).getOrElse(0L)
        // renamed columns: surface the old file's stats/blooms under the
        // CURRENT name too, so filters on the new name still prune
        // pre-rename files (missing entries only ever disable pruning,
        // never correctness — StatsFilter treats absence as may-match)
        val aliasStats = tableSchema.fields.iterator.flatMap { f =>
          if (statsByName.contains(f.name)) None
          else ColumnAliases.resolve(f, statsByName).map(f.name -> _)
        }.toMap
        val aliasBlooms = tableSchema.fields.iterator.flatMap { f =>
          if (blooms.contains(f.name)) None
          else ColumnAliases.resolve(f, blooms).map(f.name -> _)
        }.toMap
        DwrfFileTail(file.toString, r.footer.stripes, r.footer.numRows,
          r.footer.rawDataSize, statsByName ++ aliasStats ++ partStats,
          spec, blooms ++ aliasBlooms, dvPath, dvCount)
      } finally r.close()
    }
  }

  /** The partition-column names, when every file agrees on a layout. */
  private lazy val layoutKeys: Seq[String] = {
    val keySeqs = fileTails.map(_.partSpec.map(_._1)).distinct
    if (keySeqs.size == 1) keySeqs.head else Nil
  }

  /** Bucketed-table spec forwarded from the catalog table properties —
    * only when the relation can resolve the bucket transform (catalog
    * tables); a path read with bare spec keys stays unreported. */
  private lazy val bucketSpec: Option[(String, Int)] =
    DwrfBucket.resolvableSpecOf(options)

  /** The bucket layout is only reportable when EVERY live file carries
    * a parseable, in-range bucket id — a copy-on-write rewrite or
    * compaction that produced unbucketed names silently drops the
    * report (correct scans, re-grown shuffles) instead of lying about
    * co-location. */
  private lazy val bucketKeyed: Boolean = bucketSpec.exists { case (_, n) =>
    fileTails.nonEmpty &&
      fileTails.forall(t => DwrfBucket.ofPath(t.path).exists(_ < n))
  }

  /** Typed partition-key row for Spark's split grouping (null when the
    * spec doesn't parse as the table types — then no key is reported). */
  private def keyRowOf(spec: Seq[(String, String)]): InternalRow =
    try {
      val vals = spec.map { case (k, raw) =>
        val f = tableSchema.fields.find(_.name == k).getOrElse(return null)
        PartitionLayout.catalystValue(raw, f.dataType).asInstanceOf[AnyRef]
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        vals.toArray[Any])
    } catch { case _: IllegalArgumentException => null }

  /** Storage-partitioned reads: a Hive-partitioned layout reports
    * KeyGroupedPartitioning over its partition columns, so (with
    * spark.sql.sources.v2.bucketing.enabled) joins and aggregations
    * clustered on them skip the shuffle — at 100 TB the layout itself
    * becomes the exchange. Unknown when the table isn't partitioned or
    * a partition column was projected away (Spark couldn't resolve the
    * key against the scan output).
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = planInputPartitions()
    val allKeyed = parts.forall(_.isInstanceOf[DwrfKeyedInputPartition])
    // bucketed layout: one key per bucket id, expression bucket(n, col)
    // — resolvable on both sides of a join through the catalog's
    // FunctionCatalog, which is what proves two tables co-bucketed
    val bucketReportable = bucketKeyed && allKeyed &&
      bucketSpec.forall { case (col, _) =>
        readSchema.fieldNames.contains(col)
      }
    if (bucketReportable) {
      val (col, n) = bucketSpec.get
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, col)),
        parts.length)
    } else if (layoutKeys.nonEmpty &&
        layoutKeys.forall(k => readSchema.fieldNames.contains(k)) &&
        allKeyed && !bucketKeyed)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        layoutKeys.map(k =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(k)).toArray,
        parts.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        parts.length)
  }

  /** One partition per stripe group of ~target split size; files whose
    * footer stats refute the (static + runtime) filters are skipped
    * entirely — no footer re-read, no task. */
  /** Bloom refutation of top-level equality/IN conjuncts: a filter value
    * whose hash the column's per-file bloom rules out cannot match any
    * row of the file (false positives only ever KEEP a file). Covers
    * static pushed filters AND runtime filters — a broadcast join's
    * IN-set of keys prunes whole files here before any task launches,
    * the lookup rung min/max stats can't provide on unsorted
    * high-cardinality columns.
    */
  private def bloomSurvives(tail: DwrfFileTail,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def might(col: String, v: Any): Boolean =
      if (v == null) true
      else tail.blooms.get(col) match {
        case None => true
        case Some(bf) =>
          tableSchema.fields.find(_.name == col) match {
            case Some(f) => DwrfBloom.hashFilterValue(f.dataType, v)
              .forall(bf.mightContain)
            case None => true
          }
      }
    filters.forall {
      case EqualTo(col, v) => might(col, v)
      case EqualNullSafe(col, v) if v != null => might(col, v)
      case In(col, vs) => vs.isEmpty || vs.exists(might(col, _))
      case _ => true
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val filters = allFilters.toSeq
    val statSurvivors = fileTails.filter { tail =>
      filters.isEmpty ||
        (StatsFilter.mayMatch(filters, tableSchema, tail.statsByName.get) &&
          bloomSurvives(tail, filters))
    }
    // copy-on-write runtime group filter: only files holding MATCHED
    // rows are rewritten; the rest of the statically-surviving set
    // stays on disk untouched (and out of the replace set below)
    val survivors = cowFileFilter match {
      case Some(matched) => statSurvivors.filter(t => matched.contains(t.path))
      case None => statSurvivors
    }
    // copy-on-write mode: the replace commit deletes exactly the files
    // this (final, runtime-filtered) planning selected — and must prove
    // at commit time that the delete-vector bindings it READ (and
    // applied as masks) were not concurrently superseded
    if (replacedFilesOut != null)
      replacedFilesOut.set(ReplacedSet(survivors.map(_.path),
        resolvedSnapshot.map(_.dvs).getOrElse(Map.empty)))
    survivors.flatMap { tail =>
      val keyRow =
        if (bucketKeyed)
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](DwrfBucket.ofPath(tail.path).get))
        else if (tail.partSpec.isEmpty) null
        else keyRowOf(tail.partSpec)
      def mk(start: Long, len: Long): DwrfPartitionBase =
        if (keyRow != null)
          DwrfKeyedInputPartition(tail.path, start, len, tail.partSpec, keyRow,
            tail.dvPath)
        else DwrfInputPartition(tail.path, start, len, tail.partSpec,
          tail.dvPath)
      DwrfSplits.stripeGroups(tail.stripes).map { case (off, len) => mk(off, len) }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DwrfPartitionReaderFactory(decodeSchema.json,
      // copy-on-write: no reader-level (stripe/stride) row skipping —
      // surviving files must stream back EVERY row for the rewrite
      if (replacedFilesOut != null) Array.empty else allFilters,
      hadoopConf,
      // `_file`/`_pos` are METADATA columns only when no data column
      // shadows the name
      fileMetaRequested =
        readSchema.fieldNames.contains(DwrfUtil.FileMetaColumn) &&
          !tableSchema.fieldNames.contains(DwrfUtil.FileMetaColumn),
      posMetaRequested = posMetaRequested,
      exact = owned,
      outputWidth = readSchema.length)

  private def posMetaRequested: Boolean =
    readSchema.fieldNames.contains(DwrfUtil.PosMetaColumn) &&
      !tableSchema.fieldNames.contains(DwrfUtil.PosMetaColumn)

  override def description(): String =
    s"dwrf scan of $path, PushedFilters: [${pushed.mkString(", ")}]" +
      (if (owned.isEmpty) "" else s", ReaderFilters: [${owned.mkString(", ")}]")

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    DwrfMetrics.all

  override def estimateStatistics(): Statistics = {
    val rows = fileTails.map(t => t.numRows - t.dvCount).sum
    val bytes = fileTails.map(_.rawDataSize).sum
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }
}

/** What a copy-on-write planning pass observed: the surviving file set
  * (the replace commit removes exactly these) and the delete-vector
  * bindings in force when they were read (relative-path keyed — the
  * commit's staleness proof).
  */
final case class ReplacedSet(files: Seq[String],
    observedDvs: Map[String, String])

sealed trait DwrfPartitionBase extends InputPartition {
  def path: String
  def offset: Long
  def length: Long
  def partSpec: Seq[(String, String)]
  /** Delete-vector sidecar bound to this file, if any — the reader
    * masks its positions. */
  def dvPath: Option[String]
}

final case class DwrfInputPartition(path: String, offset: Long, length: Long,
    partSpec: Seq[(String, String)] = Nil, dvPath: Option[String] = None)
    extends DwrfPartitionBase

/** Input partition of a Hive-partitioned table carrying its typed
  * partition-key row: lets Spark group splits by key
  * (SupportsReportPartitioning) so joins and aggregations clustered on
  * the partition columns skip their shuffle entirely — the DSv2
  * storage-partitioned join path, the biggest single shuffle saving a
  * 100 TB layout can offer.
  */
final case class DwrfKeyedInputPartition(path: String, offset: Long, length: Long,
    partSpec: Seq[(String, String)], partKey: InternalRow,
    dvPath: Option[String] = None)
    extends DwrfPartitionBase
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = partKey
}

/** Change-feed delta partition: surfaces ONLY the rows a delete-vector
  * rebinding newly masked — positions in `newDvPath` minus `oldDvPath` —
  * i.e. a merge-on-read commit's exact row-level deletes, read from the
  * retained data file. The inverse of the ordinary mask.
  */
final case class DwrfCdfDeltaPartition(path: String, offset: Long,
    length: Long, partSpec: Seq[(String, String)],
    oldDvPath: Option[String], newDvPath: String)
    extends DwrfPartitionBase {
  override def dvPath: Option[String] = None
}

/** Readers over `readSchemaJson`'s columns. `pushed` filters drive
  * stats skipping; `exact` filters are evaluated exactly and only their
  * matching rows are returned. When `outputWidth` is set, the schema's
  * columns past it are decoded for `exact` only and never output.
  * Every partition reads columnar, whatever its types, delete vector,
  * `_pos` column or widened file: there is no row reader.
  */
final class DwrfPartitionReaderFactory(readSchemaJson: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    hadoopConf: SerializableHadoopConf,
    fileMetaRequested: Boolean = false,
    posMetaRequested: Boolean = false,
    exact: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    outputWidth: Int = -1)
    extends PartitionReaderFactory {

  @transient private lazy val parsedSchema =
    org.apache.spark.sql.types.DataType.fromJson(readSchemaJson).asInstanceOf[StructType]

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** Typed constants for the partition columns present in `readSchema`,
    * plus the `_file` metadata column when requested — a per-partition
    * constant exactly like them.
    */
  private def partValuesOf(p: DwrfPartitionBase): Map[String, Any] = {
    val parts = p.partSpec.flatMap { case (k, raw) =>
      parsedSchema.fields.find(_.name == k)
        .map(f => k -> PartitionLayout.catalystValue(raw, f.dataType))
    }.toMap
    if (fileMetaRequested && !parts.contains(DwrfUtil.FileMetaColumn))
      parts + (DwrfUtil.FileMetaColumn ->
        org.apache.spark.unsafe.types.UTF8String.fromString(p.path))
    else parts
  }

  /** The rows of `p`'s file selected by position: a bound delete vector
    * masks its positions; a change-feed delta keeps only the positions
    * its new delete vector adds over the old one. */
  private def maskOf(p: DwrfPartitionBase): PositionMask = {
    val conf = hadoopConf.value
    def positions(dv: String): Array[Long] = DwrfDv.read(new Path(dv), conf)._1
    p match {
      case d: DwrfCdfDeltaPartition =>
        val old = d.oldDvPath.map(positions).getOrElse(Array.emptyLongArray)
        new PositionMask(positions(d.newDvPath)
          .filter(java.util.Arrays.binarySearch(old, _) < 0), keep = true)
      case _ => p.dvPath.map(dv => new PositionMask(positions(dv), keep = false)).orNull
    }
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[DwrfPartitionBase]
    val mask = maskOf(p)
    val reader = new DwrfFileReader(new Path(p.path), hadoopConf.value)
    new DwrfColumnarPartitionReader(reader, reader.batches(
      reader.stripesInRange(p.offset, p.length), parsedSchema, pushed.toSeq,
      exact.toSeq, partValuesOf(p), outputWidth, posMetaRequested, mask))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "dwrf: every read is columnar; no row reader for " +
        s"${partition.asInstanceOf[DwrfPartitionBase].path}")
}

// --------------------------------------------------------------- write

/** What an INSERT/write replaces. Append adds files; Truncate replaces
  * the whole table; OverwriteWhere replaces exactly the partitions a
  * static `INSERT OVERWRITE … PARTITION (p=v)` / overwrite-by-filter
  * names; DynamicOverwrite replaces exactly the partitions the NEW data
  * touches (Spark's dynamic partitionOverwriteMode — the daily-reload
  * shape: reload 3 days of a 5-year table without naming them).
  */
private[dwrf] sealed trait DwrfWriteMode
private[dwrf] object DwrfWriteMode {
  case object Append extends DwrfWriteMode
  case object Truncate extends DwrfWriteMode
  final case class OverwriteWhere(
      filters: Seq[org.apache.spark.sql.sources.Filter]) extends DwrfWriteMode
  case object DynamicOverwrite extends DwrfWriteMode
}

/** Evaluates overwrite filters against a file's Hive partition spec
  * (raw path-segment strings). Only partition-column predicates are
  * accepted — an overwrite filter on a DATA column would need a row-level
  * rewrite, which is `DELETE`/`MERGE`'s job, so it's refused loudly
  * rather than silently dropping unrelated files.
  */
private[dwrf] object PartitionFilterMatch {
  import org.apache.spark.sql.sources._

  private def refs(f: Filter): Seq[String] = f.references.toSeq

  def validate(filters: Seq[Filter], partCols: Seq[String]): Unit = {
    val bad = filters.flatMap(refs).distinct.filterNot(partCols.contains)
    require(bad.isEmpty,
      s"dwrf: overwrite-by-filter supports PARTITION columns only " +
        s"(${partCols.mkString(", ")}); filter references ${bad.mkString(", ")}. " +
        "Row-level replacement is DELETE/MERGE's job.")
    filters.foreach(assertShape)
  }

  private def assertShape(f: Filter): Unit = f match {
    case And(l, r) => assertShape(l); assertShape(r)
    case Or(l, r) => assertShape(l); assertShape(r)
    case Not(c) => assertShape(c)
    case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull | _: IsNotNull => ()
    case _: AlwaysTrue | _: AlwaysFalse => ()
    case other => throw new IllegalArgumentException(
      s"dwrf: unsupported overwrite filter shape $other — static partition " +
        "specs produce EqualTo/In; use DELETE for general predicates")
  }

  /** The writer's path spelling of a partition value ([[PartitionLayout
    * .dirName]]'s value piece, pre-escape) — compare in THAT space so
    * `p=2024-01-01` matches a DateType literal.
    */
  private def printed(v: Any): String = v match {
    case null => PartitionLayout.NullSentinel
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  def matches(spec: Map[String, String], f: Filter): Boolean = f match {
    case And(l, r) => matches(spec, l) && matches(spec, r)
    case Or(l, r) => matches(spec, l) || matches(spec, r)
    case Not(c) => !matches(spec, c)
    case EqualTo(a, v) =>
      spec.get(a).exists(raw =>
        raw != PartitionLayout.NullSentinel && raw == printed(v))
    case EqualNullSafe(a, v) => spec.get(a).contains(printed(v))
    case In(a, vs) =>
      spec.get(a).exists(raw =>
        raw != PartitionLayout.NullSentinel && vs.map(printed).contains(raw))
    case IsNull(a) => spec.get(a).contains(PartitionLayout.NullSentinel)
    case IsNotNull(a) =>
      spec.get(a).exists(_ != PartitionLayout.NullSentinel)
    case _: AlwaysTrue => true
    case _: AlwaysFalse => false
    case other => throw new IllegalArgumentException(
      s"dwrf: unsupported overwrite filter $other") // validate() catches first
  }

  def matchesAll(spec: Map[String, String], filters: Seq[Filter]): Boolean =
    filters.forall(matches(spec, _))
}

final class DwrfWriteBuilder(schema: StructType, path: String,
    options: Map[String, String], partCols: Seq[String] = Nil,
    tableBucketSpec: Option[(String, Int)] = None,
    tableSaltSpec: Option[(String, Int)] = None)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  // catalog tables carry their spec in properties; path-based writes
  // can opt in per write via the same option keys
  // (`dwrf.bucket.column` / `dwrf.bucket.count`)
  private val bucketSpec: Option[(String, Int)] =
    tableBucketSpec.orElse(DwrfBucket.specOf(options))

  private var mode: DwrfWriteMode = DwrfWriteMode.Append

  override def truncate(): WriteBuilder = {
    mode = DwrfWriteMode.Truncate; this
  }

  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val real = filters.toSeq.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) mode = DwrfWriteMode.Truncate
    else {
      PartitionFilterMatch.validate(real, partCols)
      mode = DwrfWriteMode.OverwriteWhere(real)
    }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    // an unpartitioned table has exactly one "partition": dynamic mode
    // degenerates to a full overwrite, same as Spark's own file source
    mode =
      if (partCols.isEmpty) DwrfWriteMode.Truncate
      else DwrfWriteMode.DynamicOverwrite
    this
  }

  /** `sort.columns` (comma-separated, case-insensitive) asks Spark to
    * sort each write task's rows before they reach the writer, via the
    * DSv2 `RequiresDistributionAndOrdering` contract — no manual
    * `df.sortWithinPartitions` needed. Sorted input is what makes the
    * per-stride/stripe min-max stats selective: a range predicate on the
    * sort key then skips whole strides instead of finding every stride's
    * [min,max] spanning the full domain. At 100 TB this is the difference
    * between stats pruning being decorative and being the I/O plan.
    * When the write is Hive-partitioned, the input is additionally
    * clustered by the partition columns (each task sees few partition
    * values, bounding open writers) and the partition columns lead the
    * sort so partition runs stay contiguous.
    */
  override def build(): Write = {
    val requested: Seq[String] = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("sort.columns") => v
    }.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val sortCols = requested.map { c =>
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"dwrf: sort.columns references unknown column '$c' " +
            s"(schema: ${schema.fieldNames.mkString(", ")})"))
    }.filterNot(partCols.contains)
    // one Write for both cases: an empty requiredOrdering + unspecified
    // distribution means "no requirement" to Spark, so the plain-write
    // path needs no second implementation that could drift
    new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.{distributions => dist}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => VSortOrder}
      override def requiredDistribution(): dist.Distribution =
        tableBucketSpec match {
          // bucketed CATALOG table: cluster the input by bucket id, so
          // each bucket's rows land in few tasks (few open writers, few
          // files per bucket) — the catalog's FunctionCatalog resolves
          // the transform. A path-based opt-in (bucketSpec from write
          // OPTIONS) must NOT request this: a catalog-less relation has
          // no FunctionCatalog, so Spark cannot resolve the bucket
          // transform and the write would die at analysis — the writer
          // still routes rows per bucket, each task just may open more
          // bucket files.
          case Some((col, n)) =>
            // hot-key skew mitigation (DwrfBucket.SaltColumnKey): a
            // declared salt sub-clusters each bucket's input across up
            // to saltCount tasks/files, so one hot key cannot
            // concentrate a bucket into the single split a
            // storage-partitioned join cannot rebalance. Scan-side
            // reporting stays plain bucket(n, col).
            val salt = tableSaltSpec.orElse(DwrfBucket.saltSpecOf(options))
            salt.foreach { case (sc, _) =>
              require(schema.fieldNames.exists(_.equalsIgnoreCase(sc)),
                s"dwrf: ${DwrfBucket.SaltColumnKey} references unknown " +
                  s"column '$sc' (schema: ${schema.fieldNames.mkString(", ")})")
            }
            val exprs: Array[org.apache.spark.sql.connector.expressions.Expression] =
              (Expressions.bucket(n, col) +: salt.toSeq.map { case (sc, sn) =>
                Expressions.bucket(sn, sc)
              }).toArray[org.apache.spark.sql.connector.expressions.Expression]
            dist.Distributions.clustered(exprs)
          case None =>
            if (requested.nonEmpty && partCols.nonEmpty)
              dist.Distributions.clustered(
                partCols.map(c => Expressions.identity(c)
                  : org.apache.spark.sql.connector.expressions.Expression).toArray)
            else dist.Distributions.unspecified()
        }
      override def distributionStrictlyRequired(): Boolean = false
      override def requiredOrdering(): Array[VSortOrder] =
        if (requested.isEmpty) Array.empty
        else (partCols ++ sortCols).map(c =>
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
      override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
        DwrfWriteMetrics.all
      override def toBatch: BatchWrite =
        new DwrfBatchWrite(schema, path, options, mode, partCols, bucketSpec)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new DwrfStreamingWrite(schema, path, options, partCols)
    }
  }
}

/** Structured-Streaming sink: `df.writeStream.format("dwrf")` — the 100 TB
  * ingestion path writes the native format directly (no parquet staging +
  * rewrite). Files are named `part-e<epoch>-p<partition>.dwrf`, a
  * DETERMINISTIC function of (epoch, partition): a replayed epoch (failure
  * before the checkpoint commit) or a retried task finds its file already
  * published and keeps it (deterministic epochs produce the same bytes),
  * so the sink is idempotent per epoch and end-to-end effectively-once
  * for deterministic queries — the same contract Spark's own file sink
  * gets from its manifest log, here with zero extra metadata because the
  * name IS the manifest key. (Speculative execution could race two
  * attempts onto one file; like the reference's Hive OutputFormat the
  * sink targets speculation-off ETL writes.)
  */
final class DwrfStreamingWrite(schema: StructType, path: String,
    options: Map[String, String], partCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // driver-side, before any epoch: prepare the output dir
    val conf = DwrfUtil.sessionHadoopConf()
    val p = new Path(path)
    p.getFileSystem(conf).mkdirs(p)
    new DwrfStreamingDataWriterFactory(schema.json, path, options,
      new SerializableHadoopConf(conf), partCols)
  }

  // epoch visibility is files-on-disk (task commit); the streaming engine's
  // checkpoint, not a sink-side log, is the source of truth for replays.
  // On a SNAPSHOT table the epoch additionally appends to the manifest —
  // commitAppend dedupes already-referenced files, so a replayed epoch
  // (deterministic names) is a no-op, keeping the sink idempotent.
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    if (DwrfLog.isEnabled(root, conf)) {
      val written = messages.toSeq.flatMap {
        case DwrfCommitMessage(_, _, files) => files.map(new Path(_))
        case _ => Nil
      }
      if (written.nonEmpty)
        DwrfLog.commitAppend(root, conf, written, op = s"stream-epoch-$epochId")
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class DwrfStreamingDataWriterFactory(schemaJson: String, path: String,
    options: Map[String, String], hadoopConf: SerializableHadoopConf,
    partCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson).asInstanceOf[StructType]
    val conf = hadoopConf.value
    val userMeta: Map[String, Array[Byte]] = options.collect {
      case (k, v) if k.toLowerCase.startsWith("metadata.") =>
        k.substring("metadata.".length) -> v.getBytes("UTF-8")
    }
    // no taskId in the name: idempotent under replay/retry (scaladoc above).
    // 9-digit epoch pad: the source's equal-mtime tie-break is NAME order,
    // and 5 digits would sort epoch 100000 before 99999 on a long-lived
    // sink (one epoch/second ≈ 31 years before 9 digits widen).
    // Bytes stream into an invisible `.…inprogress` temp (no .dwrf suffix
    // — a reader tailing this dir never lists a half-written file) and
    // rename to the final name atomically at task commit.
    val fileName = f"part-e$epochId%09d-p$partitionId%05d.dwrf"
    val tempName = s".$fileName.inprogress"
    if (partCols.isEmpty)
      new DwrfFlatDataWriter(schema, new Path(path, tempName),
        options, userMeta, conf, renameTo = Some(new Path(path, fileName)))
    else
      new DwrfPartitionedDataWriter(schema, new Path(path), partCols, options,
        userMeta, conf, partitionId, taskId,
        fileName = Some(tempName), renameTo = Some(fileName))
  }
}

final class DwrfBatchWrite(schema: StructType, path: String,
    options: Map[String, String], mode: DwrfWriteMode,
    partCols: Seq[String] = Nil,
    bucketSpec: Option[(String, Int)] = None) extends BatchWrite {

  private def logged(conf: Configuration): Boolean =
    DwrfLog.isEnabled(new Path(path), conf)

  private def truncate: Boolean = mode == DwrfWriteMode.Truncate

  /** (relative spec col→raw value) of a data file under the table root. */
  private def specOf(root: Path, f: Path): Map[String, String] =
    PartitionLayout.specOf(root, f).toMap

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // runs on the driver before any task: prepare the output dir
    val conf = DwrfUtil.sessionHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val snapshots = logged(conf)
    // snapshot tables NEVER physically truncate or pre-delete: history
    // (and the log) must survive an INSERT OVERWRITE — the replacement
    // is the manifest commit below, and vacuum reclaims the bytes later
    if (truncate && !snapshots && fs.exists(p)) fs.delete(p, true)
    mode match {
      case DwrfWriteMode.OverwriteWhere(filters) if !snapshots =>
        // plain dirs have no atomic swap: delete the replaced
        // partitions' files up front, same non-atomic contract as the
        // plain-dir truncate above (log-enabled tables get atomicity)
        val qualified = DwrfUtil.qualify(p, conf)
        if (fs.exists(p)) DwrfUtil.listDataFiles(p, conf).foreach { f =>
          if (PartitionFilterMatch.matchesAll(specOf(qualified, f), filters))
            fs.delete(f, false)
        }
      case _ => ()
    }
    fs.mkdirs(p)
    // job-unique file prefix for every mode that retains pre-existing
    // files in the directory (snapshot tables, dynamic overwrite, AND
    // filtered overwrite — untouched-partition files survive all three):
    // a replayed (partitionId, taskId) pair from a different job must
    // not overwrite a retained file
    val prefix =
      if (snapshots || mode == DwrfWriteMode.DynamicOverwrite ||
          mode.isInstanceOf[DwrfWriteMode.OverwriteWhere])
        s"part-${java.util.UUID.randomUUID().toString.take(12)}-"
      else "part-"
    new DwrfDataWriterFactory(schema.json, path, options,
      new SerializableHadoopConf(conf), partCols, prefix, bucketSpec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    val written0 = messages.toSeq.flatMap {
      case DwrfCommitMessage(_, _, files) => files.map(new Path(_))
      case _ => Nil
    }
    if (logged(conf)) {
      val root = new Path(path)
      val written = written0
      val qualified = DwrfUtil.qualify(root, conf)
      mode match {
        case DwrfWriteMode.OverwriteWhere(filters) =>
          // replace the live files whose partition spec matches — the
          // scope PREDICATE goes into the commit so the removal set is
          // recomputed against the winning parent: a file appended
          // concurrently into the overwritten scope is replaced too,
          // never silently retained
          val writtenRel = written
            .map(f => DwrfUtil.qualify(f, conf).toString
              .stripPrefix(qualified.toString).stripPrefix("/")).toSet
          DwrfLog.commitOverwriteScope(root, conf,
            rel => !writtenRel.contains(rel) && PartitionFilterMatch.matchesAll(
              specOf(qualified, new Path(qualified, rel)), filters),
            written, op = "overwrite-where")
          writeSuccess(conf); return
        case DwrfWriteMode.DynamicOverwrite =>
          val touched: Set[Map[String, String]] =
            written.map(specOf(qualified, _)).toSet
          val writtenRel = written
            .map(f => DwrfUtil.qualify(f, conf).toString
              .stripPrefix(qualified.toString).stripPrefix("/")).toSet
          DwrfLog.commitOverwriteScope(root, conf,
            rel => !writtenRel.contains(rel) &&
              touched.contains(specOf(qualified, new Path(qualified, rel))),
            written, op = "overwrite-dynamic")
          writeSuccess(conf); return
        case _ => ()
      }
      val rewriteOf = org.apache.spark.sql.catalyst.util
        .CaseInsensitiveMap(options).get(DwrfLog.RewriteOfKey)
      (truncate, rewriteOf) match {
        case (true, Some(v)) =>
          // an optimize-style rewrite of base version v: replace exactly
          // that version's files — or the log.rewrite.files subset for a
          // partition-scoped optimize — so concurrent appends survive
          // and concurrent row-changing commits conflict (DwrfOptimize)
          val base = DwrfLog.read(root, conf, v.toLong)
          val qualified = DwrfUtil.qualify(root, conf)
          val scope: Option[Set[String]] = org.apache.spark.sql.catalyst.util
            .CaseInsensitiveMap(options).get(DwrfLog.RewriteFilesKey)
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
          scope.foreach { rel =>
            val unknown = rel -- base.files.toSet
            require(unknown.isEmpty,
              s"dwrf: ${DwrfLog.RewriteFilesKey} names files not in base " +
                s"version $v: ${unknown.take(3).mkString(", ")}")
          }
          val removed = scope match {
            case None => base.resolved(qualified)
            case Some(rel) => rel.toSeq.sorted.map(new Path(qualified, _))
          }
          // observedDvs = the base version's bindings for the replaced
          // files: the rewrite read (and applied) those masks, so a
          // concurrent re-DELETE of a replaced file conflicts instead of
          // being resurrected
          val observed = scope match {
            case None => base.dvs
            case Some(rel) => base.dvs.filter { case (f, _) => rel.contains(f) }
          }
          DwrfLog.commitReplace(root, conf, removed, written,
            op = "optimize", observedDvs = observed)
        case (true, None) => DwrfLog.commitTruncate(root, conf, written)
        case (false, _) => DwrfLog.commitAppend(root, conf, written)
      }
    } else if (mode == DwrfWriteMode.DynamicOverwrite) {
      // plain dir: the touched partitions only became known as tasks
      // wrote, so the replaced files go at commit — non-atomic like the
      // plain-dir truncate; log-enabled tables take the commitReplace
      // path above instead
      val root = new Path(path)
      val qualified = DwrfUtil.qualify(root, conf)
      val fs = root.getFileSystem(conf)
      val writtenSet = written0.map(DwrfUtil.qualify(_, conf).toString).toSet
      val touched: Set[Map[String, String]] =
        written0.map(f => specOf(qualified, DwrfUtil.qualify(f, conf))).toSet
      DwrfUtil.listDataFiles(root, conf).foreach { f =>
        if (!writtenSet.contains(DwrfUtil.qualify(f, conf).toString) &&
            touched.contains(specOf(qualified, DwrfUtil.qualify(f, conf))))
          fs.delete(f, false)
      }
    }
    writeSuccess(conf)
  }

  private def writeSuccess(conf: Configuration): Unit = {
    val p = new Path(path, "_SUCCESS")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class DwrfDataWriterFactory(schemaJson: String, path: String,
    options: Map[String, String], hadoopConf: SerializableHadoopConf,
    partCols: Seq[String] = Nil, filePrefix: String = "part-",
    bucketSpec: Option[(String, Int)] = None)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson).asInstanceOf[StructType]
    val conf = hadoopConf.value
    // `.option("metadata.KEY", v)` → user metadata in the file footer
    // (reference testMetaData surface, OrcFile user metadata)
    val userMeta: Map[String, Array[Byte]] = options.collect {
      case (k, v) if k.toLowerCase.startsWith("metadata.") =>
        k.substring("metadata.".length) -> v.getBytes("UTF-8")
    }
    val name = f"$filePrefix$partitionId%05d-$taskId.dwrf"
    bucketSpec match {
      case Some((col, n)) =>
        new DwrfBucketedDataWriter(schema, new Path(path), col, n, options,
          userMeta, conf, name.stripSuffix(".dwrf"))
      case None if partCols.isEmpty =>
        new DwrfFlatDataWriter(schema, new Path(path, name),
          options, userMeta, conf)
      case None =>
        new DwrfPartitionedDataWriter(schema, new Path(path), partCols,
          options, userMeta, conf, partitionId, taskId,
          fileName = Some(name))
    }
  }
}

/** Per-bucket writers within one task: the bucket id
  * ([[DwrfBucket.id]] of the bucket column) picks the open writer, and
  * each file's name carries its bucket (`<base>-b00003.dwrf`). The
  * bucket column stays an ordinary data column — nothing synthetic is
  * added or dropped. The write's clustered distribution keeps a
  * bucket's rows in few tasks, so the per-task writer map stays small.
  */
private[dwrf] final class DwrfBucketedDataWriter(schema: StructType, root: Path,
    bucketCol: String, numBuckets: Int, options: Map[String, String],
    userMeta: Map[String, Array[Byte]], conf: Configuration,
    baseName: String,
    // copy-on-write rewrites pass ".tmp": invisible temps whose names
    // still carry the bucket suffix, so the commit-time rename to
    // `*.dwrf` preserves the bucketed layout through DML
    ext: String = ".dwrf") extends DataWriter[InternalRow] {

  private val fs = root.getFileSystem(conf)
  private val bIdx = schema.fieldIndex(bucketCol)
  private val bType = schema.fields(bIdx).dataType
  private val compress0 = graft.format.WriteProfile.get.compressNanos
  private val blocks0 = graft.format.WriteProfile.get.compressCalls
  private val writers = scala.collection.mutable.LinkedHashMap.empty[
    Int, (DwrfFileWriter, java.io.OutputStream, Path)]
  // target-file-size roll (DwrfUtil.TargetFileBytesKey): when a bucket's
  // open file projects past the target (flushed bytes + buffered-stripe
  // estimate), it closes and the bucket's next row opens `<base>-rN-bX`.
  // This bounds every read SPLIT by data volume rather than key
  // population — the hot-bucket half of the skew story: the write
  // distribution's salt spreads a hot key across TASKS, the roll caps
  // what any one task's file can grow to, and the scan then hands the
  // storage-partitioned join same-key splits of ~equal size that
  // partially-clustered grouping can schedule as parallel tasks.
  private val targetFileBytes: Long =
    org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(options)
      .get(DwrfUtil.TargetFileBytesKey).map(_.toLong).getOrElse(Long.MaxValue)
  private val rollIdx = scala.collection.mutable.Map.empty[Int, Int]
  private val rolled = scala.collection.mutable.ArrayBuffer.empty[String]
  private var rolledRows = 0L
  // snapshotted metric totals of rolled-away files: the writer object
  // graphs (encoder trees, bloom accumulators) are released at roll —
  // only these four longs survive for currentMetricsValues
  private var rolledEncodeNanos = 0L
  private var rolledFlushNanos = 0L
  private var rolledBytes = 0L
  private var rolledStripes = 0L

  private def openFile(b: Int): (DwrfFileWriter, java.io.OutputStream, Path) = {
    val r = rollIdx.getOrElse(b, 0)
    val mid = if (r == 0) "" else s"-r$r"
    val file = new Path(root, baseName + mid + DwrfBucket.fileSuffix(b) + ext)
    val os = fs.create(file, true)
    (new DwrfFileWriter(schema, DwrfWriteOptions.fromMap(options),
      new java.io.BufferedOutputStream(os, 1 << 16)), os, file)
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    DwrfWriteMetrics.taskValues(writers.values.map(_._1), compress0, blocks0,
      rolledEncodeNanos, rolledFlushNanos, rolledBytes, rolledStripes)

  override def write(record: InternalRow): Unit = {
    val v = if (record.isNullAt(bIdx)) null else record.get(bIdx, bType)
    val b = DwrfBucket.id(v, numBuckets)
    val (w, os, file) = writers.getOrElseUpdate(b, openFile(b))
    w.addRow(record)
    if (w.bytesOut + w.bufferedMemory >= targetFileBytes) {
      w.close(userMeta)
      os.close()
      rolledRows += w.rowCount
      rolled += file.toString
      rolledEncodeNanos += w.encodeNanosEst
      rolledFlushNanos += w.flushNanos
      rolledBytes += w.bytesOut
      rolledStripes += w.stripesFlushed.toLong
      rollIdx(b) = rollIdx.getOrElse(b, 0) + 1
      writers.remove(b)
    }
  }

  override def commit(): WriterCommitMessage = {
    var rows = rolledRows
    val produced = scala.collection.mutable.ArrayBuffer.empty[String]
    produced ++= rolled
    writers.values.foreach { case (w, os, file) =>
      w.close(userMeta)
      os.close()
      rows += w.rowCount
      produced += file.toString
    }
    DwrfCommitMessage(root.toString, rows, produced.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, os, file) =>
      w.release() // governor registration must not outlive the task
      try os.close() catch { case _: Throwable => () }
      try fs.delete(file, false) catch { case _: Throwable => () }
    }
    rolled.foreach { f =>
      try fs.delete(new Path(f), false) catch { case _: Throwable => () }
    }
  }
  override def close(): Unit = ()
}

private final class DwrfFlatDataWriter(schema: StructType, file: Path,
    options: Map[String, String], userMeta: Map[String, Array[Byte]],
    conf: Configuration,
    // streaming sinks write to an invisible temp name (no .dwrf suffix, so
    // a concurrent reader tailing the dir never lists a half-written file)
    // and atomically rename to `renameTo` at task commit
    renameTo: Option[Path] = None) extends DataWriter[InternalRow] {
  private val fs = file.getFileSystem(conf)
  private val os = fs.create(file, true)
  private val writer = new DwrfFileWriter(schema,
    DwrfWriteOptions.fromMap(options), new java.io.BufferedOutputStream(os, 1 << 16))
  // compression-profiler baseline: this task thread may have written
  // other files before (task retry in the same executor thread)
  private val compress0 = graft.format.WriteProfile.get.compressNanos
  private val blocks0 = graft.format.WriteProfile.get.compressCalls

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    DwrfWriteMetrics.taskValues(Seq(writer), compress0, blocks0)

  override def write(record: InternalRow): Unit = writer.addRow(record)
  override def commit(): WriterCommitMessage = {
    writer.close(userMeta)
    os.close()
    val finalPath = renameTo match {
      case Some(dst) =>
        // replayed epochs keep the prior attempt's identical file — a
        // tailing reader must never observe a visible file going missing
        DwrfUtil.publishCommitted(file, dst, conf)
        dst
      case None => file
    }
    DwrfCommitMessage(finalPath.toString, writer.rowCount,
      Seq(finalPath.toString))
  }
  override def abort(): Unit = {
    writer.release() // governor registration must not outlive the task
    try os.close() catch { case _: Throwable => }
    try fs.delete(file, false) catch { case _: Throwable => }
  }
  override def close(): Unit = ()
}

/** Dynamic-partition writer: routes each row into `col=value/` subdirs,
  * one open file per distinct combination seen by this task, partition
  * columns dropped from the data files (Hive layout). Like Hive dynamic
  * partitions, memory is bounded by open-writer count — repartition by
  * the partition columns first so each task sees few values (the cap
  * exists to fail loud, not to make sprawl work).
  */
private final class DwrfPartitionedDataWriter(schema: StructType, root: Path,
    partCols: Seq[String], options: Map[String, String],
    userMeta: Map[String, Array[Byte]], conf: Configuration,
    partitionId: Int, taskId: Long,
    // streaming writes pass an epoch-deterministic name (idempotent replay)
    // plus the visible final name to rename to at commit (the temp name is
    // invisible to readers tailing the dir)
    fileName: Option[String] = None,
    renameTo: Option[String] = None) extends DataWriter[InternalRow] {

  private val maxOpenWriters = 256
  private val fs = root.getFileSystem(conf)
  private val compress0 = graft.format.WriteProfile.get.compressNanos
  private val blocks0 = graft.format.WriteProfile.get.compressCalls

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    DwrfWriteMetrics.taskValues(writers.values.map(_._1), compress0, blocks0)
  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] = schema.fields.indices
    .filterNot(partIdx.contains(_)).toArray
  private val dataSchema = StructType(dataIdx.map(schema.fields(_)))
  private val scratch = new Array[Any](dataIdx.length)
  private val scratchRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(scratch)
  private val writers = scala.collection.mutable.LinkedHashMap.empty[
    String, (DwrfFileWriter, java.io.OutputStream, Path)]
  // hot-path fast path: runs of identical partition values (the common
  // case after repartitioning by the partition columns) skip the
  // escape/mkString key rebuild and the map lookup entirely
  private var lastVals: Array[Any] = null
  private var lastWriter: DwrfFileWriter = null

  private def writerFor(record: InternalRow): DwrfFileWriter = {
    val vals = new Array[Any](partIdx.length)
    var j = 0
    while (j < partIdx.length) {
      vals(j) = if (record.isNullAt(partIdx(j))) null
        else record.get(partIdx(j), schema.fields(partIdx(j)).dataType)
      j += 1
    }
    if (lastVals != null && java.util.Arrays.equals(
        vals.asInstanceOf[Array[AnyRef]], lastVals.asInstanceOf[Array[AnyRef]]))
      return lastWriter
    val dirs = partCols.indices
      .map(i => PartitionLayout.dirName(partCols(i), vals(i),
        schema.fields(partIdx(i)).dataType)).mkString("/")
    val w = writers.getOrElseUpdate(dirs, {
      require(writers.size < maxOpenWriters,
        s"dwrf: task sees more than $maxOpenWriters distinct partition " +
          "values; repartition by the partition columns before writing")
      val dir = new Path(root, dirs)
      fs.mkdirs(dir)
      val file = new Path(dir,
        fileName.getOrElse(f"part-$partitionId%05d-$taskId.dwrf"))
      val os = fs.create(file, true)
      (new DwrfFileWriter(dataSchema, DwrfWriteOptions.fromMap(options),
        new java.io.BufferedOutputStream(os, 1 << 16)), os, file)
    })._1
    // UTF8String partition values can be backed by reused buffers: copy
    // before caching them for cross-row comparison
    lastVals = vals.map {
      case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
      case other => other
    }
    lastWriter = w
    w
  }

  override def write(record: InternalRow): Unit = {
    val w = writerFor(record)
    var j = 0
    while (j < dataIdx.length) {
      val ord = dataIdx(j)
      scratch(j) = if (record.isNullAt(ord)) null
        else record.get(ord, schema.fields(ord).dataType)
      j += 1
    }
    w.addRow(scratchRow)
  }

  override def commit(): WriterCommitMessage = {
    var rows = 0L
    val produced = scala.collection.mutable.ArrayBuffer.empty[String]
    writers.values.foreach { case (w, os, file) =>
      w.close(userMeta)
      os.close()
      rows += w.rowCount
      val finalPath = renameTo match {
        case Some(finalName) =>
          // replay keeps the prior attempt's file: no visibility gap, ever
          val dst = new Path(file.getParent, finalName)
          DwrfUtil.publishCommitted(file, dst, conf)
          dst
        case None => file
      }
      produced += finalPath.toString
    }
    DwrfCommitMessage(root.toString, rows, produced.toSeq)
  }

  override def abort(): Unit = writers.values.foreach { case (w, os, file) =>
    w.release() // governor registration must not outlive the task
    try os.close() catch { case _: Throwable => }
    try fs.delete(file, false) catch { case _: Throwable => }
  }

  override def close(): Unit = ()
}

final case class DwrfCommitMessage(path: String, rows: Long,
    files: Seq[String] = Nil)
    extends WriterCommitMessage
