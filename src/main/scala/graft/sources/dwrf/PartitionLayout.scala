package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.format.ColumnStats

/** Hive-style partitioned directory layout (`col=value/` path segments),
  * matching how the reference's OrcOutputFormat files lived under Hive
  * partitions. Write side: `df.write.format("dwrf").partitionBy(cols)`
  * routes rows into per-value subdirectories with the partition columns
  * dropped from the data files. Read side: discovery parses the segments
  * back into columns, and each partition value is surfaced to the
  * existing stats pruner as a min=max ColumnStats — so static filters
  * AND runtime join-key filters prune whole partitions through exactly
  * the same code path as footer stats (dynamic partition pruning for
  * free, no parallel machinery).
  */
object PartitionLayout {

  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** Hive's spelling for a null partition value. */
  val NullSentinel: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** Types a partition column may have: value→path→value must round-trip
    * through a plain string. Dates print as ISO `yyyy-MM-dd` (Hive's
    * spelling — `dt=2026-08-12` layouts). Timestamps stay excluded: their
    * Hive path spelling is lossy below seconds and zone-ambiguous.
    */
  def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType => true
    case _ => false
  }

  /** Spark's own Hive-path escaping (ExternalCatalogUtils), so layouts
    * written here are byte-identical to Hive/Spark writers for the same
    * values, and foreign '%' sequences that aren't valid escapes are
    * left verbatim instead of throwing. */
  def escape(s: String): String = ExternalCatalogUtils.escapePathName(s)

  def unescape(s: String): String = ExternalCatalogUtils.unescapePathName(s)

  /** One `col=value` path segment from a partition column's row value
    * (Catalyst internal representation; dates arrive as epoch-day ints
    * and print ISO). */
  def dirName(col: String, v: Any, dt: DataType): String = {
    val printed =
      if (v == null) NullSentinel
      else dt match {
        case DateType =>
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
        case _ => escape(v.toString)
      }
    escape(col) + "=" + printed
  }

  /** The `(col, rawValue)` pairs encoded in the directories between
    * `root` and `file`, outermost first; values unescaped but with the
    * null sentinel preserved. Empty for unpartitioned layouts.
    *
    * `root` must be filesystem-qualified (DwrfUtil.qualify) — listed file
    * paths are, and a relative load path would otherwise never prefix-
    * match and silently lose every partition column.
    */
  def specOf(root: Path, file: Path): Seq[(String, String)] = {
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val filePath = file.toUri.getPath
    if (!filePath.startsWith(rootPath + "/")) return Nil
    val rel = filePath.substring(rootPath.length + 1)
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq <= 0) None
      else {
        val raw = seg.substring(eq + 1)
        Some(unescape(seg.substring(0, eq)) ->
          (if (raw == NullSentinel) NullSentinel else unescape(raw)))
      }
    }
  }

  /** Narrowest type all raw values of a partition column parse as —
    * long, double, boolean, date (when `inferDate`), else string (nulls
    * don't vote). The regex accepts signed / 5+-digit years because
    * that is what `dirName` prints for dates outside 0000-9999
    * (LocalDate.toString emits '+10000-01-01' / '-0001-01-01'), keeping
    * write and infer symmetric across the whole epoch-day range.
    *
    * Date inference is gated by the read option
    * `partition.typeInference.date` (default true — mirroring
    * spark.sql.sources.partitionColumnTypeInference.enabled): layouts
    * whose STRING partition values merely look like yyyy-MM-dd can opt
    * out instead of silently changing read schema.
    */
  private val IsoDate = """[-+]?\d{4,10}-\d{2}-\d{2}""".r

  def inferType(values: Iterable[String], inferDate: Boolean = true): DataType = {
    val vs = values.filter(_ != NullSentinel)
    def all(p: String => Boolean) = vs.nonEmpty && vs.forall(p)
    if (all(v => v.nonEmpty && scala.util.Try(v.toLong).isSuccess)) LongType
    else if (all(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
    else if (all(v => v == "true" || v == "false")) BooleanType
    else if (inferDate && all(v => IsoDate.matches(v) &&
      scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) DateType
    else StringType
  }

  /** Raw path value → Catalyst internal value of the table's type.
    * Parse failures name the value and type instead of surfacing a bare
    * NumberFormatException from deep inside an executor.
    */
  def catalystValue(raw: String, dt: DataType): Any =
    if (raw == NullSentinel) null
    else try dt match {
      case StringType => UTF8String.fromString(raw)
      case ByteType => java.lang.Byte.valueOf(raw)
      case ShortType => java.lang.Short.valueOf(raw)
      case IntegerType => java.lang.Integer.valueOf(raw)
      case LongType => java.lang.Long.valueOf(raw)
      case FloatType => java.lang.Float.valueOf(raw)
      case DoubleType => java.lang.Double.valueOf(raw)
      case BooleanType => java.lang.Boolean.valueOf(raw)
      case DateType =>
        java.lang.Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
      // not a directory-layout type: carries the change-feed commit
      // timestamp constant (raw = epoch micros, the catalyst repr)
      case TimestampType => java.lang.Long.valueOf(raw)
      case other =>
        throw new IllegalArgumentException(
          s"dwrf: unsupported partition column type ${other.simpleString}")
    } catch {
      case _: NumberFormatException | _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"dwrf: partition directory value '$raw' does not parse as " +
            s"${dt.simpleString}; fix the layout or read with a string-typed " +
            "partition column")
    }

  /** A partition value as min=max column stats over `numRows` rows, so
    * the regular stats pruner skips whole partitions. None when the raw
    * directory value doesn't parse as the table's type (a foreign dir in
    * a user-supplied-schema read): no stats = no pruning, never an error
    * during planning.
    */
  def asStats(raw: String, dt: DataType, numRows: Long): Option[ColumnStats] =
    if (raw == NullSentinel) Some(ColumnStats(count = 0, hasNull = true))
    else scala.util.Try(dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val v = raw.toLong
        ColumnStats(count = numRows, hasNull = false, longMin = v, longMax = v)
      case FloatType | DoubleType =>
        val v = raw.toDouble
        ColumnStats(count = numRows, hasNull = false, doubleMin = v, doubleMax = v)
      case StringType =>
        ColumnStats(count = numRows, hasNull = false, stringMin = raw, stringMax = raw)
      case BooleanType =>
        val t = if (raw == "true") numRows else 0L
        ColumnStats(count = numRows, hasNull = false, trueCount = t)
      case DateType =>
        // epoch days in the long window — the same shape DateVectorDecoder
        // columns use, so date filters prune through StatsFilter.toDays
        val v = java.time.LocalDate.parse(raw).toEpochDay
        ColumnStats(count = numRows, hasNull = false, longMin = v, longMax = v)
      case _ => ColumnStats(count = numRows, hasNull = false)
    }).toOption
}

/** Columnar-side constant filler for a partition column: every slot in
  * the batch gets the same (typed) value. */
final class ConstantVectorDecoder(value: Any, dt: DataType)
    extends VectorDecoder(-1) {
  override protected def startValues(src: StreamSource): Unit = ()
  override protected def seekValues(e: graft.format.RowIndexEntry): Unit = ()
  override protected def put(
      v: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector,
      i: Int): Unit =
    if (value == null) v.putNull(i)
    else dt match {
      case ByteType => v.putByte(i, value.asInstanceOf[Byte])
      case ShortType => v.putShort(i, value.asInstanceOf[Short])
      case IntegerType | DateType => v.putInt(i, value.asInstanceOf[Int])
      case LongType | TimestampType => v.putLong(i, value.asInstanceOf[Long])
      case FloatType => v.putFloat(i, value.asInstanceOf[Float])
      case DoubleType => v.putDouble(i, value.asInstanceOf[Double])
      case BooleanType => v.putBoolean(i, value.asInstanceOf[Boolean])
      case StringType =>
        val b = value.asInstanceOf[UTF8String].getBytes
        v.putByteArray(i, b, 0, b.length)
      case other =>
        throw new IllegalArgumentException(
          s"dwrf: unsupported partition column type ${other.simpleString}")
    }
}
