package graft.sources.dwrf

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.format._

/** The dwrf read path: decodes stripes straight into Spark
  * `OnHeapColumnVector`s in 4096-row batches, bypassing per-row boxing
  * entirely. EVERY type vectorizes (atomics, structs, arrays, maps,
  * recursively), with or without pushed filters; filtered scans seek the
  * decoders past the stride runs stats skipping refutes. The reference is
  * row-at-a-time everywhere (SURVEY §4 "vectorization: none"). Every
  * scan, point read and tool decodes through these vectors: row readers
  * ([[DwrfFileReader.rows]]) are an adapter over the batches.
  *
  * A `VectorDecoder` fills one column's vectors from a stripe's streams.
  */
abstract class VectorDecoder(val columnId: Int) {
  protected var present: BitFieldReader = null

  def start(src: StreamSource): Unit = {
    present = src.stream(columnId, StreamKind.Present)
      .map(new BitFieldReader(_)).orNull
    startValues(src)
  }

  protected def startValues(src: StreamSource): Unit

  /** Seek this subtree to a row-index stride, so batches decode only
    * the strides that survive stats skipping.
    */
  final def seekStride(entries: Map[Int, RowIndexEntry]): Unit = {
    entries.get(columnId).foreach { e =>
      if (present != null)
        e.positions.get(StreamKind.Present)
          .foreach(p => present.seek(new ArrayPositionProvider(p)))
      seekValues(e)
    }
    decoderChildren.foreach(_.seekStride(entries))
  }

  protected def seekValues(e: RowIndexEntry): Unit

  /** Nested decoders a seek/start must recurse into. */
  def decoderChildren: Seq[VectorDecoder] = Nil

  /** Reset per-batch bookkeeping (collection element counters). */
  protected def beginBatch(): Unit = ()

  private final def beginBatchTree(): Unit = {
    beginBatch()
    decoderChildren.foreach(_.beginBatchTree())
  }

  /** Decode one value into slot i, consuming this column's PRESENT bit. */
  final def putOne(v: OnHeapColumnVector, i: Int): Unit =
    if (present == null || present.next()) put(v, i) else v.putNull(i)

  /** The lazy dictionary `prepare` attached to this batch's output
    * vector (null when values were materialized). */
  def attachedDictionary: ByteArrayDictionary = null

  /** Batch hook for decoders that can attach a lazy dictionary to the
    * OUTPUT vector (`fill` roots only — nested children decode through
    * `putOne` and keep the materializing path). */
  protected def prepare(v: OnHeapColumnVector, n: Int): Unit = ()

  /** Bulk decode rows [0, n) when the column has no PRESENT stream this
    * stripe (null-free — the suppressed-stream common case): decoders
    * override to turn n per-value calls into per-run array ops. Return
    * false to fall back to the per-row loop.
    */
  protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = false

  /** Nullable twin: decoders that also bulk-decode under a PRESENT
    * stream override this — decodePresent() + a gather/scatter pass. */
  protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = false

  /** Bulk-decode n PRESENT bits into `presentScratch`, null the absent
    * slots on v, and return the non-null count (= how many values the
    * value streams actually hold for this batch). */
  protected var presentScratch: Array[Boolean] = null
  protected final def decodePresent(v: OnHeapColumnVector, n: Int): Int = {
    if (presentScratch == null || presentScratch.length < n)
      presentScratch = new Array[Boolean](n)
    present.nextBits(presentScratch, 0, n)
    var c = 0
    var i = 0
    while (i < n) {
      if (presentScratch(i)) c += 1 else v.putNull(i)
      i += 1
    }
    c
  }

  final def fill(v: OnHeapColumnVector, n: Int): Unit = {
    beginBatchTree()
    prepare(v, n)
    if (present == null) { if (fillBulk(v, n)) return }
    else if (fillBulkNullable(v, n)) return
    var i = 0
    while (i < n) { putOne(v, i); i += 1 }
  }

  /** `fill` minus the batch reset and the root-only `prepare`: used by
    * collection/struct parents to bulk-decode a child's next `n` values
    * into slots [0, n) of the child vector. The parent's `fill` already
    * reset the whole decoder tree, and `prepare`'s lazy-dictionary
    * attachment is root-only (nested children keep the materializing
    * path), so neither may run again here.
    */
  private[dwrf] final def fillChild(v: OnHeapColumnVector, n: Int): Unit = {
    if (present == null) { if (fillBulk(v, n)) return }
    else if (fillBulkNullable(v, n)) return
    var i = 0
    while (i < n) { putOne(v, i); i += 1 }
  }

  protected def put(v: OnHeapColumnVector, i: Int): Unit
}

object VectorDecoder {
  /** A decoder of column `columnId`, written as `fileType`, into vectors
    * of `readType`: the same type or, for a file of an older generation,
    * a widening of it ([[TypeWidening.widen]]). Values decode by the
    * file's type and store by the read type, at any nesting depth; any
    * other pair fails here, before a row is decoded.
    */
  def create(columnId: Int, fileType: DataType, readType: DataType): VectorDecoder =
    (fileType, readType) match {
      case (s: StructType, r: StructType) if s.length == r.length =>
        new StructVectorDecoder(columnId, s, r)
      case (a: ArrayType, r: ArrayType) => new ListVectorDecoder(columnId, a, r)
      case (m: MapType, r: MapType) => new MapVectorDecoder(columnId, m, r)
      case _ if fileType == readType ||
          TypeWidening.widen(fileType, readType).contains(readType) =>
        fileType match {
          case BooleanType => new BoolVectorDecoder(columnId)
          case ByteType => new ByteVectorDecoder(columnId, readType)
          case ShortType | IntegerType | LongType => new LongVectorDecoder(columnId, readType)
          // short decimals decode through the long kernels; the vector stores
          // unscaled ints (p <= 9) or longs, Spark's own decimal vector layout
          case d: DecimalType if d.precision <= 18 => new LongVectorDecoder(columnId, d)
          case DateType => new DateVectorDecoder(columnId)
          case FloatType => new FloatVectorDecoder(columnId, readType)
          case DoubleType => new DoubleVectorDecoder(columnId)
          case StringType => new StringVectorDecoder(columnId)
          case BinaryType => new BinaryVectorDecoder(columnId)
          case TimestampType | TimestampNTZType => new TimestampVectorDecoder(columnId)
          case other =>
            throw new UnsupportedOperationException(s"dwrf: unsupported type $other")
        }
      case _ => throw new IllegalArgumentException(
        s"dwrf: cannot read ${fileType.simpleString} as ${readType.simpleString}")
    }
}

private[dwrf] object VectorUtil {
  /** Reserve row capacity on a vector AND its struct children (a plain
    * reserve does not cascade; struct children share row ids). */
  def reserveRows(v: OnHeapColumnVector, cap: Int): Unit = {
    v.reserve(cap)
    v.dataType() match {
      case s: StructType =>
        var j = 0
        while (j < s.fields.length) {
          reserveRows(v.getChild(j).asInstanceOf[OnHeapColumnVector], cap)
          j += 1
        }
      case _ => ()
    }
  }

  // value layouts of a vector row, for compact
  private final val MBool = 0
  private final val MByte = 1
  private final val MShort = 2
  private final val MInt = 3
  private final val MLong = 4
  private final val MFloat = 5
  private final val MDouble = 6
  /** Offset and length into child data: strings, binary, arrays, maps. */
  private final val MArray = 7
  /** No value of its own: struct rows live in the children. */
  private final val MNone = 8

  private def layout(dt: DataType): Int = dt match {
    case BooleanType => MBool
    case ByteType => MByte
    case ShortType => MShort
    case IntegerType | DateType => MInt
    case d: DecimalType
        if d.precision <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS => MInt
    case FloatType => MFloat
    case DoubleType => MDouble
    case StringType | BinaryType | _: ArrayType | _: MapType => MArray
    case _: StructType => MNone
    case _ => MLong // long, timestamps, decimals up to 18 digits
  }

  /** Moves rows `sel(0 until k)` (strictly ascending) to slots [0, k) of
    * `v`, in place: a filtered batch stays in the decoder's own vectors.
    * Only row-level state moves — nulls, values, dictionary ids, and the
    * offset/length of variable-width rows (their bytes and elements stay
    * where they are) — and struct children move with their parent. A
    * moved-over null leaves `numNulls` an overcount, which keeps
    * `hasNull` conservative; readers test `isNullAt`.
    */
  def compact(v: OnHeapColumnVector, sel: Array[Int], k: Int): Unit = {
    val dt = v.dataType
    val nulls = v.hasNull
    val ids = if (v.hasDictionary) v.getDictionaryIds else null
    val m = if (ids != null) MNone else layout(dt)
    var j = 0
    while (j < k && sel(j) == j) j += 1 // rows already in place
    while (j < k) {
      val s = sel(j)
      if (nulls && v.isNullAt(s)) v.putNull(j)
      else {
        if (nulls) v.putNotNull(j)
        if (ids != null) ids.putInt(j, ids.getInt(s))
        (m: @scala.annotation.switch) match {
          case MBool => v.putBoolean(j, v.getBoolean(s))
          case MByte => v.putByte(j, v.getByte(s))
          case MShort => v.putShort(j, v.getShort(s))
          case MInt => v.putInt(j, v.getInt(s))
          case MLong => v.putLong(j, v.getLong(s))
          case MFloat => v.putFloat(j, v.getFloat(s))
          case MDouble => v.putDouble(j, v.getDouble(s))
          case MArray => v.putArray(j, v.getArrayOffset(s), v.getArrayLength(s))
          case _ => ()
        }
      }
      j += 1
    }
    dt match {
      case st: StructType =>
        var c = 0
        while (c < st.length) {
          compact(v.getChild(c).asInstanceOf[OnHeapColumnVector], sel, k)
          c += 1
        }
      case _ => ()
    }
  }
}

/** Array: LENGTH stream + element child decoded into the vector's child
  * column with running batch-local offsets (putArray bookkeeping). A null
  * array row consumes no length and no elements, matching the writer.
  */
final class ListVectorDecoder(c: Int, at: ArrayType, readType: ArrayType)
    extends VectorDecoder(c) {
  private var lengths: RunLengthIntegerReader = null
  private val elem = VectorDecoder.create(c + 1, at.elementType, readType.elementType)
  private var elemCount = 0

  override def decoderChildren: Seq[VectorDecoder] = Seq(elem)
  override protected def beginBatch(): Unit = elemCount = 0

  override protected def startValues(src: StreamSource): Unit = {
    lengths = src.stream(c, StreamKind.Length)
      .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
    elem.start(src)
  }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    val n = lengths.next().toInt
    val child = v.getChild(0).asInstanceOf[OnHeapColumnVector]
    VectorUtil.reserveRows(child, elemCount + n)
    var j = 0
    while (j < n) { elem.putOne(child, elemCount + j); j += 1 }
    v.putArray(i, elemCount, n)
    elemCount += n
  }

  private var lenScratch: Array[Long] = null

  /** Bulk: one `nextLongs` over the LENGTH stream, one recursive
    * `fillChild` for ALL of the batch's elements (the element decoder's
    * own bulk kernel then runs over the whole element run), then offsets
    * from the prefix sum — no per-row virtual calls on the offsets path.
    */
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (lengths == null) return false
    if (lenScratch == null || lenScratch.length < n) lenScratch = new Array[Long](n)
    lengths.nextLongs(lenScratch, 0, n)
    fillFromLengths(v, n, n)
    true
  }

  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (lengths == null) return false
    val c = decodePresent(v, n)
    if (lenScratch == null || lenScratch.length < c) lenScratch = new Array[Long](c)
    lengths.nextLongs(lenScratch, 0, c)
    fillFromLengths(v, n, c)
    true
  }

  /** Decode `c` length-prefixed arrays (already in lenScratch) and scatter
    * them over `n` row slots (null rows — flagged in presentScratch when
    * c < n — consume no length and no elements, matching the writer). */
  private def fillFromLengths(v: OnHeapColumnVector, n: Int, c: Int): Unit = {
    var total = 0L
    var i = 0
    while (i < c) { total += lenScratch(i); i += 1 }
    // child vectors are Int-indexed, so >2^31 elements per batch is
    // unrepresentable on ANY path — fail loudly, not by overflow
    require(total <= Int.MaxValue, s"dwrf: $total array elements in one batch")
    val t = total.toInt
    val child = v.getChild(0).asInstanceOf[OnHeapColumnVector]
    VectorUtil.reserveRows(child, t)
    elem.fillChild(child, t)
    var off = 0
    var j = 0
    i = 0
    while (i < n) {
      if (c == n || presentScratch(i)) {
        val len = lenScratch(j).toInt
        v.putArray(i, off, len)
        off += len
        j += 1
      }
      i += 1
    }
    elemCount = t
  }

  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Length).foreach(p => lengths.seek(new ArrayPositionProvider(p)))
}

/** Map: LENGTH stream + key/value children sharing the array offsets. */
final class MapVectorDecoder(c: Int, mt: MapType, readType: MapType)
    extends VectorDecoder(c) {
  private var lengths: RunLengthIntegerReader = null
  private val key = VectorDecoder.create(c + 1, mt.keyType, readType.keyType)
  private val value = VectorDecoder.create(
    c + 1 + ColumnTree.subtreeSize(mt.keyType), mt.valueType, readType.valueType)
  private var entryCount = 0

  override def decoderChildren: Seq[VectorDecoder] = Seq(key, value)
  override protected def beginBatch(): Unit = entryCount = 0

  override protected def startValues(src: StreamSource): Unit = {
    lengths = src.stream(c, StreamKind.Length)
      .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
    key.start(src)
    value.start(src)
  }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    val n = lengths.next().toInt
    val keys = v.getChild(0).asInstanceOf[OnHeapColumnVector]
    val values = v.getChild(1).asInstanceOf[OnHeapColumnVector]
    VectorUtil.reserveRows(keys, entryCount + n)
    VectorUtil.reserveRows(values, entryCount + n)
    var j = 0
    while (j < n) {
      key.putOne(keys, entryCount + j)
      value.putOne(values, entryCount + j)
      j += 1
    }
    v.putArray(i, entryCount, n)
    entryCount += n
  }

  private var lenScratch: Array[Long] = null

  /** Same bulk shape as [[ListVectorDecoder]]: batch the LENGTH stream,
    * bulk-fill the key and value runs once each, offsets from the prefix
    * sum. Key and value streams are independent, so each child run
    * decodes contiguously.
    */
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (lengths == null) return false
    if (lenScratch == null || lenScratch.length < n) lenScratch = new Array[Long](n)
    lengths.nextLongs(lenScratch, 0, n)
    fillFromLengths(v, n, n)
    true
  }

  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (lengths == null) return false
    val c = decodePresent(v, n)
    if (lenScratch == null || lenScratch.length < c) lenScratch = new Array[Long](c)
    lengths.nextLongs(lenScratch, 0, c)
    fillFromLengths(v, n, c)
    true
  }

  private def fillFromLengths(v: OnHeapColumnVector, n: Int, c: Int): Unit = {
    var total = 0L
    var i = 0
    while (i < c) { total += lenScratch(i); i += 1 }
    require(total <= Int.MaxValue, s"dwrf: $total map entries in one batch")
    val t = total.toInt
    val keys = v.getChild(0).asInstanceOf[OnHeapColumnVector]
    val values = v.getChild(1).asInstanceOf[OnHeapColumnVector]
    VectorUtil.reserveRows(keys, t)
    VectorUtil.reserveRows(values, t)
    key.fillChild(keys, t)
    value.fillChild(values, t)
    var off = 0
    var j = 0
    i = 0
    while (i < n) {
      if (c == n || presentScratch(i)) {
        val len = lenScratch(j).toInt
        v.putArray(i, off, len)
        off += len
        j += 1
      }
      i += 1
    }
    entryCount = t
  }

  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Length).foreach(p => lengths.seek(new ArrayPositionProvider(p)))
}

/** Schema evolution: a column requested but absent from this file fills
  * with nulls (columnId -1 matches no streams).
  */
final class NullVectorDecoder extends VectorDecoder(-1) {
  override protected def startValues(src: StreamSource): Unit = ()
  override protected def put(v: OnHeapColumnVector, i: Int): Unit = v.putNull(i)
  override protected def seekValues(e: RowIndexEntry): Unit = ()
}

/** Struct: no value streams of its own — children decode into the
  * vector's child columns. A null struct row consumes no child values
  * (matching the writers, which only write children of non-null parents).
  */
final class StructVectorDecoder(c: Int, st: StructType, readType: StructType)
    extends VectorDecoder(c) {
  private val children: Array[VectorDecoder] = {
    var id = c + 1
    st.fields.zip(readType.fields).map { case (f, r) =>
      val d = VectorDecoder.create(id, f.dataType, r.dataType)
      id += ColumnTree.subtreeSize(f.dataType)
      d
    }
  }

  override def decoderChildren: Seq[VectorDecoder] = children.toSeq

  override protected def startValues(src: StreamSource): Unit =
    children.foreach(_.start(src))

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    var j = 0
    while (j < children.length) {
      children(j).putOne(v.getChild(j).asInstanceOf[OnHeapColumnVector], i)
      j += 1
    }
  }

  /** Null-free struct: each child's n values are exactly the batch's n
    * rows in order, so every child bulk-fills its own column directly.
    * A NULLABLE struct stays on the per-row path: null parents consume
    * no child values, so child value k lands at the k-th non-null row —
    * a parent-hole scatter the child kernels don't model.
    */
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    var j = 0
    while (j < children.length) {
      children(j).fillChild(v.getChild(j).asInstanceOf[OnHeapColumnVector], n)
      j += 1
    }
    true
  }

  override protected def seekValues(e: RowIndexEntry): Unit = ()
}

final class BoolVectorDecoder(c: Int) extends VectorDecoder(c) {
  private var data: BitFieldReader = null
  private var scratch: Array[Boolean] = null
  override protected def startValues(src: StreamSource): Unit =
    data = src.stream(c, StreamKind.Data).map(new BitFieldReader(_)).orNull
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    v.putBoolean(i, data.next())
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    if (scratch == null || scratch.length < n) scratch = new Array[Boolean](n)
    data.nextBits(scratch, 0, n)
    var i = 0
    while (i < n) { v.putBoolean(i, scratch(i)); i += 1 }
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    if (scratch == null || scratch.length < c) scratch = new Array[Boolean](c)
    data.nextBits(scratch, 0, c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { v.putBoolean(i, scratch(j)); j += 1 }
      i += 1
    }
    true
  }
  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

/** Bytes, stored by the read type: a byte, or a short, int or long for
  * a column a later file generation widened. */
final class ByteVectorDecoder(c: Int, readType: DataType) extends VectorDecoder(c) {
  private var data: RunLengthByteReader = null
  private var scratch: Array[Byte] = null
  private val putter: (OnHeapColumnVector, Int, Byte) => Unit = readType match {
    case ByteType => (v, i, x) => v.putByte(i, x)
    case ShortType => (v, i, x) => v.putShort(i, x)
    case IntegerType => (v, i, x) => v.putInt(i, x)
    case _ => (v, i, x) => v.putLong(i, x)
  }
  override protected def startValues(src: StreamSource): Unit =
    data = src.stream(c, StreamKind.Data).map(new RunLengthByteReader(_)).orNull
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    putter(v, i, data.next())
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    if (scratch == null || scratch.length < n) scratch = new Array[Byte](n)
    data.nextBytes(scratch, 0, n)
    if (readType == ByteType) v.putBytes(0, n, scratch, 0)
    else {
      var i = 0
      while (i < n) { putter(v, i, scratch(i)); i += 1 }
    }
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    if (scratch == null || scratch.length < c) scratch = new Array[Byte](c)
    data.nextBytes(scratch, 0, c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { putter(v, i, scratch(j)); j += 1 }
      i += 1
    }
    true
  }
  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

final class LongVectorDecoder(c: Int, dt: DataType) extends VectorDecoder(c) {
  private var data: RunLengthIntegerReader = null
  private var dict: Array[Long] = null

  override protected def startValues(src: StreamSource): Unit = {
    val enc = src.encoding(c)
    if (enc.dictionary) {
      val dr = src.stream(c, StreamKind.DictionaryData)
        .map(new RunLengthIntegerReader(_, signed = true, src.useVInts)).get
      dict = Array.fill(enc.dictionarySize)(dr.next())
      data = src.stream(c, StreamKind.Data)
        .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
    } else {
      dict = null
      data = src.stream(c, StreamKind.Data)
        .map(new RunLengthIntegerReader(_, signed = true, src.useVInts)).orNull
    }
  }

  // decimals of precision <= MAX_INT_DIGITS live in int vectors — this
  // must mirror WritableColumnVector's storage choice or reads misalign
  private val asInt: Boolean = dt match {
    case ShortType | IntegerType => true
    case d: DecimalType =>
      d.precision <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS
    case _ => false
  }
  private val putter: (OnHeapColumnVector, Int, Long) => Unit = dt match {
    case ShortType => (v, i, x) => v.putShort(i, x.toShort)
    case _ if asInt => (v, i, x) => v.putInt(i, x.toInt)
    case _ => (v, i, x) => v.putLong(i, x)
  }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    val raw = data.next()
    putter(v, i, if (dict != null) dict(raw.toInt) else raw)
  }

  private var scratch: Array[Long] = null

  private def decodeValues(n: Int): Unit = {
    if (scratch == null || scratch.length < n) scratch = new Array[Long](n)
    data.nextLongs(scratch, 0, n)
    if (dict != null) {
      var i = 0
      while (i < n) { scratch(i) = dict(scratch(i).toInt); i += 1 }
    }
  }

  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    decodeValues(n)
    dt match {
      case ShortType =>
        var i = 0
        while (i < n) { v.putShort(i, scratch(i).toShort); i += 1 }
      case _ if asInt =>
        var i = 0
        while (i < n) { v.putInt(i, scratch(i).toInt); i += 1 }
      case _ => v.putLongs(0, n, scratch, 0)
    }
    true
  }

  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    decodeValues(c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { putter(v, i, scratch(j)); j += 1 }
      i += 1
    }
    true
  }

  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

final class DateVectorDecoder(c: Int) extends VectorDecoder(c) {
  private var data: RunLengthIntegerReader = null
  private var scratch: Array[Long] = null
  override protected def startValues(src: StreamSource): Unit =
    data = src.stream(c, StreamKind.Data)
      .map(new RunLengthIntegerReader(_, signed = true, src.useVInts)).orNull
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    v.putInt(i, data.next().toInt)
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    if (scratch == null || scratch.length < n) scratch = new Array[Long](n)
    data.nextLongs(scratch, 0, n)
    var i = 0
    while (i < n) { v.putInt(i, scratch(i).toInt); i += 1 }
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    if (scratch == null || scratch.length < c) scratch = new Array[Long](c)
    data.nextLongs(scratch, 0, c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { v.putInt(i, scratch(j).toInt); j += 1 }
      i += 1
    }
    true
  }
  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

private[dwrf] object BulkBytes {
  /** Fill dst[0, len) from the stream (InStream.read is segment-bounded). */
  def readFully(data: InStream, dst: Array[Byte], len: Int): Unit = {
    var got = 0
    while (got < len) {
      val n = data.read(dst, got, len - got)
      if (n < 0) throw new java.io.EOFException("EOF in value stream")
      got += n
    }
  }
}

/** Floats, stored as floats, or as doubles for a column a later file
  * generation widened. */
final class FloatVectorDecoder(c: Int, readType: DataType) extends VectorDecoder(c) {
  private val asDouble = readType == DoubleType
  private var data: InStream = null
  private var scratch: Array[Byte] = null
  override protected def startValues(src: StreamSource): Unit =
    data = src.stream(c, StreamKind.Data).orNull
  private def putValue(v: OnHeapColumnVector, i: Int, x: Float): Unit =
    if (asDouble) v.putDouble(i, x) else v.putFloat(i, x)
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    putValue(v, i, Serialization.readFloat(data))
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    if (scratch == null || scratch.length < n * 4) scratch = new Array[Byte](n * 4)
    BulkBytes.readFully(data, scratch, n * 4)
    if (!asDouble) v.putFloats(0, n, scratch, 0) // wire is IEEE-LE, exactly putFloats' layout
    else {
      val bb = java.nio.ByteBuffer.wrap(scratch).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) { v.putDouble(i, bb.getFloat(i * 4)); i += 1 }
    }
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    if (scratch == null || scratch.length < c * 4) scratch = new Array[Byte](c * 4)
    BulkBytes.readFully(data, scratch, c * 4)
    val bb = java.nio.ByteBuffer.wrap(scratch).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { putValue(v, i, bb.getFloat(j * 4)); j += 1 }
      i += 1
    }
    true
  }
  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

final class DoubleVectorDecoder(c: Int) extends VectorDecoder(c) {
  private var data: InStream = null
  private var scratch: Array[Byte] = null
  override protected def startValues(src: StreamSource): Unit =
    data = src.stream(c, StreamKind.Data).orNull
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    v.putDouble(i, Serialization.readDouble(data))
  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    if (scratch == null || scratch.length < n * 8) scratch = new Array[Byte](n * 8)
    BulkBytes.readFully(data, scratch, n * 8)
    v.putDoubles(0, n, scratch, 0) // wire is IEEE-LE, exactly putDoubles' layout
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (data == null) return false
    val c = decodePresent(v, n)
    if (scratch == null || scratch.length < c * 8) scratch = new Array[Byte](c * 8)
    BulkBytes.readFully(data, scratch, c * 8)
    val bb = java.nio.ByteBuffer.wrap(scratch).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { v.putDouble(i, bb.getDouble(j * 8)); j += 1 }
      i += 1
    }
    true
  }
  override protected def seekValues(e: RowIndexEntry): Unit =
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
}

/** Dictionary-encoded string columns ship 4-byte ids into the batch and
  * decode lazily at access time (`OnHeapColumnVector.setDictionary`) —
  * the columnar analog of the reference's lazy dictionary string reads
  * (LazyStringDictionaryTreeReader.java:60-220): no per-row byte copy at
  * scan time, and rows a filter drops above the scan are never decoded.
  */
final class ByteArrayDictionary(column: Int, main: Array[Array[Byte]],
    stride: Array[Array[Byte]])
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  def size: Int = main.length + stride.length
  override def decodeToBinary(id: Int): Array[Byte] =
    if (id >= 0 && id < main.length) main(id)
    else if (id >= main.length && id - main.length < stride.length)
      stride(id - main.length)
    else throw new java.io.IOException(
      // corrupt ids surface lazily at access time, far from the scan:
      // name the column and id space so the failure is traceable
      s"dwrf: corrupt dictionary id $id in column $column " +
        s"(${main.length} main + ${stride.length} stride entries)")
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("string dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("string dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("string dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("string dictionary")
}

final class StringVectorDecoder(c: Int) extends VectorDecoder(c) {
  private var data: InStream = null
  private var lengths: RunLengthIntegerReader = null
  private var dict: Array[Array[Byte]] = null
  private var strideDict: Array[Array[Byte]] = null
  private var ids: RunLengthIntegerReader = null
  private var sparkDict: ByteArrayDictionary = null
  private var idsOut: org.apache.spark.sql.execution.vectorized.WritableColumnVector = null

  private val emptyStream: InStream =
    InStream("empty", Array.emptyByteArray, None)

  private def readBlob(blob: InStream, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    var got = 0
    while (got < len) {
      val n = blob.read(b, got, len - got)
      if (n < 0) throw new java.io.EOFException("EOF in dictionary blob")
      got += n
    }
    b
  }

  override protected def startValues(src: StreamSource): Unit = {
    val enc = src.encoding(c)
    if (enc.dictionary) {
      val blob = src.stream(c, StreamKind.DictionaryData).getOrElse(emptyStream)
      val keyLens = src.stream(c, StreamKind.Length)
        .map(new RunLengthIntegerReader(_, signed = false, src.useVInts))
        .getOrElse(new RunLengthIntegerReader(emptyStream, signed = false, src.useVInts))
      dict = Array.fill(enc.dictionarySize)(readBlob(blob, keyLens.next().toInt))
      strideDict = src.stream(c, StreamKind.StrideDictionaryLength)
        .map { lenStream =>
          val lens = new RunLengthIntegerReader(lenStream, signed = false, src.useVInts)
          val sblob = src.stream(c, StreamKind.StrideDictionary).getOrElse(emptyStream)
          val numStrides = lens.next().toInt
          Array.fill(numStrides) {
            val count = lens.next().toInt
            Array.fill(count)(readBlob(sblob, lens.next().toInt))
          }.flatten
        }.orNull
      ids = src.stream(c, StreamKind.Data)
        .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
      sparkDict = new ByteArrayDictionary(c, dict,
        if (strideDict == null) Array.empty else strideDict)
      data = null; lengths = null
    } else {
      dict = null; strideDict = null; ids = null; sparkDict = null
      data = src.stream(c, StreamKind.Data).orNull
      lengths = src.stream(c, StreamKind.Length)
        .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
    }
  }

  override def attachedDictionary: ByteArrayDictionary =
    if (idsOut != null) sparkDict else null

  /** Attach (or detach — encodings can flip between stripes) the lazy
    * dictionary on the output vector once per batch. */
  override protected def prepare(v: OnHeapColumnVector, n: Int): Unit =
    if (sparkDict != null) {
      v.setDictionary(sparkDict)
      idsOut = v.reserveDictionaryIds(n)
    } else {
      v.setDictionary(null)
      idsOut = null
    }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    if (dict != null) {
      val id = ids.next().toInt
      if (idsOut != null) idsOut.putInt(i, id) // lazy: decode at access
      else { // nested under a collection/struct: materialize
        val b = if (id < dict.length) dict(id) else strideDict(id - dict.length)
        v.putByteArray(i, b, 0, b.length)
      }
    } else {
      val len = lengths.next().toInt
      val b = new Array[Byte](len)
      var got = 0
      while (got < len) {
        val n = data.read(b, got, len - got)
        if (n < 0) throw new java.io.EOFException("EOF in string data")
        got += n
      }
      v.putByteArray(i, b, 0, len)
    }
  }

  private var lenScratch: Array[Long] = null
  private var blobScratch: Array[Byte] = null

  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    // dictionary-encoded only: the lazy ids vector makes the scatter
    // cheap; direct encoding under nulls keeps the per-row path
    if (dict == null || ids == null || idsOut == null) return false
    val c = decodePresent(v, n)
    if (lenScratch == null || lenScratch.length < c) lenScratch = new Array[Long](c)
    ids.nextLongs(lenScratch, 0, c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) { idsOut.putInt(i, lenScratch(j).toInt); j += 1 }
      i += 1
    }
    true
  }

  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (dict != null) {
      if (ids == null || idsOut == null) return false
      if (lenScratch == null || lenScratch.length < n) lenScratch = new Array[Long](n)
      ids.nextLongs(lenScratch, 0, n)
      var i = 0
      while (i < n) { idsOut.putInt(i, lenScratch(i).toInt); i += 1 }
      true
    } else {
      if (lengths == null || data == null) return false
      if (lenScratch == null || lenScratch.length < n) lenScratch = new Array[Long](n)
      lengths.nextLongs(lenScratch, 0, n)
      var total = 0L
      var i = 0
      while (i < n) { total += lenScratch(i); i += 1 }
      if (total > Int.MaxValue / 2) {
        // Oversized batch (>1 GiB of string payload). The LENGTH stream is
        // already consumed, so falling back to the per-row put() would
        // re-read lengths and desync LENGTH vs DATA. Stay on this path and
        // read each value directly from the already-decoded lenScratch.
        i = 0
        while (i < n) {
          val len = lenScratch(i).toInt
          val b = new Array[Byte](len)
          BulkBytes.readFully(data, b, len)
          v.putByteArray(i, b, 0, len)
          i += 1
        }
      } else {
        val t = total.toInt
        if (blobScratch == null || blobScratch.length < t)
          blobScratch = new Array[Byte](math.max(t, 16 * 1024))
        BulkBytes.readFully(data, blobScratch, t)
        var off = 0
        i = 0
        while (i < n) {
          val len = lenScratch(i).toInt
          v.putByteArray(i, blobScratch, off, len)
          off += len
          i += 1
        }
      }
      true
    }
  }

  override protected def seekValues(e: RowIndexEntry): Unit =
    if (dict != null)
      e.positions.get(StreamKind.Data).foreach(p => ids.seek(new ArrayPositionProvider(p)))
    else {
      e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
      e.positions.get(StreamKind.Length).foreach(p => lengths.seek(new ArrayPositionProvider(p)))
    }
}

final class BinaryVectorDecoder(c: Int) extends VectorDecoder(c) {
  private var data: InStream = null
  private var lengths: RunLengthIntegerReader = null

  override protected def startValues(src: StreamSource): Unit = {
    data = src.stream(c, StreamKind.Data).orNull
    lengths = src.stream(c, StreamKind.Length)
      .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
  }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    val len = lengths.next().toInt
    val b = new Array[Byte](len)
    var got = 0
    while (got < len) {
      val n = data.read(b, got, len - got)
      if (n < 0) throw new java.io.EOFException("EOF in binary data")
      got += n
    }
    v.putByteArray(i, b, 0, len)
  }

  override protected def seekValues(e: RowIndexEntry): Unit = {
    e.positions.get(StreamKind.Data).foreach(p => data.seek(new ArrayPositionProvider(p)))
    e.positions.get(StreamKind.Length).foreach(p => lengths.seek(new ArrayPositionProvider(p)))
  }
}

final class TimestampVectorDecoder(c: Int) extends VectorDecoder(c) {
  import TimestampTreeWriter.BaseSeconds
  private var seconds: RunLengthIntegerReader = null
  private var nanos: RunLengthIntegerReader = null

  override protected def startValues(src: StreamSource): Unit = {
    seconds = src.stream(c, StreamKind.Data)
      .map(new RunLengthIntegerReader(_, signed = true, src.useVInts)).orNull
    nanos = src.stream(c, StreamKind.NanoData)
      .map(new RunLengthIntegerReader(_, signed = false, src.useVInts)).orNull
  }

  override protected def put(v: OnHeapColumnVector, i: Int): Unit = {
    val sec = seconds.next() + BaseSeconds
    val enc = nanos.next()
    v.putLong(i, sec * 1000000L + decodeNanos(enc) / 1000L)
  }

  private def decodeNanos(enc: Long): Long = {
    val zeros = (enc & 7).toInt
    var ns = enc >>> 3
    if (zeros != 0) {
      var j = 0
      while (j < zeros + 2) { ns *= 10; j += 1 }
    }
    ns
  }

  private var secScratch: Array[Long] = null
  private var nanoScratch: Array[Long] = null

  override protected def fillBulk(v: OnHeapColumnVector, n: Int): Boolean = {
    if (seconds == null || nanos == null) return false
    if (secScratch == null || secScratch.length < n) {
      secScratch = new Array[Long](n); nanoScratch = new Array[Long](n)
    }
    seconds.nextLongs(secScratch, 0, n)
    nanos.nextLongs(nanoScratch, 0, n)
    var i = 0
    while (i < n) {
      v.putLong(i,
        (secScratch(i) + BaseSeconds) * 1000000L + decodeNanos(nanoScratch(i)) / 1000L)
      i += 1
    }
    true
  }
  override protected def fillBulkNullable(v: OnHeapColumnVector, n: Int): Boolean = {
    if (seconds == null || nanos == null) return false
    val c = decodePresent(v, n)
    if (secScratch == null || secScratch.length < c) {
      secScratch = new Array[Long](c); nanoScratch = new Array[Long](c)
    }
    seconds.nextLongs(secScratch, 0, c)
    nanos.nextLongs(nanoScratch, 0, c)
    var i = 0
    var j = 0
    while (i < n) {
      if (presentScratch(i)) {
        v.putLong(i,
          (secScratch(j) + BaseSeconds) * 1000000L + decodeNanos(nanoScratch(j)) / 1000L)
        j += 1
      }
      i += 1
    }
    true
  }

  override protected def seekValues(e: RowIndexEntry): Unit = {
    e.positions.get(StreamKind.Data).foreach(p => seconds.seek(new ArrayPositionProvider(p)))
    e.positions.get(StreamKind.NanoData).foreach(p => nanos.seek(new ArrayPositionProvider(p)))
  }
}

/** `_pos`: each row's physical position in its file, counting from
  * `first`, the position of the batch's first row. */
final class PositionVectorDecoder extends VectorDecoder(-1) {
  var first = 0L
  override protected def startValues(src: StreamSource): Unit = ()
  override protected def seekValues(e: RowIndexEntry): Unit = ()
  override protected def put(v: OnHeapColumnVector, i: Int): Unit =
    v.putLong(i, first + i)
}

/** Physical row positions that select rows of one file: a delete vector
  * drops the listed positions (`keep` false), a change-feed delta keeps
  * only them (`keep` true). `positions` ascend strictly; batches must be
  * applied in file order.
  */
final class PositionMask(positions: Array[Long], keep: Boolean) {
  /** The first listed position at or after the last batch's first row. */
  private var next = 0

  /** Sets the result of every row of the batch `[first, first + n)` that
    * the mask drops to F. */
  def apply(results: Array[Byte], first: Long, n: Int): Unit = {
    val at = java.util.Arrays.binarySearch(positions, next, positions.length, first)
    next = if (at >= 0) at else -(at + 1)
    var j = next
    if (keep) {
      var i = 0
      while (i < n) {
        if (j < positions.length && positions(j) == first + i) j += 1
        else results(i) = ExactFilter.F
        i += 1
      }
    } else {
      while (j < positions.length && positions(j) < first + n) {
        results((positions(j) - first).toInt) = ExactFilter.F
        j += 1
      }
    }
  }
}

/** The batches of `readSchema` decoded from `stripes` of one file (made
  * by [[DwrfFileReader.batches]]), 4096 rows at most; every batch refills
  * the same vectors.
  *
  * Pushed `filters` drive the stripe and stride skipping of
  * [[DwrfFileReader.segments]] (reference intent:
  * RecordReaderImpl.java:281-430 lazy materialization): decoders seek
  * once per run of surviving strides, so a skipped stride is never
  * decoded.
  *
  * Rows are then kept per batch by the `exact` filters (those
  * [[ExactFilter.owned]] accepts, which Spark no longer re-evaluates,
  * decided by the vectorized evaluator), by the position `mask` and by
  * `from`, the first file row wanted: a batch whose every row is kept
  * passes through as is, one with none kept is never emitted, and the
  * rest are compacted in place ([[VectorUtil.compact]]) to hold only the
  * kept rows — Spark always sees the decoders' own `OnHeapColumnVector`s.
  * `partValues` name constant columns; with `withPos` the `_pos` column
  * holds each row's physical position in the file. `readSchema` may end
  * with predicate-only columns: decoded for the filter, they stay out of
  * the first `outputWidth` output columns. An empty output yields
  * zero-column batches that carry only their row count.
  */
final class DwrfBatches(
    reader: DwrfFileReader,
    stripes: Seq[StripeInformation],
    readSchema: StructType,
    filters: Seq[org.apache.spark.sql.sources.Filter],
    exact: Seq[org.apache.spark.sql.sources.Filter],
    partValues: Map[String, Any],
    outputWidth: Int,
    withPos: Boolean,
    mask: PositionMask,
    from: Long)
    extends Iterator[ColumnarBatch] with AutoCloseable {

  private final val batchSize = 4096

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, readSchema)
  private val width = if (outputWidth < 0) vectors.length else outputWidth
  private val batch = new ColumnarBatch(
    vectors.take(width).toArray[org.apache.spark.sql.vectorized.ColumnVector])

  private val positions = new PositionVectorDecoder
  private val decoders: Array[VectorDecoder] = readSchema.fields.map { f =>
    if (partValues.contains(f.name)) // partition column: constant fill
      new ConstantVectorDecoder(partValues(f.name), f.dataType)
    else if (withPos && f.name == DwrfUtil.PosMetaColumn) positions
    else ColumnAliases.resolve(f, reader.idByName) match {
      case Some((id, dt)) => VectorDecoder.create(id, dt, f.dataType)
      case None => new NullVectorDecoder // schema evolution: all-null
    }
  }

  /** The exact filters bound to this file; null when every row passes. */
  private val predicate: ExactFilter.Pred =
    ExactFilter.compile(exact, readSchema(_).dataType, { name =>
      val i = readSchema.fieldIndex(name)
      if (partValues.contains(name)) ExactFilter.Constant(partValues(name))
      else if (decoders(i).isInstanceOf[NullVectorDecoder]) ExactFilter.Constant(null)
      else ExactFilter.Slot(i, readSchema(i).dataType)
    })
  /** The filters are false or NULL for the whole file: nothing to decode. */
  private val refuted = predicate.isInstanceOf[ExactFilter.Const]
  private val predicateIn = new ExactFilter.BatchIn(
    vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector],
    new Array[ByteArrayDictionary](vectors.length))
  private val results = new Array[Byte](batchSize)
  private val selected = new Array[Int](batchSize)

  private val wanted: Array[Boolean] = {
    val inc = new Array[Boolean](ColumnTree.columnCount(reader.schema))
    readSchema.fields.foreach { f =>
      ColumnAliases.resolve(f, reader.idByName).foreach { case (id, dt) =>
        ColumnTree.includeSubtree(inc, id, dt)
      }
    }
    inc
  }

  private val segments: Iterator[Segment] =
    if (refuted) Iterator.empty
    else reader.segments(stripes, filters, wanted, from)(src => decoders.foreach(_.start(src)))
  /** Rows left in the current segment. */
  private var remaining = 0L
  /** Physical position in the file of the next row decoded. */
  private var pos = 0L
  private var ready = false

  // hoisted once: a reader runs on one task thread by Spark's contract
  private val prof = graft.format.ReadProfile.get

  override def hasNext: Boolean = {
    if (!ready) ready = advance()
    ready
  }

  override def next(): ColumnarBatch = {
    if (!hasNext) throw new NoSuchElementException("dwrf: no more batches")
    ready = false
    batch
  }

  /** Decodes until a batch keeps a row; false at the end of the stripes. */
  private def advance(): Boolean = {
    // bracket the decompress profile so interleaved readers in one task
    // thread (SPJ) attribute their own nanos, never each other's
    val d0 = prof.decompressNanos
    try {
      while (true) {
        while (remaining == 0) {
          if (!segments.hasNext) return false
          val seg = segments.next()
          seg.entries.foreach(e => decoders.foreach(_.seekStride(e)))
          remaining = seg.rows
          pos = seg.firstRow
        }
        val n = math.min(batchSize.toLong, remaining).toInt
        positions.first = pos
        var i = 0
        while (i < vectors.length) {
          vectors(i).reset()
          decoders(i).fill(vectors(i), n)
          i += 1
        }
        remaining -= n
        reader.counters.rowsDecoded += n
        val kept = if (predicate == null && mask == null && pos >= from) n else filterBatch(n)
        pos += n
        if (kept > 0) {
          batch.setNumRows(kept)
          reader.counters.batchesEmitted += 1
          return true
        }
      }
      false
    } finally {
      reader.counters.decompressNanosAcc += prof.decompressNanos - d0
    }
  }

  /** Decides which of the decoded batch's `n` rows are kept and compacts
    * the output columns to them; returns how many. */
  private def filterBatch(n: Int): Int = {
    if (predicate == null) java.util.Arrays.fill(results, 0, n, ExactFilter.T)
    else {
      var i = 0
      while (i < decoders.length) {
        predicateIn.dicts(i) = decoders(i).attachedDictionary
        i += 1
      }
      predicate.evalBatch(predicateIn, n, results)
    }
    if (pos < from)
      java.util.Arrays.fill(results, 0, math.min(n.toLong, from - pos).toInt, ExactFilter.F)
    if (mask != null) mask(results, pos, n)
    val k = ExactFilter.select(results, n, selected)
    if (k > 0 && k < n) {
      var i = 0
      while (i < width) { VectorUtil.compact(vectors(i), selected, k); i += 1 }
    }
    k
  }

  override def close(): Unit = vectors.foreach(_.close())
}

/** Spark's reader of one input partition: `batches` of `reader`'s file
  * ([[DwrfFileReader.batches]]), closing the file at the end. */
final class DwrfColumnarPartitionReader(reader: DwrfFileReader, batches: DwrfBatches)
    extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private var current: ColumnarBatch = null

  override def next(): Boolean =
    batches.hasNext && { current = batches.next(); true }

  override def get(): ColumnarBatch = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    DwrfMetrics.taskValues(reader.counters)

  override def close(): Unit = {
    batches.close()
    reader.close()
  }
}
