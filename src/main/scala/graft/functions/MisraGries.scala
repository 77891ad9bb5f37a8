package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items buffer: at most k (item, count) pairs.
  * The mergeable-summaries guarantee (Agarwal et al., PODS'12): after
  * any sequence of updates and merges over a stream of N items, every
  * item with true count > N/(k+1) is present, and each retained count
  * under-estimates by at most N/(k+1). Deterministic — no hashing, no
  * randomness — so the candidate set is stable across partitionings.
  *
  * Update is O(1) amortized: the decrement sweep on a full-buffer miss
  * evicts every count-1 entry at once, and under heavy-tailed token
  * distributions most entries are singletons, so sweeps are rare.
  */
final class MgBuffer(val k: Int) extends Serializable {
  val counts = new java.util.HashMap[String, Long](k * 2)

  def add(item: String): Unit = {
    // stored counts are always > 0, so unboxed 0 means absent
    val cur: Long = counts.get(item)
    if (cur != 0L) counts.put(item, cur + 1L)
    else if (counts.size < k) counts.put(item, 1L)
    else {
      // classic MG step: the unmatched arrival cancels one unit of
      // every counter; count-1 entries (the singleton tail) evict
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** MG merge: sum counts, then if over k entries subtract the (k+1)-th
    * largest count from everything and drop the non-positive tail.
    */
  def mergeIn(o: MgBuffer): MgBuffer = {
    val it = o.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur: Long = counts.get(e.getKey) // 0 when absent
      counts.put(e.getKey, cur + e.getValue)
    }
    if (counts.size > k) {
      val vals = new Array[Long](counts.size)
      var i = 0
      val vit = counts.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1) // (k+1)-th largest
      val eit = counts.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue <= cut) eit.remove() else e.setValue(e.getValue - cut)
      }
    }
    this
  }
}

/** `mg_topk(col, k)` — native TypedImperativeAggregate returning a
  * map<string,bigint> of at most k candidate items with their MG counts
  * (under-estimates, each within N/(k+1) of truth). The intended 100 TB
  * pattern is sketch-then-confirm: this pass shuffles at most k pairs
  * per partition instead of the full item domain, the candidate keys are
  * broadcast back, and one filtered groupBy computes EXACT counts for
  * candidates only — exact top-k without ever shuffling the long tail.
  * (`text_heavy_hitters` runs the same two passes over [[MgBuffer]]
  * directly, one tree-merged RDD job each, and fails loud if k was too
  * small for the requested top-k rather than returning a possibly-wrong
  * answer.)
  *
  * Why not Spark's built-in `approx_top_k`: its estimate step
  * (`ApproxTopKEstimate`) returns `ItemsSketch.getFrequentItems(
  * ErrorType.NO_FALSE_POSITIVES)` and does not expose the sketch's
  * maximum error. NO_FALSE_POSITIVES may drop an item whose true count
  * is above the threshold, so the confirm step could miss a true top-k
  * item, and without the error bound it cannot certify the N/(k+1)
  * cut-off that `text_heavy_hitters` REQUIREs. This buffer keeps every
  * item over N/(k+1) under any merge shape (MisraGriesSpec).
  */
case class MgTopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MgBuffer] with UnaryLike[Expression] {

  require(k >= 8, s"mg_topk: k must be >= 8, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mg_topk: string input required, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

  override def update(buffer: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: MgBuffer, other: MgBuffer): MgBuffer =
    buffer.mergeIn(other)

  override def eval(buffer: MgBuffer): Any = {
    val n = buffer.counts.size
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    // deterministic output order (by key) — map equality ignores order
    // but plan output should not depend on HashMap iteration
    val sorted = new java.util.TreeMap[String, Long](buffer.counts)
    var i = 0
    val it = sorted.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = UTF8String.fromString(e.getKey)
      vals(i) = e.getValue
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buffer: MgBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeInt(buffer.counts.size)
    val it = buffer.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // length-prefixed UTF-8, not writeUTF: one unbroken >64 KiB token
      // (base64/minified blob) must be countable, not a serialize crash
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new MgBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.counts.put(
        new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): MgTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MgTopK =
    copy(child = newChild)

  override def prettyName: String = "mg_topk"
}
