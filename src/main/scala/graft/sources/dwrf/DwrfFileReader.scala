package graft.sources.dwrf

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

import graft.format._

/** Surviving stride runs for one stripe: `runs` are [a, b) stride index
  * ranges that passed stats filtering; `indexes` the per-column row-index
  * entries they were derived from. Drives stride-granular I/O pruning in
  * [[DwrfFileReader.openStripe]].
  */
final case class StrideSelection(
    indexes: Map[Int, IndexedSeq[RowIndexEntry]],
    runs: Seq[(Int, Int)],
    numStrides: Int)

/** Per-stripe stream access for the decoders. */
trait StreamSource {
  /** The stream's bytes for (column, kind), if present in this stripe. */
  def stream(column: Int, kind: Int): Option[InStream]
  def encoding(column: Int): ColumnEncoding
  /** Whether integer streams use varints (false = fixed 8-byte LE). */
  def useVInts: Boolean = true
}

/** A run of contiguous rows of one stripe that may hold wanted rows:
  * seek to `entries` (None = the stripe start, no seek needed), then
  * `rows` rows follow, the first at physical position `firstRow` of the
  * file. */
final class Segment(val entries: Option[Map[Int, RowIndexEntry]],
    val firstRow: Long, val rows: Long)

/** Reads one GRFT file: tail parse (postscript + footer), then per-stripe
  * decoding of only the streams the projection needs, with adjacent wanted
  * byte ranges coalesced into single preads (reference read path SURVEY
  * §3.1 steps 2-6, stream planner R1).
  */
final class DwrfFileReader(path: Path, conf: Configuration) extends AutoCloseable {

  private val fs = path.getFileSystem(conf)
  val fileLength: Long = fs.getFileStatus(path).getLen
  private val in: FSDataInputStream = fs.open(path)

  /** Task-level scan counters surfaced as V2 CustomMetrics. */
  val counters = new ScanCounters

  private def pread(pos: Long, buf: Array[Byte]): Unit = {
    in.readFully(pos, buf, 0, buf.length)
    counters.bytesRead += buf.length
    counters.preads += 1
  }

  // Eager whole-span read mode (reference R1 eager HDFS read,
  // RecordReaderImpl.java:379-399, OrcConf.java:63-64 default ≤185 MB):
  // when the wanted streams of a stripe span at most this many bytes,
  // issue ONE pread covering the span (gaps included) instead of per-gap
  // coalesced preads — on high-latency stores a wide projection pays one
  // round trip, not one per 256 KB gap. Divergence: the reference gates
  // on the sum of wanted bytes then reads the whole data area; gating on
  // the span bounds the worst-case over-read at the threshold itself.
  private val eagerReadEnabled = conf.getBoolean("dwrf.eager.read", true)
  private val eagerReadBytes =
    conf.getLong("dwrf.eager.read.bytes", 185L * 1024 * 1024)

  // Paced stream fetching (reference R2, OrcConf readStrides=5 /
  // InStream.java:135-443): when > 0, full-stripe scans fetch each
  // stream's bytes in windows of this size as decode advances instead of
  // materializing the whole span — reader memory becomes O(windows),
  // which is what a memory-constrained reader of multi-hundred-MB
  // stripes needs. Off by default: at the default 256 MB stripe the
  // coalesced whole-range read is both simpler and faster (fewer
  // round trips), exactly why eager mode exists. Stride-pruned reads
  // ignore pacing (their ranges are already the pruned subset).
  private val pacedReadBytes = conf.getLong("dwrf.read.pace.bytes", 0L)

  /** `footerCacheHit`: this open reused a cached parse of the tail (see
    * [[DwrfFileReader.FooterCache]]); surfaced as `footerCacheHits`. */
  val (postScript: PostScript, footer: Footer, schema: StructType,
      footerCacheHit: Boolean) = {
    val tailSize = math.min(fileLength, 256L * 1024).toInt
    val tail = new Array[Byte](tailSize)
    in.readFully(fileLength - tailSize, tail, 0, tailSize)
    val psLen = tail(tailSize - 1) & 0xff
    require(psLen > 0 && psLen < tailSize, s"corrupt postscript length $psLen")
    val psBytes = java.util.Arrays.copyOfRange(tail, tailSize - 1 - psLen, tailSize - 1)
    val ps = MetaIO.readPostScript(psBytes)
    val footerEnd = fileLength - 1 - psLen
    // untrusted: a corrupt footerLength must fail here with a named
    // error, not as a negative/OOM-sized allocation below
    require(ps.footerLength > 0 && ps.footerLength <= footerEnd,
      s"corrupt footer length ${ps.footerLength} (file $fileLength)")
    val footerLen = ps.footerLength.toInt
    val footerBytes =
      if (footerLen <= footerEnd && footerLen <= tailSize - 1 - psLen)
        java.util.Arrays.copyOfRange(tail,
          (tailSize - 1 - psLen - footerLen), tailSize - 1 - psLen)
      else {
        val b = new Array[Byte](footerLen)
        in.readFully(footerEnd - footerLen, b, 0, footerLen)
        b
      }
    DwrfFileReader.FooterCache.lookup(path, psBytes, footerBytes) match {
      case Some(t) => (t.postScript, t.footer, t.schema, true)
      case None =>
        val codec = CompressionCodec.forKind(ps.compression)
        val f = MetaIO.readFooter(InStream("footer", footerBytes, codec, ps.blockSize))
        val sch = DataType.fromJson(f.schemaJson).asInstanceOf[StructType]
        DwrfFileReader.FooterCache.put(path,
          new DwrfFileReader.Tail(psBytes, footerBytes, ps, f, sch))
        (ps, f, sch, false)
    }
  }
  if (footerCacheHit) counters.footerCacheHits += 1

  private val codec = CompressionCodec.forKind(postScript.compression)

  /** Untrusted footer fields: every stripe extent must land inside the
    * file before it sizes an allocation or a pread. Summed with
    * `addExact` — four longs near 2^62 would wrap negative under plain
    * `+` and sail past the `<= fileLength` bound, deferring the failure
    * to an unnamed pread/allocation error. */
  private def checkStripeBounds(si: StripeInformation): Unit = {
    val end =
      try Math.addExact(Math.addExact(si.offset, si.indexLength),
        Math.addExact(si.dataLength, si.footerLength))
      catch { case _: ArithmeticException => Long.MaxValue }
    require(si.offset >= 0 && si.indexLength >= 0 && si.dataLength >= 0 &&
      si.footerLength >= 0 && end <= fileLength,
      s"corrupt stripe extents $si (file $fileLength)")
  }

  def readStripeFooter(si: StripeInformation): StripeFooter = {
    checkStripeBounds(si)
    val b = new Array[Byte](si.footerLength.toInt)
    pread(si.offset + si.indexLength + si.dataLength, b)
    MetaIO.readStripeFooter(InStream("stripe-footer", b, codec, postScript.blockSize))
  }

  /** Stripes whose start offset falls in [offset, offset+length) — MapReduce
    * split semantics (reference RecordReaderImpl.java:116-162).
    */
  def stripesInRange(offset: Long, length: Long): Seq[StripeInformation] =
    footer.stripes.filter(s => s.offset >= offset && s.offset < offset + length)

  /** Group sorted stride indices into maximal contiguous [a, b) runs. */
  private[dwrf] def runsOf(matching: Seq[Int]): Seq[(Int, Int)] = {
    if (matching.isEmpty) return Nil
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = matching.head
    var prev = matching.head
    matching.tail.foreach { k =>
      if (k != prev + 1) { runs += ((start, prev + 1)); start = k }
      prev = k
    }
    runs += ((start, prev + 1))
    runs.toSeq
  }

  /** The file's top-level columns by name: tree id and written type. */
  private[dwrf] lazy val idByName: Map[String, (Int, DataType)] = {
    val fullIds = ColumnTree.topLevelIds(schema)
    schema.fields.map(_.name).zip(fullIds.zip(schema.fields.map(_.dataType))).toMap
  }

  /** Stats lookups accept dotted struct paths too (`st.ok`) — the writer
    * records stats per column id at every nesting level. */
  private[dwrf] lazy val statIdByPath: Map[String, (Int, DataType)] =
    ColumnTree.pathIds(schema)

  /** The physical position of each stripe's first row, by stripe offset. */
  private lazy val rowBase: Map[Long, Long] =
    footer.stripes.map(_.offset).zip(footer.stripes.scanLeft(0L)(_ + _.numRows)).toMap

  /** Batches of `readSchema`'s fields over the given stripes, read
    * against this file: absent columns read all-null, columns an older
    * generation wrote narrower are widened, renamed columns
    * ([[ColumnAliases]]) resolve at the file's own generation's name.
    * [[DwrfBatches]] documents the parameters.
    */
  def batches(
      stripes: Seq[StripeInformation],
      readSchema: StructType,
      filters: Seq[Filter] = Nil,
      exact: Seq[Filter] = Nil,
      partValues: Map[String, Any] = Map.empty,
      outputWidth: Int = -1,
      withPos: Boolean = false,
      mask: PositionMask = null,
      from: Long = 0L): DwrfBatches =
    new DwrfBatches(this, stripes, readSchema, filters, exact, partValues,
      outputWidth, withPos, mask, from)

  /** Row iterator over the given stripes, producing only `readSchema`'s
    * top-level fields. `filters` (a conjunction) only skip stripes and
    * strides by their stats and blooms, so rows they do not match may
    * still surface. Every row is a fresh copy, safe to keep.
    */
  def rows(
      stripes: Seq[StripeInformation],
      readSchema: StructType,
      filters: Seq[Filter] = Nil): Iterator[InternalRow] =
    rowsOf(batches(stripes, readSchema, filters))

  private def rowsOf(bs: DwrfBatches): Iterator[InternalRow] =
    bs.flatMap(_.rowIterator.asScala.map(_.copy()))

  /** The stripe and stride skipping loop of every read: the segments of
    * `stripes` that lie at or after file row `from` and whose stripe and
    * stride stats and stride blooms may match `filters` (a conjunction).
    * `start` receives each surviving stripe's streams (the `wanted`
    * columns only, read in the surviving strides' byte ranges) before
    * that stripe's first segment.
    */
  private[dwrf] def segments(
      stripes: Seq[StripeInformation],
      filters: Seq[Filter],
      wanted: Array[Boolean],
      from: Long)(start: StreamSource => Unit): Iterator[Segment] = {
    val stride = footer.rowIndexStride
    lazy val wantedIds = wanted.indices.filter(wanted).toSet
    stripes.iterator.flatMap { si =>
      val base = rowBase(si.offset)
      if (base + si.numRows <= from) Iterator.empty // wholly before `from`
      else {
        val sf = readStripeFooter(si)
        def stripeStatsOf(attr: String): Option[ColumnStats] =
          statIdByPath.get(attr).flatMap { case (id, _) => sf.stats.get(id) }
        def whole(): Iterator[Segment] = {
          counters.stripesRead += 1
          start(openStripe(si, sf, wanted))
          Iterator(new Segment(None, base, si.numRows))
        }
        // strides wholly before `from` are never decoded
        val lead = if (stride > 0 && from > base) ((from - base) / stride).toInt else 0
        if (filters.nonEmpty && !StatsFilter.mayMatch(filters, schema, stripeStatsOf)) {
          counters.stripesSkipped += 1
          Iterator.empty
        } else if ((filters.isEmpty && lead == 0) || stride <= 0 || si.numRows <= stride) {
          whole()
        } else {
          val indexes = readRowIndexes(si, sf, wantedIds)
          val numStrides = ((si.numRows + stride - 1) / stride).toInt
          if (indexes.isEmpty || indexes.values.exists(_.length != numStrides)) whole()
          else {
            def strideStatsOf(k: Int)(attr: String): Option[ColumnStats] =
              statIdByPath.get(attr).flatMap { case (id, _) =>
                indexes.get(id).map(_(k).stats)
              }
            val statsMatching = (lead until numStrides)
              .filter(k => StatsFilter.mayMatch(filters, schema, strideStatsOf(k)))
            counters.stridesSkipped += numStrides - lead - statsMatching.length
            // equality/IN conjuncts get a second, bloom-backed refutation pass
            val matching = bloomRefineStrides(si, sf, filters, numStrides, statsMatching)
            if (matching.isEmpty) {
              counters.stripesSkipped += 1 // all strides eliminated
              Iterator.empty
            } else if (matching.length == numStrides) whole()
            else {
              counters.stripesRead += 1
              val runs = runsOf(matching)
              // stride-granular I/O pruning: only byte ranges covering the
              // surviving runs are read (see openStripe)
              start(openStripe(si, sf, wanted, Some(StrideSelection(indexes, runs, numStrides))))
              runs.iterator.map { case (a, b) =>
                val first = a.toLong * stride
                new Segment(Some(indexes.map { case (id, es) => id -> es(a) }),
                  base + first, math.min(b.toLong * stride, si.numRows) - first)
              }
            }
          }
        }
      }
    }
  }

  /** Read the stripe's index area once and decode ROW_INDEX streams for
    * the wanted columns.
    */
  private[dwrf] def readRowIndexes(
      si: StripeInformation,
      sf: StripeFooter,
      wanted: Set[Int]): Map[Int, IndexedSeq[RowIndexEntry]] = {
    val result = scala.collection.mutable.Map.empty[Int, IndexedSeq[RowIndexEntry]]
    readIndexStreams(si, sf, StreamKind.RowIndex, wanted) { (col, slice) =>
      result(col) = MetaIO.readRowIndex(
        InStream(s"rowindex$col", slice, codec, postScript.blockSize)).toIndexedSeq
    }
    result.toMap
  }

  /** Decode the stripe's BLOOM_FILTER index streams (per-stride blooms,
    * `bloom.stride`) for the wanted columns. Absent streams / strides
    * simply yield no entry — callers treat missing as "keep".
    */
  private[dwrf] def readStrideBlooms(
      si: StripeInformation,
      sf: StripeFooter,
      wanted: Set[Int]): Map[Int, IndexedSeq[Option[graft.format.BloomFilter]]] = {
    val result =
      scala.collection.mutable.Map.empty[Int, IndexedSeq[Option[graft.format.BloomFilter]]]
    readIndexStreams(si, sf, StreamKind.BloomFilter, wanted) { (col, slice) =>
      result(col) = MetaIO.readStrideBlooms(
        InStream(s"bloom$col", slice, codec, postScript.blockSize))
    }
    result.toMap
  }

  /** Pread ONLY the wanted index-area streams of one kind (adjacent
    * ranges coalesced across ≤ 64 KB gaps) and hand each stream's bytes
    * to `f`. The index area holds row indexes AND stride blooms — a
    * whole-area pread would charge every index read for the (much
    * larger) bloom payloads of columns it never probes, twice per
    * stripe. Wanted-only ranges keep index I/O proportional to use.
    */
  private def readIndexStreams(
      si: StripeInformation,
      sf: StripeFooter,
      kind: Int,
      wanted: Set[Int])(f: (Int, Array[Byte]) => Unit): Unit = {
    if (si.indexLength == 0) return
    checkStripeBounds(si)
    // locate wanted (column, offset-in-index-area, length)
    var acc = 0L
    val needs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    sf.streams.foreach { s =>
      if (StreamKind.isIndexKind(s.kind)) {
        if (s.kind == kind && wanted.contains(s.column))
          needs += ((s.column, acc, s.length))
        acc += s.length
      }
    }
    if (needs.isEmpty) return
    // coalesce into preads, then slice each stream out of its buffer
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (start, end)
    needs.foreach { case (_, off, len) =>
      runs.lastOption match {
        case Some((rs, re)) if off - re <= 64 * 1024 =>
          runs(runs.length - 1) = (rs, math.max(re, off + len))
        case _ => runs += ((off, off + len))
      }
    }
    val buffers = runs.map { case (rs, re) =>
      val b = new Array[Byte]((re - rs).toInt)
      pread(si.offset + rs, b)
      (rs, b)
    }
    needs.foreach { case (col, off, len) =>
      val (rs, b) = buffers.find { case (rs0, b0) =>
        off >= rs0 && off + len <= rs0 + b0.length
      }.get
      f(col, java.util.Arrays.copyOfRange(b, (off - rs).toInt, (off - rs + len).toInt))
    }
  }

  /** Bloom refutation of stats-surviving strides: for each top-level
    * equality/IN conjunct on a column carrying a BLOOM_FILTER index
    * stream, a stride whose bloom rules out every filter value's hash
    * cannot hold a matching row (false positives only ever KEEP a
    * stride). This is the in-file rung of the same ladder as the
    * planning-time per-file bloom: at 100 TB, min/max on an unsorted
    * high-cardinality column keeps every stride of every surviving
    * file — the stride bloom is what turns a point lookup into ~one
    * stride of I/O per file instead of the whole file.
    */
  private[dwrf] def bloomRefineStrides(
      si: StripeInformation,
      sf: StripeFooter,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      numStrides: Int,
      matching: Seq[Int]): Seq[Int] = {
    import org.apache.spark.sql.sources._
    if (matching.isEmpty) return matching
    // (treeId, value hashes): stride survives the conjunct iff SOME hash
    // might be present. A conjunct whose values can't all be hashed in
    // the column's space contributes no probe (conservative keep).
    // Memoized per reader — the filter set is fixed for a scan, so the
    // value hashing happens once, not once per stripe.
    val probes: Seq[(Int, Seq[Long])] =
      if (probeCacheKey eq filters) probeCache else computeProbes(filters)
    if (probes.isEmpty) return matching
    val ids = probes.map(_._1).toSet
    if (!sf.streams.exists(s => s.kind == StreamKind.BloomFilter && ids(s.column)))
      return matching
    val blooms = readStrideBlooms(si, sf, ids)
    val refined = matching.filter { k =>
      probes.forall { case (id, hs) =>
        blooms.get(id) match {
          case Some(bs) if bs.length == numStrides =>
            bs(k) match {
              case Some(bf) => hs.exists(bf.mightContain)
              case None => true // no filter recorded for this stride
            }
          case _ => true // stream truncated/foreign: no pruning
        }
      }
    }
    counters.stridesSkipped += matching.length - refined.length
    counters.stridesBloomSkipped += matching.length - refined.length
    refined
  }

  private def probeOf(attr: String, vs: Seq[Any]): Option[(Int, Seq[Long])] =
    statIdByPath.get(attr).flatMap { case (id, dt) =>
      val hs = vs.flatMap(DwrfBloom.hashFilterValue(dt, _))
      if (hs.length == vs.length) Some(id -> hs) else None
    }

  private var probeCacheKey: Seq[org.apache.spark.sql.sources.Filter] = null
  private var probeCache: Seq[(Int, Seq[Long])] = Nil

  private def computeProbes(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[(Int, Seq[Long])] = {
    import org.apache.spark.sql.sources._
    val ps = filters.flatMap {
      case EqualTo(a, v) if v != null => probeOf(a, Seq(v))
      case EqualNullSafe(a, v) if v != null => probeOf(a, Seq(v))
      case In(a, vs) if vs != null && vs.nonEmpty =>
        // cap: a huge runtime IN-set (broadcast-join keys) almost never
        // refutes a whole stride — don't pay |values| bloom probes per
        // stride chasing it; file-level pruning already had its shot
        val nn = vs.toSeq.filter(_ != null)
        if (nn.isEmpty || nn.length > 1024) None else probeOf(a, nn)
      case _ => None
    }
    probeCacheKey = filters
    probeCache = ps
    ps
  }

  /** Plan + execute the stripe's reads: wanted streams only, adjacent
    * ranges coalesced (gap ≤ 256 KB) into single preads.
    *
    * With a [[StrideSelection]] (stride-level stats skipping active), I/O
    * is pruned to the byte ranges covering SURVIVING stride runs: each
    * run's range starts at the run-start index position (a stream byte
    * offset — chunk start when compressed) and ends at the next
    * non-surviving stride's position plus a conservative slack (the
    * RLE run / compression chunk straddling the boundary), so a filter
    * that keeps 1% of strides reads ~1% of the bytes, not 100%. Streams
    * without per-stride positions (dictionary blobs) are read in full.
    */
  def openStripe(si: StripeInformation, sf: StripeFooter,
      wanted: Array[Boolean],
      selection: Option[StrideSelection] = None): StreamSource = {
    // absolute start offset of every stream, in file order
    var acc = si.offset
    val located = sf.streams.map { s =>
      val start = acc
      acc = start + s.length
      (s, start)
    }
    val neededRaw = located.filter { case (s, _) =>
      !StreamKind.isIndexKind(s.kind) && s.column < wanted.length && wanted(s.column)
    }

    // absolute byte subranges needed per stream
    val subranges: Seq[((StreamInfo, Long), Seq[(Long, Long)])] = // ((s,start), (absStart,absEnd))
      neededRaw.map { case (s, start) =>
        val ranges = selection match {
          case Some(sel) =>
            sel.indexes.get(s.column) match {
              case Some(entries) if entries.forall(_.positions.contains(s.kind)) =>
                // slack must cover: the boundary chunk IN FULL, plus the
                // worst-case RLE run tail (~2 KB of varints) spilling
                // into following chunks — and because ensureBlock views
                // each touched chunk in full, the LAST touched chunk's
                // full extent too. 2*(3+blockSize) covers boundary +
                // one full next chunk (the large-chunk case); +4096
                // covers a multi-chunk tail when compress.size is tiny.
                val slack =
                  if (codec.isDefined) 2L * (3 + postScript.blockSize) + 4096L
                  else 8192L
                sel.runs.map { case (a, b) =>
                  val relStart = entries(a).positions(s.kind)(0)
                  val relEnd =
                    if (b >= sel.numStrides) s.length
                    else math.min(s.length, entries(b).positions(s.kind)(0) + slack)
                  (start + relStart, start + math.max(relStart, relEnd))
                }
              case _ => Seq((start, start + s.length)) // no positions: full read
            }
          case None => Seq((start, start + s.length))
        }
        ((s, start), ranges)
      }

    // paced mode (R2): no up-front preads at all — every stream fetches
    // its own windows on demand; counters record the fetches and the
    // peak resident bytes (the memory-bound evidence)
    if (pacedReadBytes > 0 && selection.isEmpty) {
      val byKeyPaced = neededRaw.map { case (s, start) => (s.column, s.kind) -> (s, start) }.toMap
      return new StreamSource {
        override def useVInts: Boolean = postScript.useVInts
        override def stream(column: Int, kind: Int): Option[InStream] =
          byKeyPaced.get((column, kind)).map { case (s, start) =>
            val ranges = new graft.format.WindowedByteRanges(
              s.length.toInt, start, pacedReadBytes.toInt,
              (pos, buf) => pread(pos, buf),
              (_, resident) => counters.pacedPeakResident =
                math.max(counters.pacedPeakResident, resident))
            InStream(s"col$column/kind$kind", ranges, codec, postScript.blockSize)
          }
        override def encoding(column: Int): ColumnEncoding =
          sf.encodings.getOrElse(column, ColumnEncoding(dictionary = false))
      }
    }

    // coalesce the union of all subranges; eager span mode only when no
    // stride pruning is active (an eager span would defeat the pruning)
    val flat = subranges.flatMap(_._2).filter { case (a, b) => b > a }.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (start, len)
    val spanStart = if (flat.nonEmpty) flat.head._1 else 0L
    val spanEnd = if (flat.nonEmpty) flat.map(_._2).max else 0L
    // eager engages only when the span's GAPS are bounded too: on a
    // wide table a 2-of-200-column projection's span covers ~the whole
    // stripe, and a whole-span pread would quietly read 50× the wanted
    // bytes — the opposite of projection pushdown. Waste is capped at
    // the wanted volume (span ≤ 2× wanted) or at one coalesce gap
    // (span − wanted ≤ 256 KB, the per-gap round-trip break-even).
    val wantedBytes = flat.map { case (a, b) => b - a }.sum
    val span = spanEnd - spanStart
    if (selection.isEmpty && eagerReadEnabled && flat.nonEmpty &&
        span <= eagerReadBytes &&
        (span <= 2 * wantedBytes || span - wantedBytes <= 256 * 1024)) {
      merged += ((spanStart, spanEnd - spanStart))
    } else flat.foreach { case (rs, re) =>
      merged.lastOption match {
        case Some((ms, ml)) if rs - (ms + ml) <= 256 * 1024 =>
          if (re - ms > ml) merged(merged.length - 1) = (ms, re - ms)
        case _ => merged += ((rs, re - rs))
      }
    }
    val buffers: Seq[(Long, Array[Byte])] = merged.toSeq.map { case (start, len) =>
      val b = new Array[Byte](len.toInt)
      pread(start, b)
      (start, b)
    }

    val byKey: Map[(Int, Int), ((StreamInfo, Long), Seq[(Long, Long)])] =
      subranges.map { case (key @ (s, _), r) => (s.column, s.kind) -> (key, r) }.toMap

    // normalize possibly-overlapping per-stream ranges (slack can run a
    // range into the next run's start)
    def normalize(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rs.sortBy(_._1).foreach { case (a, b) =>
        out.lastOption match {
          case Some((pa, pb)) if a <= pb =>
            if (b > pb) out(out.length - 1) = (pa, b)
          case _ => out += ((a, b))
        }
      }
      out.toSeq
    }

    new StreamSource {
      override def useVInts: Boolean = postScript.useVInts

      override def stream(column: Int, kind: Int): Option[InStream] =
        byKey.get((column, kind)).map { case ((s, start), ranges) =>
          // zero-copy segment views over the shared pread buffers: memory
          // scales with bytes READ, not stream length; seeks land on
          // filled chunk starts, so unfilled gaps are never addressed
          val segs = normalize(ranges).map { case (a, b) =>
            val (bufStart, buf) = buffers
              .find { case (bs, bb) => a >= bs && b <= bs + bb.length }
              .getOrElse(throw new IllegalStateException(
                s"range [$a,$b) not buffered for col$column/kind$kind"))
            ((a - start).toInt, buf, (a - bufStart).toInt, (b - a).toInt)
          }
          InStream(s"col$column/kind$kind",
            new ByteRanges(s.length.toInt, segs), codec, postScript.blockSize)
        }

      override def encoding(column: Int): ColumnEncoding =
        sf.encodings.getOrElse(column, ColumnEncoding(dictionary = false))
    }
  }

  /** Raw stream access for stripe-level copy (S3, reference StripeReader). */
  def openRaw(): FSDataInputStream = in

  /** Point row access (P5, reference RecordReader.seekToRow /
    * RecordReaderImpl.java:494-543): iterator starting at absolute row
    * `rowNumber`. The decoders seek to the stride holding it via the row
    * index when present, then decode and drop the rows before it.
    */
  def rowsFrom(rowNumber: Long, readSchema: StructType): Iterator[InternalRow] =
    rowsOf(batches(footer.stripes, readSchema, from = rowNumber))

  override def close(): Unit = in.close()
}

object DwrfFileReader {
  /** A file's raw PostScript and Footer bytes with their parsed forms. */
  private[dwrf] final class Tail(val psBytes: Array[Byte],
      val footerBytes: Array[Byte], val postScript: PostScript,
      val footer: Footer, val schema: StructType) {
    /** Heap estimate: the raw bytes kept for validation plus the parsed
      * forms — the schema JSON as a string and as a StructType, one stats
      * or stripe record per column and stripe, user metadata (measured:
      * a 12-column, 1-stripe lineitem footer of 477 bytes parses to
      * ~3.7 KB; this estimates 4.5 KB). */
    val bytes: Long = psBytes.length.toLong + footerBytes.length +
      3L * footer.schemaJson.length +
      128L * (footer.fileStats.size + footer.stripes.size) +
      footer.userMetadata.valuesIterator.map(_.length.toLong).sum
  }

  /** JVM-wide LRU of parsed file tails, keyed by path and bounded by the
    * estimated bytes it holds (`MaxBytes`). It saves the footer's
    * decompress + parse and its JSON schema parse, which scan planning
    * and every task otherwise repeat for each file on every query.
    *
    * Content-validated: a reader still reads the tail on every open, and
    * reuses an entry only when the PostScript and Footer bytes it just
    * read equal the entry's — so a file rewritten in place, even with the
    * same length and mtime, is re-parsed, never served stale. Only a
    * successful parse is inserted, so a corrupt footer fails with its
    * named error on every open.
    */
  private[dwrf] object FooterCache {
    val MaxBytes: Long = 8L << 20
    private val entries = new java.util.LinkedHashMap[String, Tail](64, 0.75f, true)
    private var held = 0L

    def lookup(path: Path, psBytes: Array[Byte], footerBytes: Array[Byte]): Option[Tail] =
      Option(synchronized(entries.get(path.toString))).filter(t =>
        java.util.Arrays.equals(t.psBytes, psBytes) &&
          java.util.Arrays.equals(t.footerBytes, footerBytes))

    def put(path: Path, t: Tail): Unit = if (t.bytes <= MaxBytes) synchronized {
      val old = entries.put(path.toString, t)
      if (old != null) held -= old.bytes
      held += t.bytes
      val eldest = entries.values.iterator
      while (held > MaxBytes) { held -= eldest.next().bytes; eldest.remove() }
    }
  }
}
