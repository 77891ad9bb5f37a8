package graft.sources.dwrf

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** Exact evaluation of pushed filters with the semantics of Spark's
  * `Filter` operator. One evaluator serves DELETE (copy-on-write rewrite
  * and merge-on-read position collection) and every dwrf scan: scans
  * through [[Pred.evalBatch]], DELETE's row matcher through
  * [[Pred.evalRow]].
  *
  * A filter tree compiles once per file. Each column binds either to a
  * slot (a row ordinal or a batch vector, with its physical type) or to
  * a per-file constant: a partition value, or NULL for a column the file
  * predates. Constant leaves fold at compile time, so a partition
  * predicate decides a whole file before any row is decoded.
  *
  * Results are three-valued, encoded F < N < T so that AND is min, OR
  * is max and NOT is 2 - x; a row is kept only on T. Comparisons follow
  * Spark: NaN equals NaN and sorts above every other double, -0.0 equals
  * 0.0, strings compare as UTF-8 bytes, `x IN ()` is false, and a NULL
  * in an IN list makes a miss NULL. Literals are converted once into the
  * column's comparison domain (long, double or string) at the table's
  * declared type, so a widened column compares at the table type.
  */
object ExactFilter {
  final val F: Byte = 0
  final val N: Byte = 1
  final val T: Byte = 2

  // ------------------------------------------------------------ gating

  /** Can this evaluator decide `f` exactly? Top-level atomic columns
    * (partition columns included) under comparisons, `<=>`, IN,
    * IS [NOT] NULL and AND/OR/NOT. Anything else — dotted struct paths,
    * `StringStartsWith`, non-atomic columns, a literal that does not
    * convert exactly — is refused, and its caller leaves it to Spark.
    */
  def owned(f: Filter, schema: StructType): Boolean = f match {
    case And(l, r) => owned(l, schema) && owned(r, schema)
    case Or(l, r) => owned(l, schema) && owned(r, schema)
    case Not(g) => owned(g, schema)
    case _: AlwaysTrue | _: AlwaysFalse => true
    case IsNull(a) => atomicType(a, schema).isDefined
    case IsNotNull(a) => atomicType(a, schema).isDefined
    case EqualTo(a, v) => convertible(a, v, schema)
    case EqualNullSafe(a, v) =>
      atomicType(a, schema).isDefined && (v == null || convertible(a, v, schema))
    case GreaterThan(a, v) => convertible(a, v, schema)
    case GreaterThanOrEqual(a, v) => convertible(a, v, schema)
    case LessThan(a, v) => convertible(a, v, schema)
    case LessThanOrEqual(a, v) => convertible(a, v, schema)
    case In(a, vs) => atomicType(a, schema).isDefined &&
      vs.forall(v => v == null || convertible(a, v, schema))
    case _ => false
  }

  /** The distinct columns `filters` reference, in first-use order. */
  def columns(filters: Seq[Filter]): Seq[String] =
    filters.flatMap(_.references.toSeq).distinct

  private def atomicType(attr: String, schema: StructType): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType).filter {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | TimestampType |
           DateType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    }

  private def convertible(attr: String, v: Any, schema: StructType): Boolean =
    v != null && atomicType(attr, schema).exists(literal(v, _).isDefined)

  // ---------------------------------------------------------- literals

  /** A filter value in its column's comparison domain. */
  private sealed trait Lit
  /** Long domain (integral, decimal unscaled, date, timestamp, boolean):
    * the value is `k` (`exact`), or lies strictly between `k` and k + 1. */
  private final case class LongLit(k: Long, exact: Boolean) extends Lit
  /** Beyond the long domain on one side: every value compares the same. */
  private final case class OutOfRange(above: Boolean) extends Lit
  private final case class DoubleLit(d: Double) extends Lit
  private final case class StringLit(s: UTF8String) extends Lit

  private val MinL = java.math.BigDecimal.valueOf(Long.MinValue)
  private val MaxL = java.math.BigDecimal.valueOf(Long.MaxValue)

  private def longDomain(b: java.math.BigDecimal): Lit = {
    val fl = b.setScale(0, java.math.RoundingMode.FLOOR)
    if (fl.compareTo(MinL) < 0) OutOfRange(above = false)
    else if (fl.compareTo(MaxL) > 0) OutOfRange(above = true)
    else LongLit(fl.longValueExact(), b.compareTo(fl) == 0)
  }

  /** Exact decimal value of an integral or decimal literal; floating
    * literals are refused (Spark compares those in the double domain). */
  private def decimalOf(v: Any): Option[java.math.BigDecimal] = v match {
    case b: java.math.BigDecimal => Some(b)
    case b: scala.math.BigDecimal => Some(b.underlying())
    case d: Decimal => Some(d.toJavaBigDecimal)
    case i: java.math.BigInteger => Some(new java.math.BigDecimal(i))
    case b: java.lang.Byte => Some(java.math.BigDecimal.valueOf(b.longValue))
    case s: java.lang.Short => Some(java.math.BigDecimal.valueOf(s.longValue))
    case i: java.lang.Integer => Some(java.math.BigDecimal.valueOf(i.longValue))
    case l: java.lang.Long => Some(java.math.BigDecimal.valueOf(l.longValue))
    case _ => None
  }

  private def literal(v: Any, dt: DataType): Option[Lit] = dt match {
    case ByteType | ShortType | IntegerType | LongType => v match {
      case b: java.lang.Byte => Some(LongLit(b.longValue, exact = true))
      case s: java.lang.Short => Some(LongLit(s.longValue, exact = true))
      case i: java.lang.Integer => Some(LongLit(i.longValue, exact = true))
      case l: java.lang.Long => Some(LongLit(l.longValue, exact = true))
      case other => decimalOf(other).map(longDomain)
    }
    case d: DecimalType => decimalOf(v).map(b => longDomain(b.movePointRight(d.scale)))
    case DateType => StatsFilter.toDays(v).map(LongLit(_, exact = true))
    case TimestampType => StatsFilter.toMicros(v).map(LongLit(_, exact = true))
    case BooleanType => v match {
      case b: java.lang.Boolean => Some(LongLit(if (b) 1L else 0L, exact = true))
      case _ => None
    }
    case FloatType | DoubleType => v match {
      case n: java.lang.Number => Some(DoubleLit(n.doubleValue))
      case _ => None
    }
    case StringType => v match {
      case s: String => Some(StringLit(UTF8String.fromString(s)))
      case u: UTF8String => Some(StringLit(u))
      case _ => None
    }
    case _ => None
  }

  // ----------------------------------------------------------- binding

  /** Where a column's values live for one file. */
  sealed trait Binding
  /** Row ordinal or batch vector index, with the physical value type. */
  final case class Slot(index: Int, dataType: DataType) extends Binding
  /** One catalyst value for every row of the file (null = all NULL). */
  final case class Constant(value: Any) extends Binding

  /** The vectors a batch evaluation reads, plus the lazy string
    * dictionary attached to each (null when none). */
  final class BatchIn(val vectors: Array[ColumnVector],
      val dicts: Array[ByteArrayDictionary])

  /** Compiles the conjunction of `filters`, all of which [[owned]]
    * accepted. `typeOf` is a column's declared table type (it fixes the
    * literal conversion); `bind` says where the column lives. Returns
    * null when the filters hold for every row of the file, and a
    * [[Const]] when they are false or NULL for every row.
    */
  def compile(filters: Seq[Filter], typeOf: String => DataType,
      bind: String => Binding): Pred =
    filters.map(compile1(_, typeOf, bind)).reduceOption(and) match {
      case None => null
      case Some(c: Const) if c.v == T => null
      case Some(p) => p
    }

  private final val EQ = 0
  private final val LT = 1
  private final val LE = 2
  private final val GT = 3
  private final val GE = 4

  private def compile1(f: Filter, typeOf: String => DataType,
      bind: String => Binding): Pred = {
    def leaf(a: String)(mk: Slot => Leaf): Pred = bind(a) match {
      case s: Slot => mk(s)
      case Constant(v) => new Const(mk(Slot(-1, typeOf(a))).evalValue(v))
    }
    def lit(a: String, v: Any): Lit = literal(v, typeOf(a)).getOrElse(
      throw new IllegalArgumentException(
        s"dwrf: filter value $v does not convert to ${typeOf(a).simpleString}"))
    def cmp(a: String, op: Int, v: Any, onNull: Byte): Pred = {
      val l = lit(a, v)
      leaf(a) { s =>
        l match {
          case LongLit(k, true) => new LongCmp(s, op, k, onNull)
          // strictly between k and k + 1: never equal, < and <= mean <= k
          case LongLit(k, false) => op match {
            case EQ => new NullTest(s, onNull, F)
            case LT | LE => new LongCmp(s, LE, k, onNull)
            case _ => new LongCmp(s, GT, k, onNull)
          }
          case OutOfRange(above) => op match {
            case EQ => new NullTest(s, onNull, F)
            case LT | LE => new NullTest(s, onNull, if (above) T else F)
            case _ => new NullTest(s, onNull, if (above) F else T)
          }
          case DoubleLit(d) => new DoubleCmp(s, op, d, onNull)
          case StringLit(u) => new StringCmp(s, op, u, onNull)
        }
      }
    }
    f match {
      case And(l, r) => and(compile1(l, typeOf, bind), compile1(r, typeOf, bind))
      case Or(l, r) => or(compile1(l, typeOf, bind), compile1(r, typeOf, bind))
      case Not(g) => not(compile1(g, typeOf, bind))
      case _: AlwaysTrue => new Const(T)
      case _: AlwaysFalse => new Const(F)
      case IsNull(a) => leaf(a)(new NullTest(_, T, F))
      case IsNotNull(a) => leaf(a)(new NullTest(_, F, T))
      case EqualNullSafe(a, null) => leaf(a)(new NullTest(_, T, F))
      case EqualNullSafe(a, v) => cmp(a, EQ, v, onNull = F)
      case EqualTo(a, v) => cmp(a, EQ, v, onNull = N)
      case LessThan(a, v) => cmp(a, LT, v, onNull = N)
      case LessThanOrEqual(a, v) => cmp(a, LE, v, onNull = N)
      case GreaterThan(a, v) => cmp(a, GT, v, onNull = N)
      case GreaterThanOrEqual(a, v) => cmp(a, GE, v, onNull = N)
      case In(_, vs) if vs.isEmpty => new Const(F)
      case In(a, vs) =>
        val onMiss = if (vs.contains(null)) N else F
        val lits = vs.iterator.filter(_ != null).map(lit(a, _)).toSeq
        leaf(a) { s =>
          if (lits.isEmpty) new NullTest(s, N, N)
          else lits.head match {
            case _: LongLit | _: OutOfRange =>
              new LongIn(s, lits.collect { case LongLit(k, true) => k }
                .distinct.sorted.toArray, onMiss)
            case _: DoubleLit =>
              val ds = lits.collect { case DoubleLit(d) => d }
              val keys = ds.filterNot(_.isNaN).map(normZero).distinct.toArray
              java.util.Arrays.sort(keys)
              new DoubleIn(s, keys, ds.exists(_.isNaN), onMiss)
            case _: StringLit =>
              val set = new java.util.HashSet[UTF8String]()
              lits.foreach { case StringLit(u) => set.add(u); case _ => () }
              new StringIn(s, set, onMiss)
          }
        }
      case other =>
        throw new IllegalStateException(s"dwrf: filter not owned by the reader: $other")
    }
  }

  private def and(l: Pred, r: Pred): Pred = (l, r) match {
    case (c: Const, d: Const) => new Const(math.min(c.v, d.v).toByte)
    case (c: Const, _) if c.v == F => c
    case (_, c: Const) if c.v == F => c
    case (c: Const, p) if c.v == T => p
    case (p, c: Const) if c.v == T => p
    case _ => new AndP(l, r)
  }

  private def or(l: Pred, r: Pred): Pred = (l, r) match {
    case (c: Const, d: Const) => new Const(math.max(c.v, d.v).toByte)
    case (c: Const, _) if c.v == T => c
    case (_, c: Const) if c.v == T => c
    case (c: Const, p) if c.v == F => p
    case (p, c: Const) if c.v == F => p
    case _ => new OrP(l, r)
  }

  private def not(p: Pred): Pred = p match {
    case c: Const => new Const((T - c.v).toByte)
    case _ => new NotP(p)
  }

  /** -0.0 → 0.0, so `java.lang.Double.compare` agrees with Spark. */
  private def normZero(d: Double): Double = if (d == 0.0) 0.0 else d

  // ------------------------------------------------------------- nodes

  /** A compiled predicate over one file's rows or batches. */
  abstract class Pred {
    def evalRow(row: InternalRow): Byte
    /** Writes rows [0, n)'s results into `out`. */
    def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit
  }

  final class Const(val v: Byte) extends Pred {
    override def evalRow(row: InternalRow): Byte = v
    override def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit =
      java.util.Arrays.fill(out, 0, n, v)
  }

  private final class AndP(l: Pred, r: Pred) extends Pred {
    private var tmp: Array[Byte] = null
    override def evalRow(row: InternalRow): Byte = {
      val a = l.evalRow(row)
      if (a == F) F else math.min(a, r.evalRow(row)).toByte
    }
    override def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      l.evalBatch(in, n, out)
      var i = 0
      while (i < n && out(i) == F) i += 1
      if (i < n) {
        if (tmp == null || tmp.length < n) tmp = new Array[Byte](n)
        r.evalBatch(in, n, tmp)
        while (i < n) { if (tmp(i) < out(i)) out(i) = tmp(i); i += 1 }
      }
    }
  }

  private final class OrP(l: Pred, r: Pred) extends Pred {
    private var tmp: Array[Byte] = null
    override def evalRow(row: InternalRow): Byte = {
      val a = l.evalRow(row)
      if (a == T) T else math.max(a, r.evalRow(row)).toByte
    }
    override def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      l.evalBatch(in, n, out)
      var i = 0
      while (i < n && out(i) == T) i += 1
      if (i < n) {
        if (tmp == null || tmp.length < n) tmp = new Array[Byte](n)
        r.evalBatch(in, n, tmp)
        while (i < n) { if (tmp(i) > out(i)) out(i) = tmp(i); i += 1 }
      }
    }
  }

  private final class NotP(c: Pred) extends Pred {
    override def evalRow(row: InternalRow): Byte = (T - c.evalRow(row)).toByte
    override def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      c.evalBatch(in, n, out)
      var i = 0
      while (i < n) { out(i) = (T - out(i)).toByte; i += 1 }
    }
  }

  /** A test of one column: `onNull` for a NULL cell, otherwise T when
    * the value passes and `onMiss` when it does not. */
  private abstract class Leaf(val slot: Slot, val onNull: Byte, val onMiss: Byte)
      extends Pred {
    protected final val ord = slot.index
    /** Result for one catalyst value (a per-file constant). */
    def evalValue(v: Any): Byte
  }

  /** Decided by nullness alone: IS [NOT] NULL, and comparisons every
    * non-null value answers alike (a literal outside the column's
    * domain, or an equality no value can meet). */
  private final class NullTest(s: Slot, nullResult: Byte, nonNullResult: Byte)
      extends Leaf(s, nullResult, nonNullResult) {
    override def evalValue(v: Any): Byte = if (v == null) onNull else onMiss
    override def evalRow(row: InternalRow): Byte =
      if (row.isNullAt(ord)) onNull else onMiss
    override def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      val v = in.vectors(ord)
      if (!v.hasNull) java.util.Arrays.fill(out, 0, n, onMiss)
      else {
        var i = 0
        while (i < n) { out(i) = if (v.isNullAt(i)) onNull else onMiss; i += 1 }
      }
    }
  }

  // ------------------------------------------------------- long domain

  // physical layouts of long-domain values: in rows and in vectors
  private final val KByte = 0
  private final val KShort = 1
  private final val KInt = 2
  private final val KLong = 3
  private final val KBool = 4
  private final val KDecimal = 5

  /** Row-side kind: decimals read as Decimal and yield their unscaled
    * long (the file and table scales agree: decimals never widen). */
  private def rowKind(dt: DataType): Int = dt match {
    case ByteType => KByte
    case ShortType => KShort
    case IntegerType | DateType => KInt
    case BooleanType => KBool
    case _: DecimalType => KDecimal
    case _ => KLong
  }

  /** Vector-side kind: short decimals live unscaled in int or long
    * vectors, exactly as the decoders store them. */
  private def vectorKind(dt: DataType): Int = dt match {
    case d: DecimalType =>
      if (d.precision <= Decimal.MAX_INT_DIGITS) KInt else KLong
    case other => rowKind(other)
  }

  private abstract class LongLeaf(s: Slot, onNull: Byte, onMiss: Byte)
      extends Leaf(s, onNull, onMiss) {
    def test(x: Long): Boolean

    private val rk = rowKind(s.dataType)
    private val vk = vectorKind(s.dataType)
    private val decimal = s.dataType match {
      case d: DecimalType => d
      case _ => null
    }
    private var xs: Array[Long] = null

    override final def evalValue(v: Any): Byte =
      if (v == null) onNull
      else {
        val x = v match {
          case b: Byte => b.toLong
          case s: Short => s.toLong
          case i: Int => i.toLong
          case l: Long => l
          case b: Boolean => if (b) 1L else 0L
          case d: Decimal => d.toUnscaledLong
          case other => throw new IllegalArgumentException(
            s"dwrf: $other is not a ${s.dataType.simpleString} value")
        }
        if (test(x)) T else onMiss
      }

    override final def evalRow(row: InternalRow): Byte =
      if (row.isNullAt(ord)) onNull
      else {
        val x = (rk: @switch) match {
          case KByte => row.getByte(ord).toLong
          case KShort => row.getShort(ord).toLong
          case KInt => row.getInt(ord).toLong
          case KBool => if (row.getBoolean(ord)) 1L else 0L
          case KDecimal =>
            row.getDecimal(ord, decimal.precision, decimal.scale).toUnscaledLong
          case _ => row.getLong(ord)
        }
        if (test(x)) T else onMiss
      }

    override final def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      val v = in.vectors(ord)
      if (xs == null || xs.length < n) xs = new Array[Long](n)
      val a = xs
      var i = 0
      (vk: @switch) match {
        case KByte => while (i < n) { a(i) = v.getByte(i); i += 1 }
        case KShort => while (i < n) { a(i) = v.getShort(i); i += 1 }
        case KInt => while (i < n) { a(i) = v.getInt(i); i += 1 }
        case KBool => while (i < n) { a(i) = if (v.getBoolean(i)) 1L else 0L; i += 1 }
        case _ => while (i < n) { a(i) = v.getLong(i); i += 1 }
      }
      i = 0
      if (v.hasNull)
        while (i < n) {
          out(i) = if (v.isNullAt(i)) onNull else if (test(a(i))) T else onMiss
          i += 1
        }
      else
        while (i < n) { out(i) = if (test(a(i))) T else onMiss; i += 1 }
    }
  }

  private final class LongCmp(s: Slot, op: Int, k: Long, onNull: Byte)
      extends LongLeaf(s, onNull, F) {
    override def test(x: Long): Boolean = (op: @switch) match {
      case EQ => x == k
      case LT => x < k
      case LE => x <= k
      case GT => x > k
      case _ => x >= k
    }
  }

  private final class LongIn(s: Slot, keys: Array[Long], onMiss: Byte)
      extends LongLeaf(s, N, onMiss) {
    override def test(x: Long): Boolean =
      java.util.Arrays.binarySearch(keys, x) >= 0
  }

  // ----------------------------------------------------- double domain

  private abstract class DoubleLeaf(s: Slot, onNull: Byte, onMiss: Byte)
      extends Leaf(s, onNull, onMiss) {
    def test(x: Double): Boolean

    private val isFloat = s.dataType == FloatType
    private var xs: Array[Double] = null

    override final def evalValue(v: Any): Byte =
      if (v == null) onNull
      else if (test(v.asInstanceOf[java.lang.Number].doubleValue)) T
      else onMiss

    override final def evalRow(row: InternalRow): Byte =
      if (row.isNullAt(ord)) onNull
      else if (test(if (isFloat) row.getFloat(ord).toDouble else row.getDouble(ord))) T
      else onMiss

    override final def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      val v = in.vectors(ord)
      if (xs == null || xs.length < n) xs = new Array[Double](n)
      val a = xs
      var i = 0
      if (isFloat) while (i < n) { a(i) = v.getFloat(i).toDouble; i += 1 }
      else while (i < n) { a(i) = v.getDouble(i); i += 1 }
      i = 0
      if (v.hasNull)
        while (i < n) {
          out(i) = if (v.isNullAt(i)) onNull else if (test(a(i))) T else onMiss
          i += 1
        }
      else
        while (i < n) { out(i) = if (test(a(i))) T else onMiss; i += 1 }
    }
  }

  /** Spark's double ordering: NaN = NaN and NaN above everything,
    * -0.0 = 0.0 (IEEE `<`/`==` already give the latter). */
  private final class DoubleCmp(s: Slot, op: Int, k: Double, onNull: Byte)
      extends DoubleLeaf(s, onNull, F) {
    private val kNaN = k.isNaN
    override def test(x: Double): Boolean =
      if (kNaN) (op: @switch) match {
        case EQ => x.isNaN
        case LT => !x.isNaN
        case LE => true
        case GT => false
        case _ => x.isNaN
      }
      else (op: @switch) match {
        case EQ => x == k
        case LT => x < k
        case LE => x <= k
        case GT => x > k || x.isNaN
        case _ => x >= k || x.isNaN
      }
  }

  /** `keys`: the non-NaN values, zero-normalized and sorted. */
  private final class DoubleIn(s: Slot, keys: Array[Double], hasNaN: Boolean,
      onMiss: Byte) extends DoubleLeaf(s, N, onMiss) {
    override def test(x: Double): Boolean =
      if (x.isNaN) hasNaN
      else java.util.Arrays.binarySearch(keys, normZero(x)) >= 0
  }

  // ----------------------------------------------------- string domain

  private abstract class StringLeaf(s: Slot, onNull: Byte, onMiss: Byte)
      extends Leaf(s, onNull, onMiss) {
    def test(x: UTF8String): Boolean

    // a dictionary is tested once per entry (per stripe); its batches
    // then look results up by id
    private var dict: ByteArrayDictionary = null
    private var dictResults: Array[Byte] = null

    override final def evalValue(v: Any): Byte =
      if (v == null) onNull else if (test(v.asInstanceOf[UTF8String])) T else onMiss

    override final def evalRow(row: InternalRow): Byte =
      if (row.isNullAt(ord)) onNull
      else if (test(row.getUTF8String(ord))) T
      else onMiss

    override final def evalBatch(in: BatchIn, n: Int, out: Array[Byte]): Unit = {
      val v = in.vectors(ord)
      val d = in.dicts(ord)
      val nulls = v.hasNull
      var i = 0
      if (d != null) {
        if (d ne dict) {
          val res = new Array[Byte](d.size)
          var e = 0
          while (e < res.length) {
            res(e) = if (test(UTF8String.fromBytes(d.decodeToBinary(e)))) T else onMiss
            e += 1
          }
          dict = d
          dictResults = res
        }
        val ids = v.asInstanceOf[WritableColumnVector].getDictionaryIds
        val res = dictResults
        while (i < n) {
          out(i) = if (nulls && v.isNullAt(i)) onNull else res(ids.getInt(i))
          i += 1
        }
      } else
        while (i < n) {
          out(i) = if (nulls && v.isNullAt(i)) onNull
            else if (test(v.getUTF8String(i))) T else onMiss
          i += 1
        }
    }
  }

  private final class StringCmp(s: Slot, op: Int, k: UTF8String, onNull: Byte)
      extends StringLeaf(s, onNull, F) {
    override def test(x: UTF8String): Boolean = (op: @switch) match {
      case EQ => x == k
      case LT => x.compareTo(k) < 0
      case LE => x.compareTo(k) <= 0
      case GT => x.compareTo(k) > 0
      case _ => x.compareTo(k) >= 0
    }
  }

  private final class StringIn(s: Slot, keys: java.util.HashSet[UTF8String],
      onMiss: Byte) extends StringLeaf(s, N, onMiss) {
    override def test(x: UTF8String): Boolean = keys.contains(x)
  }

  // --------------------------------------------------------- selection

  /** Indices of the rows in [0, n) whose result is T, written into
    * `sel`; returns how many. */
  def select(results: Array[Byte], n: Int, sel: Array[Int]): Int = {
    var k = 0
    var i = 0
    while (i < n) {
      if (results(i) == T) { sel(k) = i; k += 1 }
      i += 1
    }
    k
  }
}
