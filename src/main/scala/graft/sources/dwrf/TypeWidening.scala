package graft.sources.dwrf

import org.apache.spark.sql.types._

/** Schema evolution beyond add/drop: numeric type WIDENING across file
  * generations (int→long, float→double — common when a long-lived
  * dataset's producer upgrades a column). `inferSchema` merges to the
  * widest type; files written with the narrower one decode as written
  * and store into vectors of the wider type ([[VectorDecoder.create]]),
  * recursively through structs/arrays/maps.
  * Narrowing (or int↔float drift) stays a hard error at merge time —
  * an upcast never loses a value, anything else could.
  */
object TypeWidening {

  private val intRank: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
  private val fpRank: Map[DataType, Int] =
    Map(FloatType -> 0, DoubleType -> 1)

  /** The narrowest common supertype under widening, if one exists. */
  def widen(a: DataType, b: DataType): Option[DataType] =
    if (a == b) Some(a)
    else (intRank.get(a), intRank.get(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ => (fpRank.get(a), fpRank.get(b)) match {
        case (Some(x), Some(y)) => Some(if (x >= y) a else b)
        case _ => (a, b) match {
          case (sa: StructType, sb: StructType)
              if sa.fieldNames.sameElements(sb.fieldNames) =>
            val fields = sa.fields.zip(sb.fields).map { case (fa, fb) =>
              widen(fa.dataType, fb.dataType).map(dt =>
                fa.copy(dataType = dt, nullable = fa.nullable || fb.nullable))
            }
            if (fields.forall(_.isDefined)) Some(StructType(fields.map(_.get)))
            else None
          case (ArrayType(ea, na), ArrayType(eb, nb)) =>
            widen(ea, eb).map(e => ArrayType(e, na || nb))
          case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
            for { k <- widen(ka, kb); v <- widen(va, vb) }
              yield MapType(k, v, na || nb)
          case _ => None
        }
      }
    }
}
