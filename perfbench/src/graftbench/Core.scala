package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** One named measurement with its unit, as printed in the report. */
final case class Metric(name: String, value: Double, unit: String)

/** Order-independent content fingerprint of a relation: row count plus the
  * wrapping sum of a 64-bit hash of every row's UnsafeRow bytes. Two
  * relations with the same schema and the same multiset of rows agree,
  * whatever their partitioning or row order. Computing it reads every
  * column of every row, so it is also the benchmark's "compute every output
  * column" action (never `count()`, which lets Catalyst prune columns).
  */
final case class Checksum(rows: Long, sum: Long) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, sum + o.sum)
  def -(o: Checksum): Checksum = Checksum(rows - o.rows, sum - o.sum)
  override def toString: String = f"rows=$rows sum=$sum%016x"
}

object Checksum {
  /** Checksum of `df`, executed through its own QueryExecution so the
    * caller can read that plan's metrics afterwards. */
  def of(df: DataFrame): Checksum = ofPlan(df.queryExecution)

  def ofPlan(qe: QueryExecution): Checksum = {
    val schema = qe.analyzed.schema
    qe.toRdd.mapPartitions(it => Iterator.single(ofRows(schema, it))).collect()
      .foldLeft(Checksum(0L, 0L))(_ + _)
  }

  /** Checksums of the rows of `df` each predicate selects, in one pass:
    * entry i equals `of(df.filter(preds(i)))`. */
  def ofFilters(df: DataFrame, preds: Seq[Column]): IndexedSeq[Checksum] = {
    val n = preds.size
    val data = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(n + i, f.dataType, f.nullable)
    }
    val flagged = df.select(preds.zipWithIndex.map { case (p, i) => p.as(s"_pred$i") } ++
      df.columns.map(df(_)): _*)
    flagged.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(data)
      val acc = Array.fill(n)(Checksum(0L, 0L))
      it.foreach { row =>
        val r = proj(row)
        val one = Checksum(1L, XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L))
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i) && row.getBoolean(i)) acc(i) += one
          i += 1
        }
      }
      Iterator.single(acc.toIndexedSeq)
    }.collect().reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  /** Checksum of one stream of rows; [[ofPlan]] adds these up over partitions. */
  def ofRows(schema: StructType, rows: Iterator[InternalRow]): Checksum = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L
    var s = 0L
    rows.foreach { row =>
      val r = proj(row)
      s += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
      n += 1
    }
    Checksum(n, s)
  }
}

/** One timed call into the system. `prepare` and `check` run untimed around
  * the timed `run`; `check` returns an error message when the output is
  * wrong, which counts the op as failed. */
abstract class Op(val kind: String) {
  def prepare(): Unit = ()
  def run(): Unit
  def check(): Option[String]
  /** Query executions the op ran directly (read metrics come from these). */
  val plans: mutable.ArrayBuffer[QueryExecution] = mutable.ArrayBuffer.empty
  /** Rows the op's predicate matches, when it has one (waste ratio base). */
  var rowsMatched: Long = -1L
  protected def checksum(df: DataFrame): Checksum = {
    plans += df.queryExecution
    Checksum.of(df)
  }
  protected def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$kind: $what: got $got, want $want")
}

/** What one completed op left behind. */
final case class OpRecord(id: Long, kind: String, startMs: Double,
    endMs: Double, cpuNs: Long, error: Option[String], traced: Boolean, op: Op) {
  def ms: Double = endMs - startMs
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Fewest samples a tail is reported for: with fewer, the percentile
    * that leaves ten samples above it would be the median or below. */
  val MinTailSamples = 20

  /** The highest percentile that still leaves at least ten samples above
    * it, as (percentile, value); None below [[MinTailSamples]] samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < MinTailSamples) None
    else {
      val q = 1.0 - 10.0 / xs.size
      Some((q * 100, quantile(xs, q)))
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with nanosecond resolution, on the same epoch
    * as Spark's listener timestamps. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, all threads. */
  def processCpuNs: Long = os.getProcessCpuTime
}
