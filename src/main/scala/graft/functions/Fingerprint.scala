package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing-style document fingerprint kernel: min over all `window`-byte
  * windows of a polynomial rolling hash. Deterministic, order-sensitive,
  * robust to small appends — the classic near-dup fingerprint primitive.
  * Kept in a plain object so generated code can call it statically.
  */
object FingerprintKernel {
  final val Base = 1000003L

  def compute(s: UTF8String, window: Int): Long = {
    val b = s.getBytes
    val n = b.length
    if (n == 0) return 0L
    val w = math.min(window, n)
    // B^(w-1) for the rolling subtract
    var pow = 1L
    var j = 1
    while (j < w) { pow *= Base; j += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = h * Base + (b(i) & 0xff); i += 1 }
    var best = mix(h)
    while (i < n) {
      h = (h - (b(i - w) & 0xff) * pow) * Base + (b(i) & 0xff)
      val m = mix(h)
      if (java.lang.Long.compareUnsigned(m, best) < 0) best = m
      i += 1
    }
    best
  }

  /** Final avalanche (splitmix64 tail) so near-equal windows spread. */
  def mix(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Whole-span string hash: the same polynomial-then-splitmix pipeline
    * as the fingerprint windows, over `bytes[from, until)`. This is the
    * dedup tier's base hash (shingles, simhash words): unlike xxhash64
    * it is re-derivable in the DuckDB oracle with plain HUGEINT
    * arithmetic (see TextQueries.fingerprintOracle's u64/mul64
    * emulation), so the MinHash/SimHash candidate sets become
    * three-way oracle-checkable instead of rows-only.
    */
  def strHash(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    mix(h)
  }

  def strHash(s: UTF8String): Long = {
    val b = s.getBytes
    strHash(b, 0, b.length)
  }
}

/** 64-bit scalar hash of a string — `mix_hash64(s)`: polynomial base
  * 1000003 over the UTF-8 bytes, splitmix64 finalizer. The dedup tier's
  * word/shingle hash; chosen over xxhash64 because the DuckDB oracle can
  * recompute it bit-for-bit (fixed-size wrapping arithmetic only).
  */
case class MixHash64(child: Expression) extends UnaryExpression {

  // analysis-time type guard: without it, mix_hash64(123) passes
  // analysis and dies at runtime with a ClassCastException in codegen
  // (AbstractDataType/ExpectsInputTypes is private[sql], so the public
  // checkInputDataTypes hook carries the same contract). NullType is
  // accepted — mix_hash64(NULL) analyzed fine before the guard and
  // yields NULL via nullSafeEval
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType ||
      child.dataType == org.apache.spark.sql.types.NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mix_hash64 requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    FingerprintKernel.strHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FingerprintKernel.strHash($c);")

  override protected def withNewChildInternal(newChild: Expression): MixHash64 =
    copy(child = newChild)

  override def prettyName: String = "mix_hash64"
}

/** Catalyst expression for [[FingerprintKernel]] — a native, codegen'd
  * scalar (stays inside whole-stage codegen; no UDF serialization), the
  * preferred extension shape per the build brief.
  */
case class DocFingerprint(child: Expression, window: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType ||
      child.dataType == org.apache.spark.sql.types.NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"doc_fingerprint requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    FingerprintKernel.compute(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FingerprintKernel.compute($c, $window);")

  override protected def withNewChildInternal(newChild: Expression): DocFingerprint =
    copy(child = newChild)

  override def prettyName: String = "doc_fingerprint"
}

object GraftFunctions {
  /** Register graft's native expressions for SQL / expr() use, e.g.
    * `doc_fingerprint(text[, window])` (scalar) and `mg_topk(col, k)`
    * (aggregate). Idempotent per session. Distinct counts and quantiles
    * have no graft function: queries use Spark's built-in
    * `theta_sketch_agg` and `kll_sketch_agg_*`.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "doc_fingerprint",
      {
        case Seq(child) => DocFingerprint(child, 16)
        case Seq(child, Literal(w: Int, _)) => DocFingerprint(child, w)
        case other => throw new IllegalArgumentException(
          s"doc_fingerprint(text[, window]): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mix_hash64",
      {
        case Seq(child) => MixHash64(child)
        case other => throw new IllegalArgumentException(
          s"mix_hash64(s): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingle_hashes",
      {
        case Seq(child, Literal(n: Int, _)) => WordShingleHashes(child, n)
        case other => throw new IllegalArgumentException(
          s"word_shingle_hashes(text, n): got $other")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      {
        case Seq(child, Literal(n: Int, _), Literal(k: Int, _)) =>
          MinHashSignature(child, n, k)
        case other => throw new IllegalArgumentException(
          s"minhash_signature(text, n, k): got $other")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_order",
      {
        case Seq(a, b) => ZOrder2(
          org.apache.spark.sql.catalyst.expressions.Cast(a, LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(b, LongType))
        case args if args.size >= 3 => ZOrderN(args.map(
          org.apache.spark.sql.catalyst.expressions.Cast(_, LongType)))
        case other => throw new IllegalArgumentException(
          s"z_order(x, y[, ...]): needs >= 2 args, got ${other.size}")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      {
        case Seq(child) => SimHash64Agg(child).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"simhash64(wh): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot",
      {
        case Seq(a, b) => VecDot(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_dot(a, b): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot_exact",
      {
        case Seq(a, b) => VecDotExact(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_dot_exact(a, b): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_l2sq",
      {
        case Seq(a, b) => VecL2Sq(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_l2sq(a, b): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_adc",
      {
        case Seq(a, b) => VecAdc(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_adc(lut, codes): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_adc_exact",
      {
        case Seq(a, b) => VecAdcExact(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_adc_exact(lut, codes): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_adc_packed",
      {
        case Seq(a, b) => VecAdcPacked(a, b)
        case other => throw new IllegalArgumentException(
          s"vec_adc_packed(lut, code64): got ${other.size} args")
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mg_topk",
      {
        case Seq(child, Literal(k: Int, _)) =>
          MgTopK(child, k).toAggregateExpression()
        case Seq(child, Literal(k: Long, _)) =>
          MgTopK(child, k.toInt).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"mg_topk(col, k): k must be an integer literal, got $other")
      },
      "built-in")
  }
}
