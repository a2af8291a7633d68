package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** IEEE-754 half-precision codec for embedding storage — the engine's
  * analog of the reference's `HALVEC(3072)` column (pgvector fp16,
  * readwise_vector_db/models/highlight.py:24-26): embeddings persist as
  * 2 bytes/dim BINARY (50% of fp32 parquet) and widen back to
  * `ARRAY<FLOAT>` at read. Round-to-nearest-even, same as pgvector's
  * float→half conversion; compute stays fp32/fp64 (SURVEY.md §7.4).
  */
object Fp16 extends Serializable {

  /** float32 → float16 bits, round-to-nearest-even (no Java 20 intrinsics
    * on 17 — standard bit algorithm). */
  def floatToHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val e = (bits >>> 23) & 0xff
    val m = bits & 0x7fffff
    if (e == 0xff) { // Inf / NaN
      (sign | 0x7c00 | (if (m != 0) 0x200 else 0)).toShort
    } else {
      val e16 = e - 127 + 15
      if (e16 >= 0x1f) (sign | 0x7c00).toShort // overflow → Inf
      else if (e16 <= 0) { // subnormal / underflow
        if (e16 < -10) sign.toShort
        else {
          val m24 = m | 0x800000
          val shift = 14 - e16
          val half = m24 >>> shift
          val rem = m24 & ((1 << shift) - 1)
          val mid = 1 << (shift - 1)
          val rounded =
            if (rem > mid || (rem == mid && (half & 1) == 1)) half + 1 else half
          (sign | rounded).toShort
        }
      } else {
        val half = m >>> 13
        val rem = m & 0x1fff
        val rounded =
          if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1)) half + 1
          else half
        // mantissa carry can overflow into the exponent — the add does the
        // right thing because the layout is contiguous
        (sign | ((e16 << 10) + rounded)).toShort
      }
    }
  }

  /** All 65536 half bit-patterns decoded once per JVM — the read hot path
    * is a single array load instead of branchy bit surgery. */
  private lazy val HalfLut: Array[Float] =
    Array.tabulate(65536)(i => halfToFloatCompute(i.toShort))

  def halfToFloat(h: Short): Float = HalfLut(h & 0xffff)

  private def halfToFloatCompute(h: Short): Float = {
    val sign = (h & 0x8000) << 16
    val e = (h >>> 10) & 0x1f
    val m = h & 0x3ff
    val bits =
      if (e == 0) {
        if (m == 0) sign
        else { // subnormal: normalize
          var mm = m
          var ee = -1
          while ((mm & 0x400) == 0) { mm <<= 1; ee += 1 }
          sign | ((127 - 15 - ee) << 23) | ((mm & 0x3ff) << 13)
        }
      } else if (e == 0x1f) sign | 0x7f800000 | (m << 13)
      else sign | ((e - 15 + 127) << 23) | (m << 13)
    java.lang.Float.intBitsToFloat(bits)
  }

  /** Array[Float] → little-endian 2-byte-per-element blob. */
  def encode(a: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](a.length * 2)
    var i = 0
    while (i < a.length) {
      val h = floatToHalf(a(i))
      out(2 * i) = (h & 0xff).toByte
      out(2 * i + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def decode(b: Array[Byte]): Array[Float] = {
    val out = new Array[Float](b.length / 2)
    var i = 0
    while (i < out.length) {
      val h = ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)).toShort
      out(i) = halfToFloat(h)
      i += 1
    }
    out
  }
}

/** `fp16_encode(ARRAY<FLOAT>) -> BINARY` — storage-halving write codec. */
case class Fp16Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fp16_encode requires ARRAY<FLOAT>, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    Fp16.encode(v.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Fp16.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o.encode($c.toFloatArray())")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "fp16_encode"
}

/** `fp16_cosine_distance(BINARY, ARRAY<FLOAT>) -> DOUBLE` — cosine distance
  * computed directly in the half-encoded domain: each element decodes via
  * the [[Fp16]] LUT and widens to double, with no intermediate Array[Float]
  * allocation per row. Bit-identical to
  * `cosine_distance(fp16_decode(b), q)`; the [[FuseFp16Cosine]] rule
  * rewrites that composition into this automatically. */
case class Fp16CosineDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"fp16_cosine_distance requires (BINARY, ARRAY<FLOAT>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def nullSafeEval(b: Any, q: Any): Any =
    VectorMath.cosineDistanceHalfData(
      b.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vm = VectorMath.getClass.getName.stripSuffix("$")
    FoldedQuery.refs(ctx, right) match {
      case Some((qRef, qNorm)) =>
        nullSafeCodeGen(ctx, ev, (b, _) =>
          s"${ev.value} = $vm.cosineDistanceHalfPre($b, $qRef, $qNorm);")
      case None =>
        nullSafeCodeGen(ctx, ev, (b, q) =>
          s"${ev.value} = $vm.cosineDistanceHalfData($b, $q);")
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "fp16_cosine_distance"
}

/** Optimizer rule: `cosine_distance(fp16_decode(b), q)` (either side) →
  * [[Fp16CosineDistance]] — scoring encoded embeddings never materializes
  * the widened float array. Cosine is symmetric and both forms accumulate
  * in index order, so the rewrite is bit-exact.
  *
  * Also strips the decode out of null checks: `fp16_decode` is
  * null-intolerant and returns non-null for every non-null input, so
  * `isnotnull(fp16_decode(b))` ≡ `isnotnull(b)` — without this, the
  * constraint-inferred null filter above an fp16 store would decode every
  * blob a second time just to test for null, and the plain `isnotnull(b)`
  * form is parquet-pushable. */
object FuseFp16Cosine extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.IsNotNull
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case CosineDistance(Fp16Decode(b), q) => Fp16CosineDistance(b, q)
      case CosineDistance(q, Fp16Decode(b)) => Fp16CosineDistance(b, q)
      case IsNotNull(Fp16Decode(b)) => IsNotNull(b)
    }
}

/** `fp16_decode(BINARY) -> ARRAY<FLOAT>` — read-side widening. */
case class Fp16Decode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fp16_decode requires BINARY, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Fp16.decode(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Fp16.getClass.getName.stripSuffix("$")
    val gad = classOf[GenericArrayData].getName
    defineCodeGen(ctx, ev, c => s"new $gad($o.decode($c))")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "fp16_decode"
}
