package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector math over `ARRAY<FLOAT>` embedding columns as native Catalyst
  * expressions (codegen'd, whole-stage-compatible) — the Spark-first
  * replacement for the pgvector `<=>` operator the reference leans on
  * (reference: readwise_vector_db/db/supabase_ops.py:267, cosine distance
  * `embedding <=> $1::halfvec`).
  *
  * All accumulation is in Double (each Float operand widened before
  * multiply), which makes results bit-identical to an oracle that casts the
  * float list to DOUBLE[] and sums sequentially.
  */
object VectorMath extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Sequential dot product, Double accumulation. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** Cosine distance = 1 − cos(a,b); zero-norm input → 1.0 (max distance,
    * matching "no similarity" rather than NaN). */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a)
    val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dot(a, b) / (na * nb)
  }

  def l2Distance(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  // ---- ArrayData-direct hot path (no per-row Array[Float] copy) ----------
  // The codegen of the vector expressions calls these against Spark's
  // columnar/unsafe array representations directly; identical sequential
  // double accumulation, so results are bit-identical to the copying forms.

  def dotData(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def normData(a: ArrayData): Double = math.sqrt(dotData(a, a))

  def cosineDistanceData(a: ArrayData, b: ArrayData): Double = {
    val na = normData(a)
    val nb = normData(b)
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dotData(a, b) / (na * nb)
  }

  /** Cosine against a pre-extracted query vector with a precomputed norm —
    * the top-k search hot loop (the query side is a literal; its norm is
    * folded once at codegen instead of recomputed per corpus row). */
  def cosineDistancePre(a: ArrayData, q: Array[Float], qNorm: Double): Double = {
    val n = math.min(a.numElements(), q.length)
    var dotAQ = 0.0
    var dotAA = 0.0
    var i = 0
    while (i < n) {
      val av = a.getFloat(i).toDouble
      dotAQ += av * q(i).toDouble
      dotAA += av * av
      i += 1
    }
    // keep exact parity with cosineDistance: norm(a) sums ALL of a's
    // elements even when q is shorter
    var j = n
    val m = a.numElements()
    while (j < m) { val av = a.getFloat(j).toDouble; dotAA += av * av; j += 1 }
    val na = math.sqrt(dotAA)
    if (na == 0.0 || qNorm == 0.0) 1.0
    else 1.0 - dotAQ / (na * qNorm)
  }

  // ---- fp16-domain forms: corpus vectors stay as the 2-byte-per-dim blob
  // (no intermediate Array[Float] allocation); each element decodes via the
  // Fp16 LUT and widens to Double, so results are bit-identical to
  // fp16_decode → cosineDistance.

  @inline private def halfElem(b: Array[Byte], i: Int): Double =
    Fp16.halfToFloat(
      ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)).toShort).toDouble

  def cosineDistanceHalfData(b: Array[Byte], q: ArrayData): Double = {
    val na0 = b.length / 2
    val nq = q.numElements()
    val n = math.min(na0, nq)
    var dotAQ = 0.0
    var dotAA = 0.0
    var i = 0
    while (i < n) {
      val av = halfElem(b, i)
      dotAQ += av * q.getFloat(i).toDouble
      dotAA += av * av
      i += 1
    }
    var j = n
    while (j < na0) { val av = halfElem(b, j); dotAA += av * av; j += 1 }
    var dotQQ = 0.0
    var k = 0
    while (k < nq) { val qv = q.getFloat(k).toDouble; dotQQ += qv * qv; k += 1 }
    val na = math.sqrt(dotAA)
    val nb = math.sqrt(dotQQ)
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dotAQ / (na * nb)
  }

  /** fp16 corpus × pre-extracted literal query with folded norm — the
    * 3072-dim top-k hot loop: one pass, no decode allocation. */
  def cosineDistanceHalfPre(b: Array[Byte], q: Array[Float], qNorm: Double): Double = {
    val na0 = b.length / 2
    val n = math.min(na0, q.length)
    var dotAQ = 0.0
    var dotAA = 0.0
    var i = 0
    while (i < n) {
      val av = halfElem(b, i)
      dotAQ += av * q(i).toDouble
      dotAA += av * av
      i += 1
    }
    var j = n
    while (j < na0) { val av = halfElem(b, j); dotAA += av * av; j += 1 }
    val na = math.sqrt(dotAA)
    if (na == 0.0 || qNorm == 0.0) 1.0
    else 1.0 - dotAQ / (na * qNorm)
  }

  def l2DistanceData(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }
}

abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Fully-qualified static method on [[VectorMath]] to invoke — the
    * ArrayData-direct form (no per-row array copy). */
  protected def mathFn: String

  protected def compute(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // static forwarders on the object's companion class — Janino-resolvable
    val vm = VectorMath.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $vm.$mathFn($a, $b);")
  }
}

/** The codegen references of a foldable query operand — the query
  * array and its norm, extracted ONCE at codegen so the per-row work is
  * one fused dot+self-norm pass over the corpus vector. BOTH ride in the
  * generated class's `references`, never as literals: the generated code
  * is then the same for every query vector and Spark's codegen cache
  * hits, where a literal norm compiled a new class per query. None when
  * the operand is not foldable or folds to null. */
private[functions] object FoldedQuery {
  def refs(ctx: CodegenContext, query: Expression): Option[(String, String)] =
    if (!query.foldable) None
    else Option(query.eval(null)).map { v =>
      val q = v.asInstanceOf[ArrayData].toFloatArray()
      val norm = java.lang.Double.valueOf(VectorMath.norm(q))
      (ctx.addReferenceObj("queryVec", q, "float[]"),
        ctx.addReferenceObj("queryNorm", norm, "java.lang.Double") +
          ".doubleValue()")
    }
}

/** pgvector `<=>` equivalent (cosine distance). When the query side is
  * foldable (the overwhelmingly common top-k case: `cosine_distance(col,
  * lit(queryVec))`), its array and norm are [[FoldedQuery]] references. */
case class CosineDistance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override protected def mathFn: String = "cosineDistanceData"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    VectorMath.cosineDistanceData(a, b)
  override def prettyName: String = "cosine_distance"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vm = VectorMath.getClass.getName.stripSuffix("$")
    FoldedQuery.refs(ctx, right) match {
      case Some((qRef, qNorm)) =>
        nullSafeCodeGen(ctx, ev, (a, _) =>
          s"${ev.value} = $vm.cosineDistancePre($a, $qRef, $qNorm);")
      case None => super.doGenCode(ctx, ev)
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pgvector `<#>` equivalent is −dot; we expose plain dot product. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override protected def mathFn: String = "dotData"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    VectorMath.dotData(a, b)
  override def prettyName: String = "dot_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pgvector `<->` equivalent (Euclidean distance). */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override protected def mathFn: String = "l2DistanceData"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    VectorMath.l2DistanceData(a, b)
  override def prettyName: String = "l2_distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
