package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric per-vector int8 scalar quantization (faiss `SQ8`-style) —
  * the 1 byte/dim point on the storage-precision dial between fp16
  * (2 B/dim, [[Fp16]]) and product quantization (sub-byte, [[Pq]]):
  * `scale = 127 / max|x_i|`, `code_i = clamp(floor(x_i·scale + 0.5))`.
  * `floor(x+0.5)` rather than platform round so an oracle replicates
  * every code with plain SQL `floor`; all intermediate arithmetic is
  * double, so codes and decoded values are IEEE-deterministic.
  *
  * Blob layout: 8-byte little-endian double `scale`, then one signed
  * byte per dimension — self-contained, so a stored corpus needs no
  * side table of scales.
  */
object Int8 extends Serializable {

  /** Array[Float] → [scale: f64 LE][codes: i8 × dim]. */
  def encode(a: Array[Float]): Array[Byte] = {
    var maxAbs = 0.0
    var i = 0
    while (i < a.length) {
      val x = math.abs(a(i).toDouble)
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = if (maxAbs == 0.0) 1.0 else 127.0 / maxAbs
    val out = new Array[Byte](8 + a.length)
    val bits = java.lang.Double.doubleToRawLongBits(scale)
    var b = 0
    while (b < 8) { out(b) = ((bits >>> (8 * b)) & 0xff).toByte; b += 1 }
    i = 0
    while (i < a.length) {
      val q = math.floor(a(i).toDouble * scale + 0.5)
      out(8 + i) = math.max(-127.0, math.min(127.0, q)).toInt.toByte
      i += 1
    }
    out
  }

  def scaleOf(b: Array[Byte]): Double = {
    var bits = 0L
    var i = 0
    while (i < 8) { bits |= (b(i) & 0xffL) << (8 * i); i += 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Decoded (dequantized) values, double domain: `code_i / scale`. */
  def decode(b: Array[Byte]): Array[Double] = {
    val scale = scaleOf(b)
    val out = new Array[Double](b.length - 8)
    var i = 0
    while (i < out.length) { out(i) = b(8 + i).toDouble / scale; i += 1 }
    out
  }

  /** Fused dequantize+cosine against a float query — no intermediate
    * array; element order and double accumulation mirror
    * [[VectorMath.cosineDistanceData]] so `1 - dot/(na*nb)` is
    * bit-identical to scoring the decoded array. */
  def cosineDistanceData(b: Array[Byte], q: ArrayData): Double = {
    val scale = scaleOf(b)
    val na0 = b.length - 8
    val nq = q.numElements()
    val n = math.min(na0, nq)
    var dotAQ = 0.0
    var dotAA = 0.0
    var i = 0
    while (i < n) {
      val av = b(8 + i).toDouble / scale
      dotAQ += av * q.getFloat(i).toDouble
      dotAA += av * av
      i += 1
    }
    var j = n
    while (j < na0) { val av = b(8 + j).toDouble / scale; dotAA += av * av; j += 1 }
    var dotQQ = 0.0
    var k = 0
    while (k < nq) { val qv = q.getFloat(k).toDouble; dotQQ += qv * qv; k += 1 }
    val na = math.sqrt(dotAA)
    val nb = math.sqrt(dotQQ)
    if (na == 0.0 || nb == 0.0) 1.0
    else 1.0 - dotAQ / (na * nb)
  }

  /** [[cosineDistanceData]] with the query pre-extracted and its norm
    * folded (the top-k literal-query hot loop). */
  def cosineDistancePre(b: Array[Byte], q: Array[Float], qNorm: Double): Double = {
    val scale = scaleOf(b)
    val na0 = b.length - 8
    val n = math.min(na0, q.length)
    var dotAQ = 0.0
    var dotAA = 0.0
    var i = 0
    while (i < n) {
      val av = b(8 + i).toDouble / scale
      dotAQ += av * q(i).toDouble
      dotAA += av * av
      i += 1
    }
    var j = n
    while (j < na0) { val av = b(8 + j).toDouble / scale; dotAA += av * av; j += 1 }
    val na = math.sqrt(dotAA)
    if (na == 0.0 || qNorm == 0.0) 1.0
    else 1.0 - dotAQ / (na * qNorm)
  }

  /** Cosine distance between two int8 BLOBS, scale-free: cosine divides
    * out each vector's uniform scale (cos(a/sa, b/sb) = cos(a, b)), so
    * the hot loop is three INTEGER dot products over the raw codes —
    * no dequantize, no double math until the final division. Mismatched
    * lengths follow [[cosineDistanceData]]: tail dims count toward
    * their own vector's norm only. */
  def cosineCodes(a: Array[Byte], b: Array[Byte]): Double = {
    val na0 = a.length - 8
    val nb0 = b.length - 8
    val n = math.min(na0, nb0)
    var dotAB = 0L
    var dotAA = 0L
    var dotBB = 0L
    var i = 0
    while (i < n) {
      val av = a(8 + i).toLong
      val bv = b(8 + i).toLong
      dotAB += av * bv
      dotAA += av * av
      dotBB += bv * bv
      i += 1
    }
    var j = n
    while (j < na0) { val av = a(8 + j).toLong; dotAA += av * av; j += 1 }
    var l = n
    while (l < nb0) { val bv = b(8 + l).toLong; dotBB += bv * bv; l += 1 }
    if (dotAA == 0L || dotBB == 0L) 1.0
    else 1.0 - dotAB.toDouble /
      (math.sqrt(dotAA.toDouble) * math.sqrt(dotBB.toDouble))
  }
}

/** `int8_encode(ARRAY<FLOAT>) -> BINARY` — 1 byte/dim write codec. */
case class Int8Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_encode requires ARRAY<FLOAT>, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    Int8.encode(v.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Int8.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o.encode($c.toFloatArray())")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "int8_encode"
}

/** `int8_decode(BINARY) -> ARRAY<DOUBLE>` — dequantized read. */
case class Int8Decode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_decode requires BINARY, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(Int8.decode(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Int8.getClass.getName.stripSuffix("$")
    val gad = classOf[GenericArrayData].getName
    defineCodeGen(ctx, ev, c => s"new $gad($o.decode($c))")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "int8_decode"
}

/** `int8_cosine_distance(BINARY, ARRAY<FLOAT>) -> DOUBLE` — cosine in the
  * quantized domain, fused dequantize+score (no per-row allocation); a
  * foldable query's array and norm are [[FoldedQuery]] references. */
case class Int8CosineDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"int8_cosine_distance requires (BINARY, ARRAY<FLOAT>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def nullSafeEval(b: Any, q: Any): Any =
    Int8.cosineDistanceData(
      b.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Int8.getClass.getName.stripSuffix("$")
    FoldedQuery.refs(ctx, right) match {
      case Some((qRef, qNorm)) =>
        nullSafeCodeGen(ctx, ev, (b, _) =>
          s"${ev.value} = $o.cosineDistancePre($b, $qRef, $qNorm);")
      case None =>
        nullSafeCodeGen(ctx, ev, (b, q) =>
          s"${ev.value} = $o.cosineDistanceData($b, $q);")
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "int8_cosine_distance"
}

/** `int8_cosine_codes(BINARY, BINARY) -> DOUBLE` — cosine distance
  * between two stored int8 blobs, integer-only hot loop (scales cancel
  * in cosine). The symmetric metric a compressed NN-Descent ranks by:
  * proposal joins carry 1 byte/dim instead of a 4-byte float. */
case class Int8CosineCodes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"int8_cosine_codes requires (BINARY, BINARY), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    Int8.cosineCodes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = Int8.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (a, b) => s"$o.cosineCodes($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "int8_cosine_codes"
}
