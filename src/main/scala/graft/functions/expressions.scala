package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/text kernels. Native (vs a
  * Scala UDF) so Catalyst sees through them: null-intolerance, codegen via
  * static calls into [[VectorOps]], no Row boxing on the float arrays.
  *
  * Re-expresses, Spark-side, what the reference delegates to pgvector
  * (similarity: reference src/clients/vector-client.ts:396-415) and to
  * OpenAI (embedding: vector-client.ts:375-388).
  */
abstract class BinaryFloatArrayExpression extends BinaryExpression
    with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def kernel: String // static method name on VectorOps
  protected def compute(x: Array[Float], y: Array[Float]): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.$kernel($a.toFloatArray(), $b.toFloatArray());")
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryFloatArrayExpression {
  override def prettyName: String = "cosine_sim"
  protected def kernel = "cosine"
  protected def compute(x: Array[Float], y: Array[Float]): Double = VectorOps.cosine(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryFloatArrayExpression {
  override def prettyName: String = "dot_product"
  protected def kernel = "dot"
  protected def compute(x: Array[Float], y: Array[Float]): Double = VectorOps.dot(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2Distance(left: Expression, right: Expression)
    extends BinaryFloatArrayExpression {
  override def prettyName: String = "l2_dist_sq"
  protected def kernel = "l2Sq"
  protected def compute(x: Array[Float], y: Array[Float]): Double = VectorOps.l2Sq(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2Norm(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "l2_norm"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any): Any =
    VectorOps.l2Norm(a.asInstanceOf[ArrayData].toFloatArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorOps.l2Norm($a.toFloatArray());")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `l2_normalize(v)`: `v` over its L2 norm, in double
  * ([[VectorOps.l2Normalize]]) — every index family's normalization.
  */
case class L2Normalize(child: Expression) extends UnaryExpression
    with ExpectsInputTypes with Serializable {
  override def prettyName: String = "l2_normalize"
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      VectorOps.l2Normalize(a.asInstanceOf[ArrayData].toDoubleArray()))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.VectorOps.l2Normalize($a.toDoubleArray()));"""
        .stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic hashing embedder: text -> array<float> of dimension `dim`
  * (a foldable int). Engine-local stand-in for the reference's network
  * embedding call (vector-client.ts:375-388).
  */
case class HashEmbed(child: Expression, dimExpr: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "hash_embed"
  override def left: Expression = child
  override def right: Expression = dimExpr
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(t: Any, d: Any): Any =
    new GenericArrayData(
      VectorOps.hashEmbed(t.asInstanceOf[UTF8String].toString, d.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorOps.hashEmbed($t.toString(), $d));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, dimExpr = r)
}

/** 64-bit SimHash fingerprint of a string (near-dup detection). */
case class SimHash64(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any): Any =
    VectorOps.simhash64(a.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorOps.simhash64($a.toString());")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `byte_histogram(binary, bins)` -> array<long> of byte-bucket counts
  * (multimodal feature extraction over opaque media payloads).
  */
case class ByteHistogram(child: Expression, binsExpr: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "byte_histogram"
  override def left: Expression = child
  override def right: Expression = binsExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(b: Any, n: Any): Any =
    new GenericArrayData(
      VectorOps.byteHistogram(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, n) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorOps.byteHistogram($b, $n));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, binsExpr = r)
}

/** `byte_stride(binary, stride)` -> binary of every stride-th byte
  * (deterministic media downsample stand-in).
  */
case class ByteStride(child: Expression, strideExpr: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "byte_stride"
  override def left: Expression = child
  override def right: Expression = strideExpr
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(b: Any, s: Any): Any =
    VectorOps.byteStride(b.asInstanceOf[Array[Byte]], s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, s) =>
      s"${ev.value} = graft.functions.VectorOps.byteStride($b, $s);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, strideExpr = r)
}

/** Polynomial rolling-hash content fingerprint. */
case class RollingHash(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "rolling_hash"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any): Any =
    VectorOps.rollingHash(a.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorOps.rollingHash($a.toString());")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic ±1 random projection of a float vector to `m` dims
  * ([[VectorOps.rpProject]]) — the dimensionality-reduction half of
  * compressed retrieval (the value-quantization half is
  * [[graft.query.QuantizedSearch]]).
  */
case class RpProject(child: Expression, mExpr: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "rp_project"
  override def left: Expression = child
  override def right: Expression = mExpr
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any, m: Any): Any =
    new GenericArrayData(
      VectorOps.rpProject(
        v.asInstanceOf[ArrayData].toFloatArray(), m.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.VectorOps.rpProject($v.toFloatArray(), $m));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, mExpr = r)
}

/** Product-quantization ADC distance sum: `pq_adc(codes, lut)` =
  * Σ_m lut[m·K + codes[m]] over a flat per-query lookup table of
  * K = lut.length / codes.length entries per subspace — the inner
  * kernel of [[graft.query.IvfPq]]'s compressed code scan, native
  * (with codegen) because it runs once per (corpus vector × query)
  * on the hot path where an interpreted higher-order fold pays
  * per-element lambda dispatch.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // declared input types: the Column wrapper casts, but the SQL
  // registry builds this with raw children — without the declaration
  // an array<bigint> codes column would reach toIntArray and be
  // MISREAD (4-byte strides over 8-byte data) into garbage codes that
  // can land in [0, K) and silently produce a wrong ADC sum; with it,
  // mistyped input fails analysis instead
  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(DoubleType))

  override def nullSafeEval(codes: Any, lut: Any): Any =
    VectorOps.pqAdc(
      codes.asInstanceOf[ArrayData].toIntArray(),
      lut.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.functions.VectorOps.pqAdc($c.toIntArray(), $l.toDoubleArray());")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Executor-side Bloom-filter membership over a driver-foldable
  * serialized filter (`org.apache.spark.util.sketch.BloomFilter`
  * bytes). The filter deserializes ONCE per task (codegen holds it as
  * a reference object; the interpreted path memoizes the lazy val) and
  * the probe stays inside whole-stage codegen — the membership test a
  * scan-side decontamination pre-filter needs without joining.
  * Utf8 bytes probe `mightContainBinary`, which is bit-identical to
  * how `DataFrameStatFunctions.bloomFilter` inserts strings.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  // Deserialized-filter cache keyed on the bytes' object identity: a
  // Literal/foldable filter (the intended use) yields the same array
  // instance every call, so it deserializes exactly once per task; a
  // non-foldable source stays correct but re-deserializes per new
  // instance. The (bytes, filter) pair lives in ONE volatile field so a
  // concurrent evaluation can never observe a filter paired with the
  // other thread's bytes — racing threads at worst both deserialize.
  @transient @volatile private var cached
      : (Array[Byte], org.apache.spark.util.sketch.BloomFilter) = _

  def probe(bytes: Array[Byte], value: UTF8String): Boolean = {
    var c = cached
    if ((c eq null) || (c._1 ne bytes)) {
      c = (bytes, org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
      cached = c
    }
    c._2.mightContainBinary(value.getBytes)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    probe(a.asInstanceOf[Array[Byte]], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (bits, v) =>
      s"${ev.value} = $ref.probe($bits, $v);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
