package graft.fn

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen embedding math (VERDICT r2 item 1): the kernels in
  * [[VecKernels]] exposed as Catalyst expressions, replacing the
  * interpreted `aggregate(zip_with(...))` folds that dominated the
  * round-2 bench (q74/q67/q73/q70/q71). `ImplicitCastInputTypes`
  * inserts the `array<float> → array<double>` cast automatically for
  * the raw `embeddings.embedding` column.
  *
  * The kernels return a boxed Double: null beyond their inputs
  * (length mismatch / null element → null, mirroring the HOF
  * semantics — see the [[VecKernels]] note), so the result is always
  * nullable.
  */
abstract class VecBinaryExpression extends BinaryExpression
  with ImplicitCastInputTypes with KernelCall {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
}

/** Σ left(i)·right(i), left-to-right — SQL `dot_product`. */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends VecBinaryExpression {
  override def prettyName: String = "dot_product"
  override protected def kernel: Expression =
    Kernel.call(VecKernels, "dotBoxed", DoubleType, left, right)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine similarity — SQL `cosine_sim`. */
case class CosineSim(left: Expression, right: Expression)
  extends VecBinaryExpression {
  override def prettyName: String = "cosine_sim"
  override protected def kernel: Expression =
    Kernel.call(VecKernels, "cosineBoxed", DoubleType, left, right)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused quantized cosine `cos(fp, q·scale)` — the int8-candidate
  * scoring kernel ([[VecKernels.cosineQ8Boxed]]): no dequantized
  * intermediate array, no interpreted HOF lambda. Bit-identical to
  * `CosineSim(fp, dequantize(q, scale))`.
  */
case class CosineSimQ8(first: Expression, second: Expression, third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with ImplicitCastInputTypes with KernelCall {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(org.apache.spark.sql.types.IntegerType),
      DoubleType)
  override def prettyName: String = "cosine_sim_q8"

  override protected def kernel: Expression =
    Kernel.call(VecKernels, "cosineQ8Boxed", DoubleType, first, second, third)

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, t: Expression): Expression =
    copy(first = f, second = sec, third = t)
}

/** max(|x|)/127 — the symmetric int8 scale as one compiled pass. */
case class Int8Scale(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes with KernelCall {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def prettyName: String = "int8_scale"

  override protected def kernel: Expression =
    Kernel.call(VecKernels, "int8ScaleBoxed", DoubleType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization as one compiled pass — numerically
  * identical to the HOF chain the q93/q110 oracles replicate.
  */
case class QuantizeInt8(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with KernelCall {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def prettyName: String = "quantize_int8"

  override protected def kernel: Expression =
    Kernel.call(VecKernels, "quantizeInt8",
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = true), left, right)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused nearest-centroid cosine assignment over a CONSTANT k×dim
  * centroid matrix — the SemDeDup/q103 cluster-assignment hot path as
  * one compiled pass ([[VecKernels.nearestCentroidCosBoxed]]).
  *
  * Replaces the k-struct `array_max(array(struct(cos_c, -c)...))`
  * argmax spelling: that form issues k separate ArrayDotProduct calls
  * (each re-reading the unsafe array) and walks an interpreted
  * struct-comparison tree per row; this expression reads the vector
  * once and loops the flattened centroid matrix inside the
  * whole-stage-codegen span. Same scores, same ties (lowest cluster),
  * same −2.0 zero-norm sentinel — SimJoinSpec pins the parity.
  * The matrix rides into generated code as a reference object, so
  * executors get it with the serialized plan — nothing is looked up
  * at runtime and the expression stays foldable-free and narrow.
  */
case class NearestCentroidCos(child: Expression, centroids: Seq[Seq[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  require(centroids.nonEmpty, "need at least one centroid")
  require(centroids.map(_.size).distinct.size == 1,
    "ragged centroid matrix")

  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray
  // same Seq-sum order as the Column formulation this replaces, so the
  // precomputed norms are bit-identical
  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_cos"

  override protected def nullSafeEval(v: Any): Any =
    VecKernels.nearestCentroidCosBoxed(v.asInstanceOf[ArrayData], flat, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("ncFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("ncNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |java.lang.Integer ${ev.value}_r =
         |  graft.fn.VecKernels.nearestCentroidCosBoxed($v, $flatRef, $normsRef);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.intValue();
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[NearestCentroidCos]] returning `struct<cluster:int, cos:double>`
  * — assignment AND the winning cosine in the same single compiled
  * pass, for consumers that gate on the similarity value (the
  * streaming semantic gate). Zero-norm rows carry the −2.0 sentinel
  * as cos (callers translate to null); same ties and null rules.
  */
case class NearestCentroidScore(child: Expression, centroids: Seq[Seq[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ImplicitCastInputTypes {

  require(centroids.nonEmpty, "need at least one centroid")
  require(centroids.map(_.size).distinct.size == 1,
    "ragged centroid matrix")

  @transient private lazy val flat: Array[Double] = centroids.flatten.toArray
  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("cos", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_score"

  override protected def nullSafeEval(v: Any): Any = {
    val r = VecKernels.nearestCentroidScoreBoxed(
      v.asInstanceOf[ArrayData], flat, norms)
    if (r == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r(0).toInt, r(1)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("ncsFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("ncsNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |double[] ${ev.value}_r =
         |  graft.fn.VecKernels.nearestCentroidScoreBoxed($v, $flatRef, $normsRef);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { (int) ${ev.value}_r[0], ${ev.value}_r[1] });
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
