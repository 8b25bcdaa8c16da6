package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row MinHash signature as a native codegen expression — SQL
  * `minhash_sig(text)` (n, k fixed per instance). One
  * [[TextKernels.minhashSig]] call per row: shingle, hash, and fold
  * the k minima WITHOUT materializing the shingle array or paying the
  * signature groupBy — the shuffle-free/streaming form of
  * [[graft.ext.Dedup.minhashSignatures]] (XxHasher), bit-identical to
  * it on every doc with >= n words (DedupSpec asserts). Texts shorter
  * than n words yield SQL null (the aggregate form emits no row).
  */
case class MinhashSig(child: Expression, n: Int, k: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(k >= 1, s"signature width must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "minhash_sig"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "minhashSig", ArrayType(LongType, containsNull = false), child, n, k)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[MinhashSig]] under the cross-engine PARITY hash (md5-affine,
  * [[graft.ext.Dedup.ParityHasher]]) — SQL `parity_minhash_sig`. The
  * affine coefficient arrays are baked per instance (derived from k
  * on construction); codegen references them through the ctx object
  * pool. Gives the ORACLE-parity dedup pipeline the same
  * shuffle-free signature branch the production path has.
  */
case class ParityMinhashSig(child: Expression, n: Int, k: Int,
                            a: Seq[Long], b: Seq[Long])
  extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(k >= 1 && a.size == k && b.size == k,
    s"coefficient arrays must have length k=$k")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "parity_minhash_sig"

  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.parityMinhashSig(s.asInstanceOf[UTF8String], n, aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("parityA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("parityB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
         |  graft.fn.TextKernels.parityMinhashSig($s, $n, $aRef, $bRef);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
