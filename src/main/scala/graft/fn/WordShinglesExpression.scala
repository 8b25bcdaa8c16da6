package graft.fn

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles as a native codegen expression — SQL
  * `word_shingles(text, n)`. One [[TextKernels.wordShingles]] call per
  * row inside the whole-stage codegen span replaces the round-2
  * posexplode + lead-window formulation (a full token-stream
  * shuffle+sort); the n-gram stream then explodes directly off the
  * scan stage.
  */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "word_shingles"

  override protected def kernel: Expression =
    Kernel.total(TextKernels, "wordShingles", ArrayType(StringType, containsNull = false), child, n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
