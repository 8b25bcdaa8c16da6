package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** Per-row text profile as a native codegen expression — SQL
  * `text_profile(text)`. One [[TextKernels.textProfile]] call per row
  * inside the whole-stage codegen span returns the full quality
  * struct with NO explode and NO aggregation shuffle — the narrow
  * twin of `TextOps.profile` (bit-identical, TextOpsSpec asserts) and
  * the stateless building block of streaming curation gates
  * (`DocStreams.curationGate`). Null for texts with no tokens.
  */
case class TextProfile(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "text_profile"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "textProfile", TextProfile.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextProfile {
  /** Field order is the `TextOps.profile` output contract. */
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("mean_tok_len", DoubleType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("lang_id", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))
}
