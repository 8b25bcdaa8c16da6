package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** Per-row Gopher repetition signals as a native codegen expression —
  * SQL `repetition_profile(text)`. One
  * [[TextKernels.repetitionProfile]] call per row inside the
  * whole-stage codegen span returns the top-{2,3,4}-gram and
  * duplicated-{5,6}-gram character-fraction struct with NO explode
  * and NO aggregation shuffle: repetition is a property of one
  * document, so at 100 TB it must be computed where the document
  * already is. Null for texts with no tokens. Signal definitions and
  * the tie-break/occurrence-sum conventions are documented on the
  * kernel (Rae et al. 2021 Table A1 lineage).
  */
case class RepetitionProfile(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "repetition_profile"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "repetitionProfile", RepetitionProfile.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionProfile {
  /** Field order is the `TextOps.repetitionSignals` output contract. */
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("top2_frac", DoubleType, nullable = false),
    StructField("top3_frac", DoubleType, nullable = false),
    StructField("top4_frac", DoubleType, nullable = false),
    StructField("dup5_frac", DoubleType, nullable = false),
    StructField("dup6_frac", DoubleType, nullable = false)))
}
