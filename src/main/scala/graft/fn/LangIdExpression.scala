package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** SQL `lang_id_predict(features)` — the PINNED 9-language classifier
  * as ONE native kernel ([[graft.ext.LangId.predictBoxed]]): all nine
  * σ(w·x) heads + the Langs-order argmax + the none floor in a single
  * generated call. The Column composition of the same arithmetic
  * exceeds the 64 KB generated-method limit at K = 9 (round 13:
  * when-chain → codegen OOM; array argmax → silent interpreted
  * fallback), so the hot gate paths — q152/q166, `langGate`,
  * `subtitleGate` — evaluate THIS, and LangIdSpec asserts bitwise
  * parity with the Column form the SQL oracles replay.
  */
case class LangIdPredict(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def prettyName: String = "lang_id_predict"

  override protected def kernel: Expression =
    Kernel.call(graft.ext.LangId, "predictBoxed", StringType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
