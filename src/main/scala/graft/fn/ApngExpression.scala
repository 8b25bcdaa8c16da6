package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real per-frame video features for animated-PNG payloads as a native
  * Catalyst expression: decodes every frame (inflate + unfilter +
  * composite, [[graft.ext.Apng]]) and emits
  * `array<array<double>>` — one inner row
  * `[frame_idx, t_ms, mean, std, nBins histogram]` per every
  * `stride`-th of the first `maxFrames` frames. One static call inside
  * the whole-stage codegen span (the PngGrayFeatures/VincentyKm
  * pattern — no ScalaUDF span break). Non-APNG payloads (including
  * plain still PNGs) yield SQL null, so mixed asset tables route
  * cleanly.
  */
case class ApngFrameFeatures(child: Expression, nBins: Int = 16,
                             stride: Int = 1, maxFrames: Int = 256)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "apng_frame_features"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.Apng, "frameFeaturesOrNull", child, nBins, stride, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
