package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real per-frame video features for Motion-JPEG-in-MP4 payloads as a
  * native Catalyst expression: walks the container's sample tables and
  * decodes every `stride`-th sample with the baseline-JPEG kernel
  * ([[graft.ext.Mjpeg]]), emitting `array<array<double>>` — one inner
  * row `[frame_idx, t_ms, mean, std, nBins histogram]` — in the
  * ApngFrameFeatures/GifFrameFeatures row contract. One static call
  * inside the whole-stage codegen span. Non-BMFF payloads and MP4s
  * without an MJPEG track yield SQL null, so the content-routed
  * `withVideoFrames` coalesce stays clean.
  */
case class MjpegFrameFeatures(child: Expression, nBins: Int = 16,
                              stride: Int = 1, maxFrames: Int = 256)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mjpeg_frame_features"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.Mjpeg, "frameFeaturesOrNull", child, nBins, stride, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
