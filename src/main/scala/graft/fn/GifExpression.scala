package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real per-frame video features for GIF payloads ([[graft.ext.Gif]]:
  * LZW decode + palette + interlace + disposal compositing) — the GIF
  * twin of [[ApngFrameFeatures]], same output contract
  * (`array<array<double>>` of `[frame_idx, t_ms, mean, std, hist]`),
  * same codegen pattern. Non-GIF payloads yield SQL null.
  */
case class GifFrameFeatures(child: Expression, nBins: Int = 16,
                            stride: Int = 1, maxFrames: Int = 256)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "gif_frame_features"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.Gif, "frameFeaturesOrNull", child, nBins, stride, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
