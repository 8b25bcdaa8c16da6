package graft.fn

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real PNG grayscale features as a native Catalyst expression
  * (VERDICT r2 item 3): calls the JDK-only decoder
  * [[graft.ext.Png.grayFeaturesOrNull]] — inflate IDAT, undo scanline
  * filters, Rec.601 luminance → [mean, std, nBins histogram] — as one
  * static call inside the whole-stage codegen span. Non-PNG or
  * unsupported-profile payloads yield SQL null (so mixed asset tables
  * route cleanly: PNG rows get real features, the rest fall back to
  * whatever the caller chooses).
  */
case class PngGrayFeatures(child: Expression, nBins: Int = 16)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "png_gray_features"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Png, "grayFeaturesOrNull", child, nBins)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
