package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real baseline-JPEG luminance features as a native Catalyst
  * expression — [[graft.ext.Jpeg]]: marker parse → Huffman entropy
  * decode → dequant → IDCT of the Y plane → [mean, std, nBins
  * histogram], the same contract as [[PngGrayFeatures]]. One static
  * call inside the whole-stage codegen span; non-JPEG or
  * out-of-scope profiles (arithmetic, 12-bit, CMYK; progressive decodes)
  * yield SQL null.
  */
case class JpegGrayFeatures(child: Expression, nBins: Int = 16)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "jpeg_gray_features"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Jpeg, "grayFeaturesOrNull", child, nBins)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
