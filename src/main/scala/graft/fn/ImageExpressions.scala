package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{BinaryType, LongType}

/** `gray_thumbnail(content, tw, th)` — decode + exact box-filter
  * RESIZE to a tw×th luminance thumbnail (row-major array<double>)
  * over [[graft.ext.Images]] (PNG/JPEG routed by content magic; other
  * payloads → SQL null). It and [[ImageDhash64]] follow the
  * PngGrayFeatures pattern: one static call, no ScalaUDF span break.
  */
case class GrayThumbnail(child: Expression, tw: Int, th: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(tw >= 1 && th >= 1, s"thumbnail dims must be >= 1, got ${tw}x$th")
  require(tw.toLong * th <= (1L << 20), s"thumbnail ${tw}x$th exceeds the 1M-px cap")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "gray_thumbnail"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Images, "thumbnailOrNull", child, tw, th)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `image_dhash64(content)` — 64-bit perceptual difference hash
  * (9×8 resize + adjacent compare); pair with `hamming64` for
  * near-duplicate image detection.
  */
case class ImageDhash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "image_dhash64"

  override protected def kernel: Expression =
    Kernel.call(graft.ext.Images, "dhash64OrNull", LongType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
