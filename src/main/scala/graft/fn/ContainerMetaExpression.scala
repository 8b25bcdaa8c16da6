package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ContainerMetaKernels {
  /** [[graft.ext.Webm.metaOrNull]] packed for Catalyst. */
  def webmRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.Webm.metaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1),
      if (m._2.isNaN) null else java.lang.Double.valueOf(m._2),
      if (m._3.isEmpty) null else UTF8String.fromString(m._3),
      m._4, m._5,
      if (m._6.isEmpty) null else UTF8String.fromString(m._6),
      if (m._7.isNaN) null else java.lang.Double.valueOf(m._7),
      m._8))
  }

  /** [[graft.ext.Flac.metaOrNull]] packed for Catalyst. */
  def flacRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.Flac.metaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      m._1, m._2, m._3, m._4,
      if (m._5.isNaN) null else java.lang.Double.valueOf(m._5)))
  }
}

/** SQL `webm_meta(content)` — WebM/Matroska container metadata from
  * an EBML walk ([[graft.ext.Webm]]): doc type, duration, first
  * video track's codec + PIXEL dimensions, first audio track's codec
  * + rate/channels. Null for non-EBML payloads.
  */
case class WebmMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "webm_meta"

  override protected def kernel: Expression =
    Kernel.call(ContainerMetaKernels, "webmRowOrNull", StructType(Seq(
      StructField("doc_type", StringType),
      StructField("duration_sec", DoubleType),
      StructField("video_codec", StringType),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("audio_codec", StringType),
      StructField("sample_rate", DoubleType),
      StructField("channels", LongType, nullable = false))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `flac_meta(content)` — FLAC STREAMINFO metadata
  * ([[graft.ext.Flac]]): sample rate, channels, bits/sample, total
  * samples, duration. Null for non-FLAC payloads.
  */
case class FlacMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "flac_meta"

  override protected def kernel: Expression =
    Kernel.call(ContainerMetaKernels, "flacRowOrNull", StructType(Seq(
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("bits_per_sample", IntegerType, nullable = false),
      StructField("total_samples", LongType, nullable = false),
      StructField("duration_sec", DoubleType))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MediaMetaKernels {
  def imageDimsRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.imageDimsOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3))
  }

  def imageCodecProfileRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.imageCodecProfileOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3, m._4))
  }

  def audioMetaRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.audioMetaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3,
      if (m._4.isNaN) null else java.lang.Double.valueOf(m._4)))
  }
}

/** SQL `image_codec_profile(content)` — codec-level still triage
  * ([[graft.ext.MediaMeta.imageCodecProfileOrNull]]): the av1C
  * (codec, profile, bit_depth, monochrome) of an AVIF/HEIF-carried
  * AV1 item, so corpus gates can filter on codec capability BEFORE
  * any decode.  Null for non-ISOBMFF stills.
  */
case class ImageCodecProfile(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "image_codec_profile"

  override protected def kernel: Expression =
    Kernel.call(MediaMetaKernels, "imageCodecProfileRowOrNull", StructType(Seq(
      StructField("codec", StringType, nullable = false),
      StructField("profile", LongType, nullable = false),
      StructField("bit_depth", LongType, nullable = false),
      StructField("monochrome", LongType, nullable = false))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `image_dims(content)` — format-routed still-image dimensions
  * ([[graft.ext.MediaMeta.imageDimsOrNull]]: PNG/JPEG/GIF/BMP/WebP/
  * TIFF/AVIF/HEIC by content magic). The resolution-triage verb that
  * needs NO decode. Null for unrecognized payloads.
  */
case class ImageDims(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "image_dims"

  override protected def kernel: Expression =
    Kernel.call(MediaMetaKernels, "imageDimsRowOrNull", StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `audio_meta(content)` — format-routed audio metadata
  * ([[graft.ext.MediaMeta.audioMetaOrNull]]: WAV/FLAC/MP3/Ogg by
  * content magic): (format, sample_rate, channels, duration_sec —
  * null when the container can't prove one).
  */
case class AudioMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "audio_meta"

  override protected def kernel: Expression =
    Kernel.call(MediaMetaKernels, "audioMetaRowOrNull", StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("duration_sec", DoubleType))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
