package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `hls_variants(text)` — master-playlist `#EXT-X-STREAM-INF`
  * entries ([[graft.ext.Manifests.hlsVariantsOrNull]]).
  */
case class HlsVariants(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "hls_variants"

  override protected def kernel: Expression =
    Kernel.call(HlsVariants, "data", HlsVariants.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HlsVariants {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("bandwidth", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("codecs", StringType, nullable = false),
    StructField("uri", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.hlsVariantsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.bandwidth, v.width, v.height,
        UTF8String.fromString(v.codecs), UTF8String.fromString(v.uri)): Any))
  }
}

/** SQL `hls_segments(text)` — media-playlist `#EXTINF` entries
  * ([[graft.ext.Manifests.hlsSegmentsOrNull]]).
  */
case class HlsSegments(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "hls_segments"

  override protected def kernel: Expression =
    Kernel.call(HlsSegments, "data", HlsSegments.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HlsSegments {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("duration", DoubleType, nullable = false),
    StructField("uri", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.hlsSegmentsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.seq, v.duration, UTF8String.fromString(v.uri)): Any))
  }
}

/** SQL `mpd_representations(xml)` — DASH Period > AdaptationSet >
  * Representation rows with the inheritance rule
  * ([[graft.ext.Manifests.mpdRepresentationsOrNull]]).
  */
case class MpdRepresentations(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "mpd_representations"

  override protected def kernel: Expression =
    Kernel.call(MpdRepresentations, "data", MpdRepresentations.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MpdRepresentations {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("period", IntegerType, nullable = false),
    StructField("rep_id", StringType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("codecs", StringType, nullable = false),
    StructField("bandwidth", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("media", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.mpdRepresentationsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.period, UTF8String.fromString(v.id),
        UTF8String.fromString(v.mime), UTF8String.fromString(v.codecs),
        v.bandwidth, v.width, v.height, UTF8String.fromString(v.media)): Any))
  }
}

/** SQL `m3u8_synth(doc_id)` / `mpd_synth(doc_id)` — the q173/q174
  * manifest corpora ([[graft.ext.ManifestFixtures]]): every attribute
  * is doc_id arithmetic mirrored by the oracle.
  */
case class M3u8Synth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "m3u8_synth"

  override protected def kernel: Expression =
    Kernel.string(Kernel.total(graft.ext.ManifestFixtures, "m3u8", Kernel.Str, child))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MpdSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mpd_synth"

  override protected def kernel: Expression =
    Kernel.string(Kernel.total(graft.ext.ManifestFixtures, "mpd", Kernel.Str, child))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
