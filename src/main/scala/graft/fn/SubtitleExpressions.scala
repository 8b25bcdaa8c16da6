package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `subtitle_synth(doc_id)` — the q160 corpus
  * ([[graft.ext.SubtitleFixtures.doc]]): id arithmetic decides
  * WebVTT-vs-SRT and every cue's timing/text, mirrored by the
  * oracle.
  */
case class SubtitleSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "subtitle_synth"

  override protected def kernel: Expression =
    Kernel.string(Kernel.total(graft.ext.SubtitleFixtures, "doc", Kernel.Str, child))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `subtitle_cues(text)` — WebVTT/SRT cue extraction
  * ([[graft.ext.Subtitles.cuesOrNull]]): array of
  * (start_ms, end_ms, text) structs in document order; null for
  * non-subtitle content. The path by which video corpora become
  * training text — the rows feed the same text_profile / language-ID
  * / dedup gates as any document.
  */
case class SubtitleCues(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "subtitle_cues"

  override protected def kernel: Expression =
    Kernel.call(SubtitleCues, "cuesData", SubtitleCues.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SubtitleCues {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false))), containsNull = false)

  def cuesData(text: UTF8String): GenericArrayData = {
    val cues = graft.ext.Subtitles.cuesOrNull(text.toString)
    if (cues == null) null
    else new GenericArrayData(cues.map(c => InternalRow(
      c.startMs, c.endMs, UTF8String.fromString(c.text)): Any))
  }
}

/** SQL `mp4_subtitle_synth(doc_id)` — the q161 corpus
  * ([[graft.ext.SubtitleFixtures.wvttMp4]]): the q160 cue corpus
  * carried INSIDE MP4 wvtt tracks (classic stbl on even ids,
  * fragmented CMAF segments on odd).
  */
case class Mp4SubtitleSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_subtitle_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.SubtitleFixtures, "wvttMp4", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_subtitle_cues(content)` — subtitle cues carried inside
  * an MP4, BOTH ISO 14496-30 carriages (`wvtt` WebVTT and `stpp`
  * TTML/IMSC1 — the DASH/CMAF broadcast shape), both container
  * layouts ([[graft.ext.Avc.mp4SubtitleCuesOrNull]]): same row
  * schema and text cleaning as [[SubtitleCues]], so in-container and
  * standalone subtitles land identically in the text pipeline.
  */
case class Mp4SubtitleCues(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_subtitle_cues"

  override protected def kernel: Expression =
    Kernel.call(Mp4SubtitleCues, "cuesData", SubtitleCues.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4SubtitleCues {
  def cuesData(bytes: Array[Byte]): GenericArrayData = {
    val cues = graft.ext.Avc.mp4SubtitleCuesOrNull(bytes, 1 << 16)
    if (cues == null) null
    else new GenericArrayData(cues.map { case (s, e, t) =>
      InternalRow(s, e, UTF8String.fromString(t)): Any
    })
  }
}

/** SQL `mp4_ttml_synth(doc_id)` — the q165 corpus
  * ([[graft.ext.SubtitleFixtures.stppMp4]]): the q160 cue corpus as
  * TTML documents inside MP4 `stpp` tracks (ISO 14496-30's OTHER
  * carriage — the DASH/CMAF broadcast shape); classic per-cue
  * samples on even ids, one fragmented whole-document sample on odd.
  */
case class Mp4TtmlSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_ttml_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.SubtitleFixtures, "stppMp4", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `subtitle_enc_synth(doc_id)` — the q162 corpus
  * ([[graft.ext.SubtitleFixtures.encodedDoc]]): WebVTT documents
  * ENCODED in rotating legacy charsets (utf-8 / shift_jis /
  * windows-1252) — the bytes a crawler actually fetches.
  */
case class SubtitleEncSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "subtitle_enc_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.SubtitleFixtures, "encodedDoc", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
