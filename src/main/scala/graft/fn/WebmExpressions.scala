package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `webm_subtitle_synth(doc_id)` — the q167 corpus
  * ([[graft.ext.WebmFixtures.subtitleWebm]]): the q160 cue corpus in
  * WebM S_TEXT tracks, codec rotating by id % 3 (UTF8 / WEBVTT /
  * ASS) with per-cue vs single-cluster layouts by id/2 parity.
  */
case class WebmSubtitleSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "webm_subtitle_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.WebmFixtures, "subtitleWebm", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `webm_subtitle_cues(content)` — S_TEXT subtitle cues out of a
  * WebM/Matroska payload ([[graft.ext.Webm.subtitleCuesOrNull]]):
  * same (start_ms, end_ms, text) row schema and text cleaning as
  * [[SubtitleCues]]/[[Mp4SubtitleCues]], so all three containers land
  * identically in the text pipeline.
  */
case class WebmSubtitleCues(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "webm_subtitle_cues"

  override protected def kernel: Expression =
    Kernel.call(WebmSubtitleCues, "cuesData", SubtitleCues.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WebmSubtitleCues {
  def cuesData(bytes: Array[Byte]): GenericArrayData = {
    val cues = graft.ext.Webm.subtitleCuesOrNull(bytes, 1 << 16)
    if (cues == null) null
    else new GenericArrayData(cues.map { case (s, e, t) =>
      InternalRow(s, e, UTF8String.fromString(t)): Any
    })
  }
}

/** SQL `webm_block_synth(doc_id)` — the q168 corpus
  * ([[graft.ext.WebmFixtures.blockWebm]]): a video track whose
  * SimpleBlock timeline (timestamps, keyframe flags, frame sizes) is
  * id arithmetic mirrored by the oracle.
  */
case class WebmBlockSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "webm_block_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.WebmFixtures, "blockWebm", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `webm_block_index(content, maxN)` — the WebM triage index
  * ([[graft.ext.Webm.blockIndexOrNull]]): (track, t_ms, keyframe,
  * size) per block with NO codec work — parity with the MP4 side's
  * stss/stsz walk ([[Mp4SyncOffsets]]).
  */
case class WebmBlockIndex(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1 && maxN <= (1 << 16), s"maxN out of range: $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "webm_block_index"

  override protected def kernel: Expression =
    Kernel.call(WebmBlockIndex, "blocksData", WebmBlockIndex.Schema, child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WebmBlockIndex {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("track", LongType, nullable = false),
    StructField("t_ms", LongType, nullable = false),
    StructField("keyframe", IntegerType, nullable = false),
    StructField("size", LongType, nullable = false))), containsNull = false)

  def blocksData(bytes: Array[Byte], maxN: Int): GenericArrayData = {
    val blocks = graft.ext.Webm.blockIndexOrNull(bytes, maxN)
    if (blocks == null) null
    else new GenericArrayData(blocks.map { b =>
      InternalRow(b.track, b.tMs, if (b.keyframe) 1 else 0, b.size): Any
    })
  }
}

/** SQL `vp8_webm_synth(doc_id)` — a WebM carrying one REAL VP8
  * keyframe (32×32 seed-derived scene through the
  * [[graft.ext.Vp8Fixtures]] encoder): the scale-smoke corpus for the
  * full encode→container→decode→hash chain.
  */
case class Vp8WebmSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "vp8_webm_synth"

  override protected def kernel: Expression =
    Kernel.total(Vp8WebmSynth, "doc", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Vp8WebmSynth {
  def doc(id: Long): Array[Byte] = {
    val h = id * 2654435761L
    val fu = 1 + (h % 6).toInt.abs
    val fv = 1 + ((h >> 8) % 5).toInt.abs
    val gray = Array.tabulate(32 * 32) { p =>
      val x = p % 32; val y = p / 32
      (127 + 90 * math.sin(fu * x / 2.5 + fv * y / 2.0 + id)).toInt & 0xFF
    }
    val (frame, _) = graft.ext.Vp8Fixtures.encodeGrayFrame(gray, 32, 32, 8)
    graft.ext.WebmFixtures.vp8Webm(Seq((0L, frame)), 32, 32)
  }
}

/** SQL `webm_vp8_dhashes(content, maxN)` — dHashes of the first maxN
  * VP8 keyframes of a WebM's V_VP8 track
  * ([[graft.ext.Webm.vp8KeyframeDhashes]]): the WebM face of the
  * any-keyframe video near-dup index (round 14).
  */
case class WebmVp8Dhashes(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1 && maxN <= (1 << 12),
    s"maxN must be in [1, 4096], got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "webm_vp8_dhashes"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.Webm, "vp8KeyframeDhashes", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `video_kf_dhashes(content, maxN)` — container-ROUTED keyframe
  * dHashes: ftyp → the MP4/H.264 walk, EBML → the WebM/VP8 walk
  * ([[graft.ext.Multimodal.keyframeDhashesRouted]]). One index for a
  * mixed crawl, and the cross-container near-dup entry point (an
  * MP4 re-encode of a WebM pairs because both hash the same rule).
  */
case class VideoKeyframeDhashes(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1 && maxN <= (1 << 12),
    s"maxN must be in [1, 4096], got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "video_kf_dhashes"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.Multimodal, "keyframeDhashesRouted", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `video_gop_dhashes(content, maxN)` — container-routed ANY-FRAME
  * dHashes ([[graft.ext.Multimodal.gopDhashesRouted]]): EBML → all VP8
  * keyframes, else → the full H.264 GOP (I+P+B). The streaming
  * any-frame dedup gate's index, so one stream admits both containers.
  */
case class VideoGopDhashes(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1 && maxN <= (1 << 12),
    s"maxN must be in [1, 4096], got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "video_gop_dhashes"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.Multimodal, "gopDhashesRouted", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
