package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{BinaryType, LongType}

/** ISO BMFF (MP4) container metadata as a native Catalyst expression:
  * `[timescale, duration_sec, n_tracks]` via the JDK-only box walk
  * [[graft.ext.Mp4.metaOrNull]], inside whole-stage codegen. Non-BMFF
  * payloads yield SQL null ([[PngGrayFeatures]]/[[WavPcmFeatures]]
  * pattern).
  */
case class Mp4Meta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_meta"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Mp4, "metaOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_avc_meta(content)` — `[width, height, profile_idc,
  * level_idc, n_samples, n_sync]` for the first H.264 track, with
  * width/height SPS-DERIVED ([[graft.ext.Avc.h264MetaOrNull]]: avcC →
  * SPS Exp-Golomb parse, coded size minus cropping). Null for
  * non-BMFF / non-AVC payloads.
  */
case class Mp4AvcMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_avc_meta"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Avc, "h264MetaOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_hevc_meta(content)` — the HEVC twin of [[Mp4AvcMeta]]:
  * `[width, height, profile_idc, level_idc, n_samples, n_sync]` for
  * the first hvc1/hev1 track, width/height derived from the H.265
  * SPS ([[graft.ext.Avc.hevcMetaOrNull]]: hvcC → SPS Exp-Golomb
  * parse, luma size minus the conformance window). Null for
  * non-BMFF / non-HEVC payloads.
  */
case class Mp4HevcMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_hevc_meta"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Avc, "hevcMetaOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_sync_offsets(content, maxN)` — absolute byte offsets of
  * the first maxN sync samples (keyframes) of the first H.264 track
  * ([[graft.ext.Avc.syncOffsetsOrNull]]: stss ∘ stsz/stsc/stco). The
  * random-access index a clip sampler seeks by — no bitstream parse,
  * no decode.
  */
case class Mp4SyncOffsets(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1, s"maxN must be >= 1, got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_sync_offsets"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.Avc, "syncOffsetsOrNull", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_keyframe_thumb(content, tw, th)` — the FIRST keyframe of
  * a baseline H.264 track decoded to a tw×th luma thumbnail
  * ([[graft.ext.H264.keyframeThumbOrNull]]: avcC SPS/PPS + stss
  * sample → CAVLC + intra-prediction I-frame decode → the
  * [[graft.ext.Images]] box-filter resize). Null for non-MP4
  * payloads, non-AVC tracks, or streams outside the baseline I-frame
  * subset — the boundary [[graft.ext.H264]] documents.
  */
case class Mp4KeyframeThumb(child: Expression, tw: Int, th: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(tw >= 1 && th >= 1, s"thumbnail dims must be >= 1, got ${tw}x$th")
  require(tw.toLong * th <= (1L << 20), s"thumbnail ${tw}x$th exceeds the 1M-px cap")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_keyframe_thumb"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.H264, "keyframeThumbOrNull", child, tw, th)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_keyframe_dhash64(content)` — 64-bit perceptual dHash of
  * the first decodable keyframe (9×8 luma + adjacent compare, the
  * [[graft.ext.Images.dhash64OrNull]] convention) — video near-dup
  * composes with the SAME `hamming64` band-join pair stage the image
  * family (q84/q84p) uses.
  */
case class Mp4KeyframeDhash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_keyframe_dhash64"

  override protected def kernel: Expression =
    Kernel.call(graft.ext.H264, "keyframeDhashOrNull", LongType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_keyframe_features(content, nBins)` — keyframe luma
  * features on the shared [mean, std, histogram] image contract
  * ([[graft.ext.H264.keyframeFeaturesOrNull]]); the member that slots
  * H.264 video into the generic modality-routed feature coalesce.
  */
case class Mp4KeyframeFeatures(child: Expression, nBins: Int = 16)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(nBins >= 1 && nBins <= 4096, s"nBins out of range: $nBins")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_keyframe_features"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.H264, "keyframeFeaturesOrNull", child, nBins)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `h264_keyframe_frames(content[, nBins[, stride[, maxFrames]]])`
  * — real per-KEYFRAME feature rows for baseline H.264 tracks
  * ([[graft.ext.H264.keyframeFrameFeaturesOrNull]]): the
  * [[ApngFrameFeatures]]/[[MjpegFrameFeatures]] row contract
  * ([frame_idx, t_ms, features...]) with frame_idx = keyframe ordinal
  * and t_ms from the stts prefix sum. Null outside the decodable
  * subset or when any touched keyframe fails (strict).
  */
case class H264KeyframeFrames(child: Expression, nBins: Int = 16,
                              stride: Int = 1, maxFrames: Int = 256)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "h264_keyframe_frames"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.H264, "keyframeFrameFeaturesOrNull", child, nBins, stride, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `h264_gop_frames(content[, nBins[, stride[, maxFrames]]])` —
  * per-FRAME feature rows across an I/P/B GOP
  * ([[graft.ext.H264.gopFrameFeaturesOrNull]]): every sample decodes
  * (P/B frames motion-compensate over the DPB), frame_idx = sample
  * ordinal in DECODE order, t_ms from stts (or trun durations for
  * fragmented files), and pts_ms — the PRESENTATION timeline
  * (t_ms + the ctts / trun composition offset; B streams reorder) —
  * appended as the row's LAST element so the prefix keeps its shape.
  * A presentation-order sampler sorts by pts_ms. The full-sequence
  * member of the frame-sampling family; [[H264KeyframeFrames]] stays
  * the cheap keyframes-only form.
  */
case class H264GopFrames(child: Expression, nBins: Int = 16,
                         stride: Int = 1, maxFrames: Int = 256)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "h264_gop_frames"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.H264, "gopFrameFeaturesOrNull", child, nBins, stride, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_keyframe_dhashes(content, maxN)` — dHashes of the first
  * maxN keyframes ([[graft.ext.H264.keyframeDhashesOrNull]]); the
  * multi-keyframe index behind any-keyframe video near-dup.
  */
case class Mp4KeyframeDhashes(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  // the loud bound lives HERE (analysis time): the kernel's runtime
  // require would be swallowed into a null by the OrNull contract
  require(maxN >= 1 && maxN <= (1 << 12),
    s"maxN must be in [1, 4096], got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp4_keyframe_dhashes"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.H264, "keyframeDhashesOrNull", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_multiref_synth(doc_id)` — the q153 multi-reference GOP
  * corpus ([[graft.ext.VideoFixtures.multiRefGop]]): doc_id → a
  * 4-frame MP4 whose P frames select their reference by ref_idx_l0
  * over a 3-deep sliding-window DPB. All shift/base parameters are
  * id arithmetic mirrored by the q153 oracle.
  */
case class Mp4MultiRefSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_multiref_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "multiRefGop", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_bgop_synth(doc_id)` — the q154 B-slice GOP corpus
  * ([[graft.ext.VideoFixtures.bGop]]): doc_id → a 4-frame MP4 whose
  * last two frames are an explicit-bi B and a temporal-direct B_Skip
  * over POC-ordered lists. Parameters are id arithmetic mirrored by
  * the q154 oracle.
  */
case class Mp4BGopSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_bgop_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "bGop", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_wgop_synth(doc_id)` — the q155 WEIGHTED-prediction GOP
  * corpus ([[graft.ext.VideoFixtures.wGopMp4]]): even ids carry
  * explicit per-ref weights (P and Bi), odd ids implicit POC-derived
  * bi weights. Parameters are id arithmetic mirrored by the oracle.
  */
case class Mp4WGopSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_wgop_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "wGopMp4", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_fmp4_synth(doc_id)` — the q156 FRAGMENTED-container
  * corpus ([[graft.ext.VideoFixtures.multiRefGopFragmented]]): the
  * q153 multi-ref GOP frames repacked as fMP4 (moof/traf/trun,
  * layout cycling by id). Decoded features must equal q153's.
  */
case class Mp4Fmp4Synth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_fmp4_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "multiRefGopFragmented", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `h264_gop_dhashes(content, maxN)` — per-frame dHashes across a
  * full I/P/B GOP ([[graft.ext.H264.gopDhashesOrNull]]); the
  * ANY-FRAME near-dup index behind re-encode detection (a clip cut
  * mid-GOP shares no keyframe with its source but shares frames).
  */
case class H264GopDhashes(child: Expression, maxN: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(maxN >= 1 && maxN <= (1 << 12),
    s"maxN must be in [1, 4096], got $maxN")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "h264_gop_dhashes"

  override protected def kernel: Expression =
    Kernel.longs(graft.ext.H264, "gopDhashesOrNull", child, maxN)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_bgop_pts_synth(doc_id)` — the q158 PRESENTATION-TIME
  * corpus ([[graft.ext.VideoFixtures.bGopPts]]): the q154 B GOP plus
  * a version-1 `ctts` box carrying the real display reordering
  * (signed composition offsets 0/+1000/−500/−500), so the appended
  * pts_ms feature differs from the decode timeline.
  */
case class Mp4BGopPtsSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_bgop_pts_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "bGopPts", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `mp4_elst_synth(doc_id)` — the q163/q164 EDIT-LIST corpus
  * ([[graft.ext.VideoFixtures.bGopElst]]): the ctts B GOP plus an
  * `edts/elst` carrying a leading empty edit (movie-timescale 600)
  * and a media_time offset; classic/fMP4 layout and elst v0/v1
  * alternate by id. Parameters are id arithmetic mirrored by the
  * oracle.
  */
case class Mp4ElstSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp4_elst_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VideoFixtures, "bGopElst", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `h264_clip_frames(content, nBins, everyMs, maxN, maxFrames)` —
  * PRESENTATION-ORDER clip sampling
  * ([[graft.ext.H264.clipFrameFeaturesOrNull]]): per instant
  * k·everyMs the pts-nearest decoded frame's feature row, the
  * sampling instant prepended. The frame-sampling primitive a
  * vision-language training pipeline runs per video.
  */
case class H264ClipFrames(child: Expression, nBins: Int, everyMs: Double,
                          maxN: Int, maxFrames: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(nBins >= 1 && everyMs > 0 && maxN >= 1 && maxN <= (1 << 12) &&
    maxFrames >= 1 && maxFrames <= (1 << 12),
    s"invalid clip-sampling bounds ($nBins, $everyMs, $maxN, $maxFrames)")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "h264_clip_frames"

  override protected def kernel: Expression =
    Kernel.rows(graft.ext.H264, "clipFrameFeaturesOrNull", child, nBins, everyMs, maxN, maxFrames)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `av1_meta(content)` — AV1 sequence-header triage (round 14):
  * `[width, height, profile, level, tier, bit_depth, monochrome]`
  * from the av1C record's sequence-header OBU, container-routed
  * (MP4 `av01` sample entry / WebM `V_AV1` CodecPrivate / AVIF
  * still `ipco`) —
  * dimensions/profile parity with the avcC/hvcC walks
  * ([[graft.ext.Av1.metaOrNull]]). Null for payloads without an AV1
  * track.
  */
case class Av1Meta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "av1_meta"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Av1, "metaOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `av1_synth(doc_id)` — the q172 corpus
  * ([[graft.ext.Av1Fixtures.doc]]): a bit-written sequence-header OBU
  * in an av1C record, carriage rotating MP4 / WebM / AVIF still by
  * id % 3; every meta field is doc_id arithmetic mirrored by the
  * oracle.
  */
case class Av1Synth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "av1_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.Av1Fixtures, "doc", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `avif_synth(doc_id)` — the q176 corpus: the q172 fixture
  * family pinned to its AVIF-still carriage for every id
  * ([[graft.ext.Av1Fixtures.avif]]), so codec-profile triage is
  * graded on the crawl-dominant image carriage alone.
  */
case class AvifSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "avif_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.Av1Fixtures, "avif", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
