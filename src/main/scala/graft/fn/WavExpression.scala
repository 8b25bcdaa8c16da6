package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.BinaryType

/** Real WAV (RIFF PCM) audio features as a native Catalyst expression
  * — the audio sibling of [[PngGrayFeatures]]: one static call to the
  * JDK-only decoder [[graft.ext.Wav.pcmFeaturesOrNull]] (chunk walk →
  * channel-averaged PCM samples → [channels, sample_rate, bits,
  * n_frames, rms, mean, peak, zero_cross_rate]) inside the whole-stage
  * codegen span. Non-WAV / non-integer-PCM payloads yield SQL null so
  * mixed asset tables route cleanly by modality.
  */
case class WavPcmFeatures(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "wav_pcm_features"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Wav, "pcmFeaturesOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Real FLAC audio features — the round-9 frame decoder
  * ([[graft.ext.Flac.pcmFeaturesOrNull]]) behind the same
  * `[channels, rate, bits, n_frames, rms, mean, peak, zcr]` contract
  * as [[WavPcmFeatures]], so lossless audio routes to REAL features
  * in [[graft.ext.Multimodal.withFeatures]] instead of the stub.
  */
case class FlacPcmFeatures(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "flac_pcm_features"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Flac, "pcmFeaturesOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
