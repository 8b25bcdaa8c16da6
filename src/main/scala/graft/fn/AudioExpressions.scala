package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{BinaryType, LongType}

/** `audio_fingerprint64(content)` — 64-bit perceptual energy-band
  * fingerprint of a WAV/FLAC payload ([[graft.ext.Audio]]: 9 time
  * segments × 8 Haar octave bands, adjacent-segment energy
  * comparisons — the audio analog of `image_dhash64`); pair with
  * `hamming64` / the shared band-join pair stage for near-duplicate
  * audio detection. Null for undecodable or too-short payloads.
  */
case class AudioFingerprint64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "audio_fingerprint64"

  override protected def kernel: Expression =
    Kernel.call(graft.ext.Audio, "fingerprint64OrNull", LongType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `audio_profile(content)` — curation signals over the canonical
  * mono stream ([[graft.ext.Audio.profileOrNull]]): [n_samples,
  * sample_rate, clip_n, silence_n, rms, peak]. The audio
  * `text_profile` for the quality gates (round 14).
  */
case class AudioProfile(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "audio_profile"

  override protected def kernel: Expression =
    Kernel.doubles(graft.ext.Audio, "profileOrNull", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `audio_profile_synth(doc_id)` — the q175 corpus
  * ([[graft.ext.AudioFixtures.profileDoc]]): three-region signals
  * whose profile is id arithmetic; WAV carriage even ids, FLAC odd.
  */
case class AudioProfileSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "audio_profile_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.AudioFixtures, "profileDoc", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
