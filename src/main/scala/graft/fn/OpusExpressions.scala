package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** `opus_synth(doc_id)` — the deterministic Ogg Opus container of
  * [[graft.ext.OpusFixtures]] as a per-row codegen kernel (q147's
  * corpus; the q137/q138 pattern).
  */
case class OpusSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "opus_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.OpusFixtures, "stream", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `opus_toc_stats(content)` — the RFC 6716 §3 packet-structure walk
  * of [[graft.ext.Opus]] (TOC byte, the four frame-packing codes,
  * 1/2-byte frame-length coding, 255-chained padding, the [R1]–[R7]
  * structural rules) over a CRC-verified Ogg Opus container, folded
  * to oracle-exact integers: packet/frame counts, total duration in
  * 48 kHz samples, TOC-byte sum, frame-payload and padding byte
  * accounting, VBR packet count, and the SILK/Hybrid/CELT mode
  * split. Null for anything that is not a structurally valid Ogg
  * Opus stream.
  */
case class OpusTocStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "opus_toc_stats"

  override protected def kernel: Expression =
    Kernel.call(OpusTocStats, "statsOrNull", OpusTocStats.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OpusTocStats {
  val Schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("pre_skip", IntegerType, nullable = false),
    StructField("n_packets", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("toc_sum", LongType, nullable = false),
    StructField("payload_sum", LongType, nullable = false),
    StructField("pad_sum", LongType, nullable = false),
    StructField("n_vbr", IntegerType, nullable = false),
    StructField("n_silk", IntegerType, nullable = false),
    StructField("n_hybrid", IntegerType, nullable = false),
    StructField("n_celt", IntegerType, nullable = false)))

  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val s = graft.ext.Opus.streamStatsOrNull(bytes)
    if (s == null) return null
    new GenericInternalRow(Array[Any](
      s.channels, s.preSkip, s.nPackets, s.nFrames, s.totalSamples,
      s.tocSum, s.payloadSum, s.padSum, s.nVbr, s.nSilk, s.nHybrid,
      s.nCelt))
  }
}
