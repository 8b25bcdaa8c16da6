package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** `vorbis_encode_synth(doc_id)` — deterministic two-tone PCM
  * (closed forms of `doc_id`) pushed through the REAL
  * [[graft.ext.VorbisEncode]] restricted encoder: forward MDCT,
  * quantization, floor/residue bit-packing, Ogg framing. Returns the
  * container bytes plus the encoder's own integer accounting
  * (packet count, written residue sum, input length) — the
  * encode-side half of the q148 round-trip gate, persisted to
  * parquet so the oracle can read what the decode side must
  * reproduce.
  */
case class VorbisEncodeSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "vorbis_encode_synth"

  override protected def kernel: Expression =
    Kernel.total(VorbisEncodeSynth, "row", VorbisEncodeSynth.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VorbisEncodeSynth {
  val Schema: StructType = StructType(Seq(
    StructField("ogg", BinaryType, nullable = false),
    StructField("rate", LongType, nullable = false),
    StructField("n_packets", IntegerType, nullable = false),
    StructField("res_sum", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))

  private val Rates = Array(8000, 16000, 22050, 44100)

  def rate(d: Long): Int = Rates((d % 4).toInt)
  def nSamples(d: Long): Int = 1600 + (d % 5).toInt * 256

  /** Two sines, amplitudes 0.6/0.3 — peaks inside the encoder's
    * quantizer range at the default gain.
    */
  def pcm(d: Long): Array[Double] = {
    val r = rate(d)
    val n = nSamples(d)
    val f1 = 200.0 + d % 200
    val f2 = 450.0 + (3 * d) % 300
    Array.tabulate(n)(i =>
      0.6 * math.sin(2 * math.Pi * f1 * i / r) +
        0.3 * math.sin(2 * math.Pi * f2 * i / r))
  }

  def row(d: Long): InternalRow = {
    val e = graft.ext.VorbisEncode.encodeMono(pcm(d), rate(d))
    new GenericInternalRow(Array[Any](
      e.bytes, rate(d).toLong, e.nPackets, e.resSum, e.nSamples))
  }
}
