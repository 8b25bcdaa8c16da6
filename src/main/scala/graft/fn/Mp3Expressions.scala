package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** `mp3_synth(doc_id)` — the deterministic MPEG-1 Layer III stream of
  * [[graft.ext.Mp3Fixtures]] as a per-row codegen kernel (q137's
  * corpus: the engine packs real frame bytes in-plan, then reads them
  * back with the [[graft.ext.Mp3]] walker; the oracle predicts both
  * ends from `doc_id` alone).
  */
case class Mp3Synth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "mp3_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.Mp3Fixtures, "stream", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `mp3_side_stats(content)` — the [[graft.ext.Mp3]] side-info walk
  * folded to integer-exact per-stream statistics (frame count, CRC
  * frames, bitrate/samplerate/`main_data_begin` sums, the
  * `global_gain` sum/min/max over every granule-channel, and the
  * window-switching granule-channel count). Every field is an exact
  * integer so a SQL oracle replays it with no float tolerance; null
  * when the payload is not a walkable MPEG-1 Layer III stream.
  */
case class Mp3SideStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "mp3_side_stats"

  override protected def kernel: Expression =
    Kernel.call(Mp3SideStats, "statsOrNull", Mp3SideStats.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp3SideStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_frames", IntegerType, nullable = false),
    StructField("crc_frames", IntegerType, nullable = false),
    StructField("brate_sum", LongType, nullable = false),
    StructField("rate_sum", LongType, nullable = false),
    StructField("mdb_sum", LongType, nullable = false),
    StructField("gain_sum", LongType, nullable = false),
    StructField("gain_min", IntegerType, nullable = false),
    StructField("gain_max", IntegerType, nullable = false),
    StructField("wsf_grans", IntegerType, nullable = false)))

  /** The fold over [[graft.ext.Mp3.framesOrNull]] (one walk, no
    * allocation beyond the frames).
    */
  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val fs = graft.ext.Mp3.framesOrNull(bytes)
    if (fs == null || fs.isEmpty) return null
    var crc = 0; var brate = 0L; var rate = 0L; var mdb = 0L
    var gSum = 0L; var gMin = Int.MaxValue; var gMax = Int.MinValue
    var wsf = 0
    var i = 0
    while (i < fs.length) {
      val f = fs(i)
      if (f.crcProtected) crc += 1
      brate += f.bitrateKbps
      rate += f.sampleRate
      mdb += f.mainDataBegin
      var g = 0
      while (g < 2) {
        val chs = f.granules(g)
        var c = 0
        while (c < chs.length) {
          val gi = chs(c)
          gSum += gi.globalGain
          if (gi.globalGain < gMin) gMin = gi.globalGain
          if (gi.globalGain > gMax) gMax = gi.globalGain
          if (gi.blockType != 0) wsf += 1
          c += 1
        }
        g += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      fs.length, crc, brate, rate, mdb, gSum, gMin, gMax, wsf))
  }
}
