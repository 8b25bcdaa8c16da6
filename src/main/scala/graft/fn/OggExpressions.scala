package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `ogg_synth(doc_id)` — the deterministic Ogg Vorbis/Opus container
  * of [[graft.ext.OggFixtures]] as a per-row codegen kernel (q138's
  * corpus; the q137 pattern).
  */
case class OggSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "ogg_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.OggFixtures, "stream", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ogg_stream_meta(content)` — the CRC-verified [[graft.ext.Ogg]]
  * walk (pages + packet reassembly + Vorbis/Opus header parse) folded
  * to oracle-exact fields: codec, channels, rate, pre-skip, page and
  * packet counts, the final granule position, the duration it implies
  * (integer milliseconds at the codec's granule rate — 48 kHz for
  * Opus), comment count, vendor string, and the total audio payload
  * bytes after the header packets. Null for anything that is not a
  * well-formed single-stream Ogg Vorbis/Opus container.
  */
case class OggStreamMeta(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "ogg_stream_meta"

  override protected def kernel: Expression =
    Kernel.call(OggStreamMeta, "metaOrNull", OggStreamMeta.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vorbis_setup_stats(content)` — the [[graft.ext.VorbisSetup]]
  * codebook parse (LSB-first bitpack, sync, ordered/sparse length
  * lists, canonical first-fit codeword assembly, Kraft completeness,
  * VQ lookup tables) folded to oracle-exact integers. `cw_sum` is the
  * sum of every assigned canonical codeword value — the direct gate
  * on the assembly trie. Null for anything that is not a well-formed
  * Ogg VORBIS container (Opus has no Vorbis setup).
  */
case class VorbisSetupStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "vorbis_setup_stats"

  override protected def kernel: Expression =
    Kernel.call(VorbisSetupStats, "statsOrNull", VorbisSetupStats.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VorbisSetupStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_books", IntegerType, nullable = false),
    StructField("dim_sum", LongType, nullable = false),
    StructField("entries_sum", LongType, nullable = false),
    StructField("used_sum", LongType, nullable = false),
    StructField("maxlen", IntegerType, nullable = false),
    StructField("lookup_books", IntegerType, nullable = false),
    StructField("lookup_values_sum", LongType, nullable = false),
    StructField("cw_sum", LongType, nullable = false),
    StructField("complete_books", IntegerType, nullable = false)))

  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val pk = graft.ext.Ogg.packetsOrNull(bytes)
    if (pk == null || pk.length < 3) return null
    val s = graft.ext.VorbisSetup.setupOrNull(pk(2))
    if (s == null) return null
    var dims = 0L; var entries = 0L; var used = 0L; var maxLen = 0
    var lookups = 0; var lv = 0L; var cw = 0L; var complete = 0
    for (b <- s.codebooks) {
      dims += b.dimensions
      entries += b.entries
      used += b.usedEntries
      maxLen = math.max(maxLen, b.maxLength)
      if (b.lookupType != 0) lookups += 1
      lv += b.lookupValues
      var i = 0
      while (i < b.entries) {
        if (b.lengths(i) > 0) cw += b.codewords(i)
        i += 1
      }
      if (b.complete) complete += 1
    }
    new GenericInternalRow(Array[Any](
      s.codebooks.length, dims, entries, used, maxLen,
      lookups, lv, cw, complete))
  }
}

/** `vorbis_setup_full(content)` — the COMPLETE setup-header parse
  * ([[graft.ext.VorbisSetup.fullSetupOrNull]]: codebooks, time
  * transforms, floor 0/1 configurations, residue cascades, channel
  * mappings with coupling steps, modes, closing framing bit) folded
  * to oracle-exact integers. With this, a conformant Vorbis stream's
  * entire DECODE CONFIGURATION is validated in-plan; the remaining
  * round-11 lift is pure signal path (floor curve synthesis, residue
  * decode, MDCT). Null for non-Vorbis containers or any setup the
  * spec declares undecodable.
  */
case class VorbisSetupFull(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "vorbis_setup_full"

  override protected def kernel: Expression =
    Kernel.call(VorbisSetupFull, "statsOrNull", VorbisSetupFull.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VorbisSetupFull {
  val Schema: StructType = StructType(Seq(
    StructField("n_floors", IntegerType, nullable = false),
    StructField("floor_part_sum", LongType, nullable = false),
    StructField("floor_dim_sum", LongType, nullable = false),
    StructField("floor_mult_sum", LongType, nullable = false),
    StructField("floor_range_sum", LongType, nullable = false),
    StructField("floor_x_sum", LongType, nullable = false),
    StructField("res_type", IntegerType, nullable = false),
    StructField("res_begin", LongType, nullable = false),
    StructField("res_end", LongType, nullable = false),
    StructField("res_psize", IntegerType, nullable = false),
    StructField("res_classes", IntegerType, nullable = false),
    StructField("res_cascade_sum", LongType, nullable = false),
    StructField("res_books", IntegerType, nullable = false),
    StructField("coupling_steps", IntegerType, nullable = false),
    StructField("n_modes", IntegerType, nullable = false),
    StructField("blockflag_sum", IntegerType, nullable = false)))

  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val pk = graft.ext.Ogg.packetsOrNull(bytes)
    if (pk == null || pk.length < 3) return null
    val id = pk(0)
    if (id.length < 30 || id(0) != 1) return null
    val ch = id(11) & 0xFF
    val s = graft.ext.VorbisSetup.fullSetupOrNull(pk(2), ch)
    if (s == null) return null
    var fp = 0L; var fd = 0L; var fm = 0L; var fr = 0L; var fx = 0L
    for (f <- s.floors) f match {
      case f1: graft.ext.VorbisSetup.Floor1Cfg =>
        fp += f1.partitions
        fd += f1.classDimensions.sum
        fm += f1.multiplier
        fr += f1.rangebits
        fx += f1.xList.map(_.toLong).sum
      case f0: graft.ext.VorbisSetup.Floor0Cfg =>
        fd += f0.order // floor0 contributes its order as the dim line
    }
    // residue/mapping statistics are SUMS over the section's entries
    // (a general fold; the q140 fixture has one of each, so its
    // oracle reads them as the single entry's values)
    new GenericInternalRow(Array[Any](
      s.floors.length, fp, fd, fm, fr, fx,
      s.residues.map(_.residueType).sum,
      s.residues.map(_.begin).sum,
      s.residues.map(_.end).sum,
      s.residues.map(_.partitionSize).sum,
      s.residues.map(_.classifications).sum,
      s.residues.flatMap(_.cascade).map(_.toLong).sum,
      s.residues.map(_.books.map(_.count(_ >= 0)).sum).sum,
      s.mappings.map(_.couplingSteps).sum, s.modes.length,
      s.modes.count(_.blockFlag)))
  }
}

object OggStreamMeta {
  val Schema: StructType = StructType(Seq(
    StructField("codec", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("rate", LongType, nullable = false),
    StructField("pre_skip", IntegerType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("n_packets", IntegerType, nullable = false),
    StructField("last_granule", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_comments", IntegerType, nullable = false),
    StructField("vendor", StringType, nullable = false),
    StructField("audio_bytes", LongType, nullable = false)))

  def metaOrNull(bytes: Array[Byte]): InternalRow = {
    val m = graft.ext.Ogg.metaOrNull(bytes)
    if (m == null) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.codec), m.channels, m.rate, m.preSkip,
      m.nPages, m.nPackets, m.lastGranule,
      m.lastGranule * 1000L / m.granuleRate, m.comments.length,
      UTF8String.fromString(m.vendor), m.audioBytes))
  }
}

/** `vorbis_pcm_synth(doc_id)` — the deterministic FULLY-DECODABLE
  * Ogg Vorbis container of [[graft.ext.VorbisPcmFixtures]] as a
  * per-row codegen kernel (q141's corpus; the q137/q138 pattern
  * extended to the audio signal path).
  */
/** `webm_vorbis_agree(doc_id)` — the WebM `A_VORBIS` carriage check
  * (round 15, verdict item 9): rebuilds the q141 fixture stream, laces
  * its three headers into a WebM CodecPrivate with one SimpleBlock
  * per audio packet ([[graft.ext.WebmFixtures.vorbisWebm]]), decodes
  * BOTH carriages through the shared [[graft.ext.VorbisDecode]] core
  * ([[graft.ext.Webm.vorbisPcmOrNull]] for the WebM side) and reports
  * `[rate, channels, pcm_samples, agree]` where `agree` = 1 iff the
  * WebM PCM covers the Ogg PCM sample-for-sample on every channel
  * (Matroska carries no granule, so the WebM side may extend past the
  * Ogg trim). The oracle pins rate/channels/pcm_samples to the q141
  * closed forms and `agree` to 1 — any carriage divergence flips the
  * flag and breaks the hash.
  */
case class WebmVorbisAgree(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "webm_vorbis_agree"

  override protected def kernel: Expression =
    Kernel.longs(WebmVorbisAgree, "agreement", child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WebmVorbisAgree {
  def agreement(id: Long): Array[Long] = {
    val ogg = graft.ext.VorbisPcmFixtures.stream(id)
    val pages = graft.ext.Ogg.pagesOrNull(ogg)
    if (pages == null) return null
    val packets = graft.ext.Ogg.packetsFrom(ogg, pages)
    if (packets == null || packets.length < 4) return null
    val webm = graft.ext.WebmFixtures.vorbisWebm(
      packets.take(3).toSeq, packets.drop(3).toSeq)
    val po = graft.ext.VorbisDecode.decodeOrNull(ogg)
    val pw = graft.ext.Webm.vorbisPcmOrNull(webm)
    if (po == null) return null
    var agree = pw != null && pw.sampleRate == po.sampleRate &&
      pw.channels == po.channels && pw.nSamples >= po.nSamples
    if (agree) {
      var c = 0
      while (agree && c < po.channels) {
        val a = po.samples(c); val b = pw.samples(c)
        var i = 0
        while (agree && i < a.length) {
          if (a(i) != b(i)) agree = false
          i += 1
        }
        c += 1
      }
    }
    Array(po.sampleRate.toLong, po.channels.toLong, po.nSamples.toLong,
      if (agree) 1L else 0L)
  }
}

case class VorbisPcmSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "vorbis_pcm_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.VorbisPcmFixtures, "stream", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vorbis_pcm_stats(content)` — the complete
  * [[graft.ext.VorbisDecode]] audio decode (Huffman over the
  * stream's own books, floor-1 posts, residue, coupling, floor curve,
  * IMDCT, window, overlap-add) folded to its INTEGER-EXACT stage
  * accounting: decoded packet count, floor post sum, residue lattice
  * sum (pre-coupling; exact because the fixtures' books carry
  * integral min/delta/multiplicands), the §7.2.4 integer curve sum,
  * and the lapped PCM sample count after granule trim. Null for
  * anything that is not a decodable single-stream Ogg Vorbis
  * container.
  */
case class VorbisPcmStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "vorbis_pcm_stats"

  override protected def kernel: Expression =
    Kernel.call(VorbisPcmStats, "statsOrNull", VorbisPcmStats.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VorbisPcmStats {
  val Schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("rate", LongType, nullable = false),
    StructField("n_packets", IntegerType, nullable = false),
    StructField("post_sum", LongType, nullable = false),
    StructField("res_sum", LongType, nullable = false),
    StructField("curve_sum", LongType, nullable = false),
    StructField("pcm_samples", LongType, nullable = false)))

  def statsOrNull(bytes: Array[Byte]): InternalRow = {
    val st = new graft.ext.VorbisDecode.Stats
    val pcm = graft.ext.VorbisDecode.decodeOrNull(bytes, st)
    if (pcm == null) return null
    new GenericInternalRow(Array[Any](
      pcm.channels, pcm.sampleRate.toLong, st.audioPackets,
      st.postSum, st.residueSum, st.curveSum, st.pcmSamples))
  }
}
