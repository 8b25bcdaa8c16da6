package graft.ext

/** Real video-frame decode for Motion-JPEG in an MP4/QuickTime
  * container — the first CODEC-BEARING video path in the multimodal
  * family (APNG/GIF are codec-free animations; H.264 remains the
  * documented stub). MJPEG stores every sample as a complete baseline
  * JPEG image, so the container's sample tables + the existing
  * [[Jpeg]] luma decoder are a full decode pipeline, JDK-only:
  *
  *   - top-level box walk to `moov` (ISO/IEC 14496-12, same layout
  *     [[Mp4]] reads for metadata),
  *   - per `trak`: `mdhd` (media timescale), `stbl` sample tables —
  *     `stsd` (codec fourcc: `jpeg`/`mjpa`/`mjpg`/`MJPG` accepted),
  *     `stsz` (sample sizes), `stsc` (sample→chunk), `stco`/`co64`
  *     (chunk offsets), `stts` (sample durations),
  *   - sample i's byte range = its chunk's offset + the sizes of the
  *     samples before it in that chunk; each range is one JPEG,
  *     decoded by [[Jpeg.grayFeaturesOrNull]].
  *
  * Unlike APNG/GIF — where disposal compositing forces decoding every
  * intermediate frame — MJPEG samples are independent, so `stride`
  * here skips the DECODE too, not just the emit: sampling every 30th
  * frame of a long capture reads 1/30th of the work. Strictness
  * matches the other decoders: malformed tables, out-of-range sample
  * extents, or a sample that is not decodable baseline JPEG yield
  * null for the whole payload — never partial or wrong rows.
  */
object Mjpeg {

  private val JpegFourccs = Set("jpeg", "mjpa", "mjpg", "MJPG")
  private val MaxSamples = 1 << 20 // sanity cap on crafted tables
  private val MaxChunks = 1 << 20

  // box-walk helpers shared with the H.264 metadata reader
  import Bmff.{beU32, beU64, children, find, tag}

  private final class Track {
    var timescale = 0L
    var fourcc = ""
    var sizes: Array[Long] = null                 // per-sample byte sizes
    var chunkOffsets: Array[Long] = null          // absolute file offsets
    var stsc: Array[(Long, Long)] = null          // (first_chunk, samples_per_chunk)
    var durations: Array[Long] = null             // per-sample media-time deltas
  }

  private def parseTrack(b: Array[Byte], trakS: Long, trakE: Long): Track = {
    val tr = new Track
    val mdia = find(b, trakS, trakE, "mdia").getOrElse(return null)
    find(b, mdia._1, mdia._2, "mdhd").foreach { case (s, _) =>
      val ver = b(s.toInt) & 0xFF
      // v0: ver/flags(4) ctime(4) mtime(4) timescale(4); v1: 64-bit times
      tr.timescale = if (ver == 1) beU32(b, s.toInt + 20) else beU32(b, s.toInt + 12)
    }
    val minf = find(b, mdia._1, mdia._2, "minf").getOrElse(return null)
    val stbl = find(b, minf._1, minf._2, "stbl").getOrElse(return null)

    find(b, stbl._1, stbl._2, "stsd").foreach { case (s, e) =>
      if (s + 16 <= e && beU32(b, s.toInt + 4) >= 1) // entry_count
        tr.fourcc = tag(b, s.toInt + 12)             // first entry's format
    }
    find(b, stbl._1, stbl._2, "stsz").foreach { case (s, e) =>
      if (s + 12 <= e) {
        val const = beU32(b, s.toInt + 4)
        val n = beU32(b, s.toInt + 8)
        if (n >= 1 && n <= MaxSamples) {
          if (const != 0) tr.sizes = Array.fill(n.toInt)(const)
          else if (s + 12 + 4L * n <= e)
            tr.sizes = Array.tabulate(n.toInt)(i => beU32(b, (s + 12 + 4L * i).toInt))
        }
      }
    }
    find(b, stbl._1, stbl._2, "stsc").foreach { case (s, e) =>
      if (s + 8 <= e) {
        val n = beU32(b, s.toInt + 4)
        if (n >= 1 && n <= MaxChunks && s + 8 + 12L * n <= e)
          tr.stsc = Array.tabulate(n.toInt) { i =>
            val o = (s + 8 + 12L * i).toInt
            (beU32(b, o), beU32(b, o + 4))
          }
      }
    }
    find(b, stbl._1, stbl._2, "stco").foreach { case (s, e) =>
      if (s + 8 <= e) {
        val n = beU32(b, s.toInt + 4)
        if (n >= 1 && n <= MaxChunks && s + 8 + 4L * n <= e)
          tr.chunkOffsets = Array.tabulate(n.toInt)(i => beU32(b, (s + 8 + 4L * i).toInt))
      }
    }
    if (tr.chunkOffsets == null) find(b, stbl._1, stbl._2, "co64").foreach { case (s, e) =>
      if (s + 8 <= e) {
        val n = beU32(b, s.toInt + 4)
        if (n >= 1 && n <= MaxChunks && s + 8 + 8L * n <= e)
          tr.chunkOffsets = Array.tabulate(n.toInt)(i => beU64(b, (s + 8 + 8L * i).toInt))
      }
    }
    find(b, stbl._1, stbl._2, "stts").foreach { case (s, e) =>
      if (s + 8 <= e) {
        val n = beU32(b, s.toInt + 4)
        if (n >= 1 && n <= MaxChunks && s + 8 + 8L * n <= e) {
          val runs = Array.tabulate(n.toInt) { i =>
            val o = (s + 8 + 8L * i).toInt
            (beU32(b, o), beU32(b, o + 4)) // (sample_count, delta)
          }
          val total = runs.map(_._1).sum
          if (total >= 1 && total <= MaxSamples) {
            tr.durations = new Array[Long](total.toInt)
            var i = 0
            runs.foreach { case (cnt, d) =>
              var j = 0L
              while (j < cnt) { tr.durations(i) = d; i += 1; j += 1 }
            }
          }
        }
      }
    }
    tr
  }

  /** Per-sample absolute byte offsets via the stsc chunk mapping, or
    * null if the tables are inconsistent.
    */
  private def sampleOffsets(tr: Track): Array[Long] =
    Bmff.sampleOffsets(tr.sizes, tr.chunkOffsets, tr.stsc)

  /** `[frame_idx, t_ms, mean/255, std/255, nBins histogram]` per every
    * `stride`-th of the first `maxFrames` samples of the first
    * MJPEG-fourcc track — [[Apng.frameFeaturesOrNull]]'s row contract.
    * Null when the payload is not ISO BMFF, has no MJPEG track, or any
    * touched sample fails the strict baseline-JPEG decode.
    */
  def frameFeaturesOrNull(bytes: Array[Byte], nBins: Int, stride: Int,
                          maxFrames: Int): Array[Array[Double]] = {
    if (bytes == null || bytes.length < 16 || stride < 1 || maxFrames < 1) return null
    if (tag(bytes, 4) != "ftyp") return null
    val moov = find(bytes, 0, bytes.length, "moov").getOrElse(return null)
    val track = children(bytes, moov._1, moov._2).collectFirst {
      case ("trak", s, e) =>
        val tr = parseTrack(bytes, s, e)
        if (tr != null && JpegFourccs.contains(tr.fourcc) &&
            tr.sizes != null && tr.chunkOffsets != null && tr.stsc != null) Some(tr)
        else None
    }.flatten.getOrElse(return null)

    val offsets = sampleOffsets(track)
    if (offsets == null) return null
    val n = track.sizes.length
    val nEmit = math.min(maxFrames, n)
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var tMedia = 0L
    var i = 0
    while (i < nEmit) {
      if (i % stride == 0) {
        val off = offsets(i)
        val sz = track.sizes(i)
        if (off < 0 || sz <= 0 || off + sz > bytes.length) return null
        val sample = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
        val feats = Jpeg.grayFeaturesOrNull(sample, nBins)
        if (feats == null) return null // strict: one bad sample poisons the payload
        val tMs =
          if (track.timescale > 0) 1000.0 * tMedia / track.timescale else 0.0
        out += (Array(i.toDouble, tMs) ++ feats)
      }
      if (track.durations != null && i < track.durations.length)
        tMedia += track.durations(i)
      i += 1
    }
    if (out.isEmpty) null else out.toArray
  }
}
