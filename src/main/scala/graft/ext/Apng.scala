package graft.ext

/** Real ANIMATED-PNG (APNG) frame decode, JDK-only — upgrades the
  * video-frame-sampling path from "raw chunk sampling + feature stub"
  * to real per-frame pixels for the one multi-frame container whose
  * codec the JDK can express: APNG frames are zlib streams with PNG
  * scanline filters, so the [[Png]] inflate/unfilter kernel applies
  * per frame. (inter-coded H.264-in-MP4 frames stay behind the documented stub —
  * that codec genuinely isn't available here; MP4 container METADATA
  * is real via [[graft.fn.Mp4Meta]].)
  *
  * Format (public APNG spec, now part of the W3C PNG 3 draft): a
  * standard PNG whose `acTL` chunk declares an animation; each frame
  * is an `fcTL` control chunk (region geometry, delay, dispose/blend
  * ops) followed by data in `fdAT` chunks (or the default `IDAT` for
  * the first frame when its fcTL precedes IDAT). Frames COMPOSITE
  * onto a canvas: blend SOURCE replaces the region, OVER
  * alpha-composites; dispose NONE keeps the canvas, BACKGROUND clears
  * the frame's region, PREVIOUS reverts it.
  *
  * Scope mirrors [[Png]]: bit depth 8, color types 0/2/3/4/6,
  * non-interlaced; unsupported profiles or malformed sequences return
  * null rather than wrong pixels. Per-frame luminance is Rec.601
  * matted on black (lum · α/255), so features are well-defined for
  * transparent regions.
  */
object Apng {

  private val Signature = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private final class Frame {
    var fw = 0; var fh = 0; var fx = 0; var fy = 0
    var delayMs = 0.0
    var dispose = 0; var blend = 0
    val data = new java.io.ByteArrayOutputStream()
  }

  /** Per-frame features for an animated PNG:
    * `[frame_idx, t_ms, mean/255, std/255, nBins histogram]` per
    * emitted frame — every `stride`-th frame of the first `maxFrames`
    * (all frames up to the last emitted one are DECODED regardless of
    * stride: compositing needs the intermediate canvases). Null for
    * payloads that are not animated PNGs (no/odd acTL, zero frames)
    * or use an unsupported profile.
    */
  def frameFeaturesOrNull(bytes: Array[Byte], nBins: Int, stride: Int,
                          maxFrames: Int): Array[Array[Double]] = {
    if (bytes == null || bytes.length < 45 || stride < 1 || maxFrames < 1) return null
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return null; i += 1 }

    // ---- chunk walk: IHDR + acTL + ordered fcTL/(IDAT|fdAT) groups
    var w = 0; var h = 0; var bitDepth = 0; var colorType = 0; var interlace = 0
    var palette: Array[Byte] = null
    var numFrames = -1
    var sawActl = false
    var idatIsFrame0 = false       // fcTL seen before the first IDAT
    var sawIdat = false
    val frames = new scala.collection.mutable.ArrayBuffer[Frame]()
    var off = 8
    var done = false
    while (!done && off + 8 <= bytes.length) {
      val len = Png.beInt(bytes, off)
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      val dataOff = off + 8
      if (len < 0 || dataOff + len > bytes.length) return null
      typ match {
        case "IHDR" =>
          if (len < 13) return null
          w = Png.beInt(bytes, dataOff); h = Png.beInt(bytes, dataOff + 4)
          bitDepth = bytes(dataOff + 8) & 0xFF
          colorType = bytes(dataOff + 9) & 0xFF
          interlace = bytes(dataOff + 12) & 0xFF
        case "PLTE" => palette = java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + len)
        case "acTL" =>
          if (len < 8 || sawIdat) return null // acTL must precede IDAT
          sawActl = true
          numFrames = Png.beInt(bytes, dataOff)
        case "fcTL" =>
          if (len < 26) return null
          val f = new Frame
          f.fw = Png.beInt(bytes, dataOff + 4); f.fh = Png.beInt(bytes, dataOff + 8)
          f.fx = Png.beInt(bytes, dataOff + 12); f.fy = Png.beInt(bytes, dataOff + 16)
          val num = ((bytes(dataOff + 20) & 0xFF) << 8) | (bytes(dataOff + 21) & 0xFF)
          val denRaw = ((bytes(dataOff + 22) & 0xFF) << 8) | (bytes(dataOff + 23) & 0xFF)
          f.delayMs = 1000.0 * num / (if (denRaw == 0) 100 else denRaw) // spec: den 0 → 100
          f.dispose = bytes(dataOff + 24) & 0xFF
          f.blend = bytes(dataOff + 25) & 0xFF
          if (!sawIdat) idatIsFrame0 = true
          frames += f
        case "IDAT" =>
          sawIdat = true
          if (idatIsFrame0) frames.head.data.write(bytes, dataOff, len)
          // else: default image only (not part of the animation) — skip
        case "fdAT" =>
          if (len < 4 || frames.isEmpty) return null
          frames.last.data.write(bytes, dataOff + 4, len - 4) // strip sequence no.
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped
      }
      off = dataOff + len + 4 // skip CRC
    }
    if (!sawActl || frames.isEmpty || numFrames != frames.length) return null
    if (w <= 0 || h <= 0 || bitDepth != 8 || interlace != 0) return null
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return null
    }
    if (colorType == 3 && palette == null) return null
    // animation canvas cap: 4M pixels (covers 1080p frames). The RGBA
    // double canvas is w·h·32 bytes — the still path's 64M cap would
    // let a few-hundred-byte crafted IHDR allocate a 2 GB canvas
    // (plus a same-size dispose-PREVIOUS snapshot) per task
    if (w.toLong * h > 4L * 1024 * 1024) return null

    // ---- composite frame regions onto an RGBA canvas, snapshot stats
    val canvas = new Array[Double](w * h * 4) // non-premultiplied RGBA, [0,255]
    val nEmit = math.min(maxFrames, frames.length)
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var tMs = 0.0
    var fi = 0
    while (fi < nEmit) {
      val f = frames(fi)
      // long arithmetic: crafted fcTL geometry near 2^31 would wrap a
      // 32-bit fx+fw past the check and index out of the canvas
      if (f.fw <= 0 || f.fh <= 0 || f.fx < 0 || f.fy < 0 ||
          f.fx.toLong + f.fw > w || f.fy.toLong + f.fh > h) return null
      if (f.blend > 1) return null // reserved blend_op: null, not a guess
      val stridePx = f.fw * channels
      val raw = new Array[Byte]((1 + stridePx) * f.fh)
      if (!Png.inflateTo(f.data.toByteArray, raw)) return null
      if (!Png.unfilterInPlace(raw, f.fh, stridePx, channels)) return null
      val prevRegion =
        if (f.dispose == 2) snapshotRegion(canvas, w, f) else null // PREVIOUS
      // paint region
      var y = 0
      while (y < f.fh) {
        val rowOff = y * (1 + stridePx) + 1
        var x = 0
        while (x < f.fw) {
          val o = rowOff + x * channels
          var r = 0.0; var g = 0.0; var b = 0.0; var a = 255.0
          colorType match {
            case 0 => r = raw(o) & 0xFF; g = r; b = r
            case 2 => r = raw(o) & 0xFF; g = raw(o + 1) & 0xFF; b = raw(o + 2) & 0xFF
            case 3 =>
              val pi = (raw(o) & 0xFF) * 3
              if (pi + 2 >= palette.length) return null
              r = palette(pi) & 0xFF; g = palette(pi + 1) & 0xFF; b = palette(pi + 2) & 0xFF
            case 4 => r = raw(o) & 0xFF; g = r; b = r; a = raw(o + 1) & 0xFF
            case 6 =>
              r = raw(o) & 0xFF; g = raw(o + 1) & 0xFF
              b = raw(o + 2) & 0xFF; a = raw(o + 3) & 0xFF
          }
          val ci = ((f.fy + y) * w + (f.fx + x)) * 4
          if (f.blend == 0 || fi == 0) { // SOURCE (spec: frame 0 is always SOURCE)
            canvas(ci) = r; canvas(ci + 1) = g; canvas(ci + 2) = b; canvas(ci + 3) = a
          } else { // OVER
            val sa = a / 255.0; val da = canvas(ci + 3) / 255.0
            val oa = sa + da * (1 - sa)
            if (oa > 0) {
              canvas(ci) = (r * sa + canvas(ci) * da * (1 - sa)) / oa
              canvas(ci + 1) = (g * sa + canvas(ci + 1) * da * (1 - sa)) / oa
              canvas(ci + 2) = (b * sa + canvas(ci + 2) * da * (1 - sa)) / oa
            }
            canvas(ci + 3) = oa * 255.0
          }
          x += 1
        }
        y += 1
      }
      // snapshot features for emitted frames (streamed — no gray plane)
      if (fi % stride == 0) {
        val stats = Png.grayStatsFromRgbaCanvas(canvas, w * h, nBins)
        val row = new Array[Double](2 + stats.length)
        row(0) = fi; row(1) = tMs
        System.arraycopy(stats, 0, row, 2, stats.length)
        out += row
      }
      // dispose AFTER snapshot
      f.dispose match {
        case 0 => () // NONE
        case 1 => // BACKGROUND: region → fully transparent black
          var yy = 0
          while (yy < f.fh) {
            var xx = 0
            while (xx < f.fw) {
              val ci = ((f.fy + yy) * w + (f.fx + xx)) * 4
              canvas(ci) = 0; canvas(ci + 1) = 0; canvas(ci + 2) = 0; canvas(ci + 3) = 0
              xx += 1
            }
            yy += 1
          }
        case 2 => restoreRegion(canvas, w, f, prevRegion) // PREVIOUS
        case _ => return null
      }
      tMs += f.delayMs
      fi += 1
    }
    out.toArray
  }

  private def snapshotRegion(canvas: Array[Double], w: Int, f: Frame): Array[Double] = {
    val buf = new Array[Double](f.fw * f.fh * 4)
    var y = 0
    while (y < f.fh) {
      System.arraycopy(canvas, ((f.fy + y) * w + f.fx) * 4, buf, y * f.fw * 4, f.fw * 4)
      y += 1
    }
    buf
  }

  private def restoreRegion(canvas: Array[Double], w: Int, f: Frame,
                            buf: Array[Double]): Unit = {
    var y = 0
    while (y < f.fh) {
      System.arraycopy(buf, y * f.fw * 4, canvas, ((f.fy + y) * w + f.fx) * 4, f.fw * 4)
      y += 1
    }
  }
}
