package graft.ext

/** Real GIF frame decode, JDK-only — the second real video-frame path
  * next to [[Apng]] (GIF87a/89a is the most common animated container;
  * its LZW codec is fully JDK-expressible). Same output contract as
  * the APNG kernel: per-frame `[frame_idx, t_ms, mean/255, std/255,
  * nBins histogram]` over Rec.601 luminance matted on black, null for
  * non-GIF or malformed payloads — never wrong pixels, never a throw.
  *
  * Format (public GIF89a spec): logical screen descriptor + optional
  * global color table; then a block stream of extensions (Graphic
  * Control Extension carries per-frame delay, disposal, transparency)
  * and image descriptors (region geometry, optional local color
  * table, interlace flag) each followed by LZW-compressed index data
  * in 255-byte sub-blocks. LZW: variable 3..12-bit codes LSB-first,
  * clear/EOI codes, dictionary rebuilt on clear.
  *
  * Compositing: disposal 0/1 keep the canvas, 2 clears the frame's
  * region to transparent (the rendering-practice reading — browsers
  * do the same; the background-color reading is unused by real
  * encoders), 3 restores the pre-frame region. Transparent pixels
  * leave the canvas untouched (GIF frames always "blend over").
  */
object Gif {

  private final class Frame {
    var x = 0; var y = 0; var w = 0; var h = 0
    var interlaced = false
    var palette: Array[Byte] = null       // effective (local or global) RGB triples
    var transIdx = -1
    var disposal = 0
    var delayMs = 0.0
    var minCodeSize = 0
    var data: Array[Byte] = null          // concatenated LZW sub-blocks
  }

  /** Per-frame features; see [[Apng.frameFeaturesOrNull]] for the row
    * contract (identical). Frames beyond `maxFrames` are not decoded;
    * intermediate frames below it always are (compositing).
    */
  def frameFeaturesOrNull(bytes: Array[Byte], nBins: Int, stride: Int,
                          maxFrames: Int): Array[Array[Double]] = {
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val ok = decodeFrames(bytes, maxFrames, stride) { (fi, tMs, canvas, w, h) =>
      val stats = Png.grayStatsFromRgbaCanvas(canvas, w * h, nBins)
      val row = new Array[Double](2 + stats.length)
      row(0) = fi; row(1) = tMs
      System.arraycopy(stats, 0, row, 2, stats.length)
      out += row
    }
    if (!ok || out.isEmpty) null else out.toArray
  }

  /** First frame's Rec.601 luminance plane (alpha matted on black,
    * the [[Png.grayStatsFromRgbaCanvas]] convention) — routes GIF
    * stills AND animation posters into the [[Images]]
    * thumbnail/dHash/near-dup family.
    */
  def firstFrameGrayOrNull(bytes: Array[Byte]): (Array[Double], Int, Int) = {
    var result: (Array[Double], Int, Int) = null
    val ok = decodeFrames(bytes, 1, 1) { (_, _, canvas, w, h) =>
      val g = new Array[Double](w * h)
      var i = 0
      while (i < w * h) {
        val o = i * 4
        g(i) = (0.299 * canvas(o) + 0.587 * canvas(o + 1) +
          0.114 * canvas(o + 2)) * canvas(o + 3) / 255.0
        i += 1
      }
      result = (g, w, h)
    }
    if (!ok) null else result
  }

  /** The shared parse + LZW + compositing walk: emits every
    * `stride`-th of the first `maxFrames` composited canvases to
    * `onFrame(frameIdx, tMs, rgbaCanvas, w, h)`; false = not a
    * decodable GIF (callers return null).
    */
  private def decodeFrames(bytes: Array[Byte], maxFrames: Int, stride: Int)
                          (onFrame: (Int, Double, Array[Double], Int, Int) => Unit): Boolean = {
    if (bytes == null || bytes.length < 14 || stride < 1 || maxFrames < 1) return false
    val hdr = new String(bytes, 0, 6, "US-ASCII")
    if (hdr != "GIF87a" && hdr != "GIF89a") return false

    def u16(off: Int): Int = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)

    val w = u16(6); val h = u16(8)
    // 4M-pixel animation canvas cap, same rationale as Apng's: the
    // RGBA double canvas is w·h·32 bytes per task
    if (w <= 0 || h <= 0 || w.toLong * h > 4L * 1024 * 1024) return false
    val lsdFlags = bytes(10) & 0xFF
    var off = 13
    var global: Array[Byte] = null
    if ((lsdFlags & 0x80) != 0) {
      val n = 3 * (2 << (lsdFlags & 7))
      if (off + n > bytes.length) return false
      global = java.util.Arrays.copyOfRange(bytes, off, off + n)
      off += n
    }

    // ---- block walk: collect frames (bounded by maxFrames decodes)
    val frames = new scala.collection.mutable.ArrayBuffer[Frame]()
    var pendingDelayMs = 0.0; var pendingTrans = -1; var pendingDisposal = 0
    var done = false
    while (!done && off < bytes.length) {
      (bytes(off) & 0xFF) match {
        case 0x3B => done = true // trailer
        case 0x21 => // extension: label + sub-blocks
          if (off + 2 > bytes.length) return false
          val label = bytes(off + 1) & 0xFF
          off += 2
          if (label == 0xF9 && off + 6 <= bytes.length && (bytes(off) & 0xFF) == 4) {
            val packed = bytes(off + 1) & 0xFF
            pendingDisposal = (packed >> 2) & 7
            pendingDelayMs = u16(off + 2) * 10.0 // centiseconds
            pendingTrans = if ((packed & 1) != 0) bytes(off + 4) & 0xFF else -1
          }
          // skip sub-blocks (incl. the GCE's own, already read above)
          var sub = -1
          while (sub != 0) {
            if (off >= bytes.length) return false
            sub = bytes(off) & 0xFF
            off += 1 + sub
            if (off > bytes.length) return false
          }
        case 0x2C => // image descriptor
          if (off + 10 > bytes.length) return false
          val f = new Frame
          f.x = u16(off + 1); f.y = u16(off + 3)
          f.w = u16(off + 5); f.h = u16(off + 7)
          val flags = bytes(off + 9) & 0xFF
          f.interlaced = (flags & 0x40) != 0
          off += 10
          if ((flags & 0x80) != 0) {
            val n = 3 * (2 << (flags & 7))
            if (off + n > bytes.length) return false
            f.palette = java.util.Arrays.copyOfRange(bytes, off, off + n)
            off += n
          } else f.palette = global
          if (f.palette == null) return false
          f.transIdx = pendingTrans; f.disposal = pendingDisposal
          f.delayMs = pendingDelayMs
          pendingTrans = -1; pendingDisposal = 0; pendingDelayMs = 0.0
          if (off >= bytes.length) return false
          f.minCodeSize = bytes(off) & 0xFF
          off += 1
          if (f.minCodeSize < 2 || f.minCodeSize > 11) return false
          val buf = new java.io.ByteArrayOutputStream()
          var sub = -1
          while (sub != 0) {
            if (off >= bytes.length) return false
            sub = bytes(off) & 0xFF
            if (off + 1 + sub > bytes.length) return false
            buf.write(bytes, off + 1, sub)
            off += 1 + sub
          }
          f.data = buf.toByteArray
          frames += f
          // frames past maxFrames are never decoded — stop collecting
          // (bounds peak memory to what is used, and a corrupt byte in
          // an unread tail frame cannot null an otherwise-good result)
          if (frames.length >= maxFrames) done = true
        case _ => return false // unknown top-level block (incl. stray
        // padding zeros some mangled files carry — strict null beats
        // guessing at resync)
      }
    }
    if (frames.isEmpty) return false

    // ---- decode + composite (RGBA canvas, like Apng)
    val canvas = new Array[Double](w * h * 4)
    val nEmit = math.min(maxFrames, frames.length)
    var tMs = 0.0
    var fi = 0
    while (fi < nEmit) {
      val f = frames(fi)
      if (f.w <= 0 || f.h <= 0 ||
          f.x.toLong + f.w > w || f.y.toLong + f.h > h) return false
      val idx = lzwDecode(f.data, f.minCodeSize, f.w * f.h)
      if (idx == null) return false
      val prevRegion = if (f.disposal == 3) snapshot(canvas, w, f) else null
      var p = 0
      while (p < f.w * f.h) {
        // interlace: 4-pass row order (0/8, 4/8, 2/4, 1/2)
        val row = p / f.w
        val y =
          if (!f.interlaced) row
          else {
            val p1 = (f.h + 7) / 8; val p2 = (f.h + 3) / 8
            val p3 = (f.h + 1) / 4
            if (row < p1) row * 8
            else if (row < p1 + p2) 4 + (row - p1) * 8
            else if (row < p1 + p2 + p3) 2 + (row - p1 - p2) * 4
            else 1 + (row - p1 - p2 - p3) * 2
          }
        val ci = idx(p) & 0xFF
        if (ci != f.transIdx) {
          if (3 * ci + 2 >= f.palette.length) return false
          val o = ((f.y + y) * w + (f.x + p % f.w)) * 4
          canvas(o) = f.palette(3 * ci) & 0xFF
          canvas(o + 1) = f.palette(3 * ci + 1) & 0xFF
          canvas(o + 2) = f.palette(3 * ci + 2) & 0xFF
          canvas(o + 3) = 255.0
        }
        p += 1
      }
      if (fi % stride == 0) onFrame(fi, tMs, canvas, w, h)
      f.disposal match {
        case 2 => // restore to background → transparent region
          var yy = 0
          while (yy < f.h) {
            var xx = 0
            while (xx < f.w) {
              val o = ((f.y + yy) * w + (f.x + xx)) * 4
              canvas(o) = 0; canvas(o + 1) = 0; canvas(o + 2) = 0; canvas(o + 3) = 0
              xx += 1
            }
            yy += 1
          }
        case 3 => restore(canvas, w, f, prevRegion)
        case _ => () // 0/1: leave in place
      }
      tMs += f.delayMs
      fi += 1
    }
    true
  }

  /** GIF-flavor LZW: variable-width codes LSB-first, dictionary of
    * (prefix, suffix) pairs rebuilt on CLEAR, codes grow to 12 bits.
    * Returns exactly `outLen` palette indices or null (truncated
    * stream, bad code, dictionary overflow).
    */
  private[graft] def lzwDecode(data: Array[Byte], minCodeSize: Int, outLen: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = eoi + 1
    var codeSize = minCodeSize + 1
    val out = new Array[Byte](outLen)
    var outPos = 0
    val stack = new Array[Byte](4096)
    var bitPos = 0
    var prev = -1

    def readCode(): Int = {
      if (bitPos.toLong + codeSize > data.length.toLong * 8) return -1 // >256MB frames: *8 wraps Int
      var v = 0; var i = 0
      while (i < codeSize) {
        val b = bitPos + i
        if ((data(b >> 3) & (1 << (b & 7))) != 0) v |= 1 << i
        i += 1
      }
      bitPos += codeSize
      v
    }

    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c) // walk to the root suffix
      c
    }

    def emit(code: Int): Boolean = {
      var c = code; var sp = 0
      while (c >= clear) {
        if (sp >= stack.length) return false
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
      }
      if (outPos + sp + 1 > outLen) return false
      out(outPos) = c.toByte; outPos += 1
      while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
      true
    }

    while (outPos < outLen) {
      val code = readCode()
      if (code < 0 || code == eoi) return null // ran out before outLen
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (prev < 0) {
        if (code >= clear) return null // first code must be literal
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        if (code > dictSize || (code == dictSize && dictSize >= 4096)) return null
        val newSuffix: Byte = if (code == dictSize) {
          // KwKwK case: emit string(prev) + firstChar(string(prev)),
          // and that first char is also the new entry's suffix (the
          // entry being defined IS this code — firstOf(code) would
          // walk an uninitialized slot)
          val fo = firstOf(prev)
          if (!emit(prev)) return null
          if (outPos >= outLen) return null // appended byte must fit
          out(outPos) = fo.toByte; outPos += 1
          fo.toByte
        } else {
          if (!emit(code)) return null
          firstOf(code).toByte
        }
        if (dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = newSuffix
          dictSize += 1
          if (dictSize < 4096 && (dictSize & (dictSize - 1)) == 0 && dictSize > clear)
            codeSize = Integer.numberOfTrailingZeros(dictSize) + 1
        }
        prev = code
      }
    }
    out
  }

  private def snapshot(canvas: Array[Double], w: Int, f: Frame): Array[Double] = {
    val buf = new Array[Double](f.w * f.h * 4)
    var y = 0
    while (y < f.h) {
      System.arraycopy(canvas, ((f.y + y) * w + f.x) * 4, buf, y * f.w * 4, f.w * 4)
      y += 1
    }
    buf
  }

  private def restore(canvas: Array[Double], w: Int, f: Frame,
                      buf: Array[Double]): Unit = {
    var y = 0
    while (y < f.h) {
      System.arraycopy(buf, y * f.w * 4, canvas, ((f.y + y) * w + f.x) * 4, f.w * 4)
      y += 1
    }
  }
}
