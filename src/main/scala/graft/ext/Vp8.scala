package graft.ext

import scala.util.control.NonFatal

/** Lossy VP8 KEYFRAME decoder (RFC 6386), hand-written from the
  * public spec — the pixel path that lets WebM/VP8 video and lossy
  * WebP stills join the image/video near-duplicate families
  * (reference capability: EavenW/Modeltracking ships no media
  * decode at all; this extends the brief's multimodal surface).
  *
  * Scope: intra-only (keyframes) — exactly what frame-fingerprint
  * dedup samples ([[Multimodal]] hashes keyframes; inter frames of a
  * re-encode share their keyframes' content). Interframes null.
  *
  * The full keyframe path is implemented: bool decoder (§7), frame
  * header (§9), segmentation (§10), intra modes (§11), token/
  * coefficient decode with live probability updates (§13), per-
  * segment dequantization (§14.1), inverse WHT + DCT (§14.3-.4),
  * all 4x4/8x8/16x16 intra predictors (§12), and BOTH loop filters
  * (§15, simple + normal) — the filter is required for per-pixel
  * exactness, unlike H.264's optional-off case.
  *
  * Validation (Vp8Spec, the VP8L two-validator convention):
  *   1. per-pixel Y/U/V golden match against the system libwebp's own
  *      encode→decode loop (`data/vp8_golden/`, WebPDecodeYUV output:
  *      raw reconstructed planes, no colorspace conversion) across
  *      qualities 10..90, odd dims, multi-segment content;
  *   2. an independent test-side keyframe ENCODER ([[Vp8Fixtures]])
  *      whose streams exercise paths the libwebp encoder avoids.
  *
  * Bounded-and-total: all loops capped by the MB count, coefficient
  * positions capped at 16, bool decoder zero-extends past partition
  * end (§7.3 convention); malformed input nulls, never throws.
  */
object Vp8 {

  /** Decoded 4:2:0 planes: y is w×h, u/v are ceil(w/2)×ceil(h/2). */
  final class Planes(val w: Int, val h: Int, val y: Array[Byte],
                     val u: Array[Byte], val v: Array[Byte]) {
    def uvW: Int = (w + 1) / 2
    def uvH: Int = (h + 1) / 2
  }

  private val MaxPixels = 1 << 24 // 16M-pixel guard, same as VP8L

  // -----------------------------------------------------------------
  // bool decoder (RFC 6386 §7.3 reference semantics)
  // -----------------------------------------------------------------
  private[graft] final class Br(b: Array[Byte], var pos: Int, end: Int) {
    private var range = 255
    private var value = ((next() << 8) | next())
    private var bitCount = 0

    private def next(): Int =
      if (pos < end) { val v = b(pos) & 0xFF; pos += 1; v } else 0

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= next() }
      }
      ret
    }

    def flag(): Boolean = bit(128) == 1

    /** n-bit unsigned literal, MSB first */
    def lit(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(128); i += 1 }
      v
    }

    /** magnitude + sign-bit literal */
    def sLit(n: Int): Int = {
      val v = lit(n)
      if (bit(128) == 1) -v else v
    }
  }

  /** generic tree read (§8.2): tree entries > 0 are node offsets,
    * <= 0 are negated leaf values
    */
  private def treeRead(br: Br, tree: Array[Int], probs: Array[Int]): Int = {
    var i = tree(br.bit(probs(0)))
    while (i > 0) i = tree(i + br.bit(probs(i >> 1)))
    -i
  }

  // intra mode numbering (§11.2): DC=0 V=1 H=2 TM=3 B_PRED=4
  private val KfYModeTree = Array(-4, 2, 4, 6, -0, -1, -2, -3)
  private val KfYModeProbs = Array(145, 156, 163, 128)
  private val UvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private val KfUvModeProbs = Array(142, 114, 183)
  // subblock modes: DC=0 TM=1 VE=2 HE=3 LD=4 RD=5 VR=6 VL=7 HD=8 HU=9
  private val BModeTree = Array(
    -0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -5, -6, -4, 14, -7, 16, -8, -9)
  private val SegTree = Array(2, 4, -0, -1, -2, -3)
  // 16x16 mode → implied subblock mode for neighbor context (§11.3)
  private val ImpliedBMode = Array(0, 2, 3, 1)

  private[graft] val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val Cat3456 = Array(
    Array(173, 148, 140), Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  private def clamp(v: Int, lo: Int, hi: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // -----------------------------------------------------------------
  // public entry points
  // -----------------------------------------------------------------

  /** raw VP8 frame (WebP 'VP8 ' chunk payload / WebM block payload) */
  def decodeFrameOrNull(bytes: Array[Byte]): Planes =
    if (bytes == null) null else decodeFrameOrNull(bytes, 0, bytes.length)

  def decodeFrameOrNull(bytes: Array[Byte], off: Int, len: Int): Planes =
    try decodeFrame(bytes, off, len)
    catch { case NonFatal(_) => null }

  /** RIFF/WebP container → first 'VP8 ' (lossy) chunk */
  def decodeWebpOrNull(bytes: Array[Byte]): Planes = {
    if (bytes == null || bytes.length < 20) return null
    if (bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
        bytes(8) != 'W' || bytes(9) != 'E' || bytes(10) != 'B' || bytes(11) != 'P')
      return null
    var p = 12
    while (p + 8 <= bytes.length) {
      val size = (bytes(p + 4) & 0xFF) | ((bytes(p + 5) & 0xFF) << 8) |
        ((bytes(p + 6) & 0xFF) << 16) | ((bytes(p + 7) & 0xFF) << 24)
      if (size < 0 || p + 8 + size > bytes.length) return null
      if (bytes(p) == 'V' && bytes(p + 1) == 'P' && bytes(p + 2) == '8' &&
          bytes(p + 3) == ' ')
        return decodeFrameOrNull(bytes, p + 8, size)
      p += 8 + size + (size & 1)
    }
    null
  }

  /** luminance plane for [[Images]] (the Y plane IS the luma — no
    * colorspace conversion involved)
    */
  def grayOrNull(planes: Planes): (Array[Double], Int, Int) = {
    if (planes == null) return null
    val out = new Array[Double](planes.w * planes.h)
    var i = 0
    while (i < out.length) { out(i) = planes.y(i) & 0xFF; i += 1 }
    (out, planes.w, planes.h)
  }

  // -----------------------------------------------------------------
  // frame decode
  // -----------------------------------------------------------------
  private def decodeFrame(b: Array[Byte], off0: Int, len: Int): Planes = {
    if (b == null || len < 10 || off0 < 0 || off0 + len > b.length)
      sys.error("short frame")
    val tag = (b(off0) & 0xFF) | ((b(off0 + 1) & 0xFF) << 8) |
      ((b(off0 + 2) & 0xFF) << 16)
    if ((tag & 1) != 0) sys.error("interframe (keyframe-only scope)")
    if (((tag >> 1) & 7) > 3) sys.error("bad version")
    val part0Len = tag >>> 5
    if ((b(off0 + 3) & 0xFF) != 0x9D || (b(off0 + 4) & 0xFF) != 0x01 ||
        (b(off0 + 5) & 0xFF) != 0x2A) sys.error("bad start code")
    val w = ((b(off0 + 6) & 0xFF) | ((b(off0 + 7) & 0xFF) << 8)) & 0x3FFF
    val h = ((b(off0 + 8) & 0xFF) | ((b(off0 + 9) & 0xFF) << 8)) & 0x3FFF
    if (w == 0 || h == 0 || w.toLong * h > MaxPixels) sys.error("bad dims")
    val part0 = off0 + 10
    if (part0 + part0Len > off0 + len) sys.error("part0 overruns frame")
    val br = new Br(b, part0, part0 + part0Len)

    // ---- frame header (§9)
    br.bit(128); br.bit(128) // color_space, clamping_type (unused)
    val segEnabled = br.flag()
    var updateMap = false
    var segAbs = false
    val segTreeProbs = Array(255, 255, 255)
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    if (segEnabled) {
      updateMap = br.flag()
      val updData = br.flag()
      if (updData) {
        segAbs = br.flag()
        var i = 0
        while (i < 4) { if (br.flag()) segQuant(i) = br.sLit(7); i += 1 }
        i = 0
        while (i < 4) { if (br.flag()) segFilter(i) = br.sLit(6); i += 1 }
      }
      if (updateMap) {
        var i = 0
        while (i < 3) { if (br.flag()) segTreeProbs(i) = br.lit(8); i += 1 }
      }
    }
    val simpleFilter = br.flag()
    val filterLevel = br.lit(6)
    val sharpness = br.lit(3)
    val lfDelta = br.flag()
    val refDelta = new Array[Int](4)
    val modeDelta = new Array[Int](4)
    if (lfDelta && br.flag()) {
      var i = 0
      while (i < 4) { if (br.flag()) refDelta(i) = br.sLit(6); i += 1 }
      i = 0
      while (i < 4) { if (br.flag()) modeDelta(i) = br.sLit(6); i += 1 }
    }
    val nParts = 1 << br.lit(2)
    val yacQi = br.lit(7)
    def qd(): Int = if (br.flag()) br.sLit(4) else 0
    val y1dcD = qd(); val y2dcD = qd(); val y2acD = qd()
    val uvdcD = qd(); val uvacD = qd()
    br.flag() // refresh_entropy_probs (no cross-frame state here)

    // live coefficient probabilities (defaults + per-frame updates)
    val probs = new Array[Int](1056)
    System.arraycopy(Vp8Tables.CoeffProbs, 0, probs, 0, 1056)
    var pi = 0
    while (pi < 1056) {
      if (br.bit(Vp8Tables.CoeffUpdateProbs(pi)) == 1) probs(pi) = br.lit(8)
      pi += 1
    }
    val noSkip = br.flag()
    val probSkip = if (noSkip) br.lit(8) else 0

    // ---- token partitions (§9.5)
    val partBr = new Array[Br](nParts)
    locally {
      var p = part0 + part0Len
      if (nParts > 1) {
        val sizesAt = p
        p += 3 * (nParts - 1)
        var k = 0
        while (k < nParts - 1) {
          val sa = sizesAt + 3 * k
          if (sa + 3 > off0 + len) sys.error("partition sizes overrun")
          val sz = (b(sa) & 0xFF) | ((b(sa + 1) & 0xFF) << 8) |
            ((b(sa + 2) & 0xFF) << 16)
          if (p + sz > off0 + len) sys.error("partition overruns frame")
          partBr(k) = new Br(b, p, p + sz)
          p += sz
          k += 1
        }
      }
      partBr(nParts - 1) = new Br(b, p, off0 + len)
    }

    // ---- per-segment dequant factors (§14.1)
    val qY1dc = new Array[Int](4); val qY1ac = new Array[Int](4)
    val qY2dc = new Array[Int](4); val qY2ac = new Array[Int](4)
    val qUVdc = new Array[Int](4); val qUVac = new Array[Int](4)
    locally {
      var s = 0
      while (s < 4) {
        val q = clamp(
          if (segEnabled) { if (segAbs) segQuant(s) else yacQi + segQuant(s) }
          else yacQi, 0, 127)
        qY1dc(s) = Vp8Tables.DcQ(clamp(q + y1dcD, 0, 127))
        qY1ac(s) = Vp8Tables.AcQ(q)
        qY2dc(s) = Vp8Tables.DcQ(clamp(q + y2dcD, 0, 127)) * 2
        qY2ac(s) = { val v = Vp8Tables.AcQ(clamp(q + y2acD, 0, 127)) * 155 / 100
                     if (v < 8) 8 else v }
        // chroma DC index clamps at 117 (value cap 132, §14.1)
        qUVdc(s) = Vp8Tables.DcQ(clamp(q + uvdcD, 0, 117))
        qUVac(s) = Vp8Tables.AcQ(clamp(q + uvacD, 0, 127))
        s += 1
      }
    }

    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    // padded reconstruction planes with a 1-px top/left border and a
    // 4-px top-right extension (127/129 edge conventions, §12.2)
    val yStride = mbW * 16 + 8
    val yBase = yStride + 1
    val yPix = new Array[Byte]((mbH * 16 + 1) * yStride)
    val cStride = mbW * 8 + 8
    val cBase = cStride + 1
    val uPix = new Array[Byte]((mbH * 8 + 1) * cStride)
    val vPix = new Array[Byte]((mbH * 8 + 1) * cStride)
    java.util.Arrays.fill(yPix, 0, yStride, 127.toByte)
    java.util.Arrays.fill(uPix, 0, cStride, 127.toByte)
    java.util.Arrays.fill(vPix, 0, cStride, 127.toByte)

    // nonzero-coefficient contexts: per MB column [4 Y, 2 U, 2 V, 1 Y2]
    val aboveNz = new Array[Int](mbW * 9)
    val leftNz = new Array[Int](9)
    val aboveBMode = new Array[Byte](mbW * 4)
    val leftBMode = new Array[Byte](4)

    // per-MB loop-filter info
    val lfLevel = new Array[Byte](mbW * mbH)
    val lfInner = new Array[Boolean](mbW * mbH)

    val coeffs = new Array[Short](400) // 24 blocks + Y2, 16 each
    val blockNz = new Array[Boolean](25)
    val bModes = new Array[Int](16)
    val wht = new Array[Int](16)
    val tmp = new Array[Int](16)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      java.util.Arrays.fill(leftBMode, 0.toByte)
      val tbr = partBr(mbY % nParts)
      val py0 = mbY * 16
      val pc0 = mbY * 8
      // left-column 129 borders for this MB row
      locally {
        var k = 0
        while (k < 16) { yPix(yBase + (py0 + k) * yStride - 1) = 129.toByte; k += 1 }
        k = 0
        while (k < 8) {
          uPix(cBase + (pc0 + k) * cStride - 1) = 129.toByte
          vPix(cBase + (pc0 + k) * cStride - 1) = 129.toByte
          k += 1
        }
        if (mbY > 0) {
          yPix(yBase + (py0 - 1) * yStride - 1) = 129.toByte
          uPix(cBase + (pc0 - 1) * cStride - 1) = 129.toByte
          vPix(cBase + (pc0 - 1) * cStride - 1) = 129.toByte
        }
      }

      var mbX = 0
      while (mbX < mbW) {
        // ---- MB header (§10, A.3)
        val seg = if (updateMap) treeRead(br, SegTree, segTreeProbs) else 0
        val skip = noSkip && br.bit(probSkip) == 1
        val yMode = treeRead(br, KfYModeTree, KfYModeProbs)
        val isB = yMode == 4
        if (isB) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above = if (sy == 0) aboveBMode(mbX * 4 + sx) else bModes(sb - 4)
            val left = if (sx == 0) leftBMode(sy) else bModes(sb - 1)
            val m = treeRead(br, BModeTree,
              java.util.Arrays.copyOfRange(Vp8Tables.KfBModeProbs,
                (above * 10 + left) * 9, (above * 10 + left) * 9 + 9))
            bModes(sb) = m
            sb += 1
          }
          var k = 0
          while (k < 4) {
            aboveBMode(mbX * 4 + k) = bModes(12 + k).toByte
            leftBMode(k) = bModes(k * 4 + 3).toByte
            k += 1
          }
        } else {
          val im = ImpliedBMode(yMode).toByte
          var k = 0
          while (k < 4) { aboveBMode(mbX * 4 + k) = im; leftBMode(k) = im; k += 1 }
        }
        val uvMode = treeRead(br, UvModeTree, KfUvModeProbs)

        // ---- tokens (§13)
        var hasCoeffs = false
        java.util.Arrays.fill(coeffs, 0.toShort)
        java.util.Arrays.fill(blockNz, false)
        if (!skip) {
          val aOff = mbX * 9
          var firstY = 0
          if (!isB) {
            // Y2 (block type 1)
            val ctx = aboveNz(aOff + 8) + leftNz(8)
            val end = coeffsBlock(tbr, probs, 1, ctx, 0,
              qY2dc(seg), qY2ac(seg), coeffs, 384)
            val nz = end > 0
            aboveNz(aOff + 8) = if (nz) 1 else 0
            leftNz(8) = if (nz) 1 else 0
            blockNz(24) = nz
            if (nz) hasCoeffs = true
            firstY = 1
          }
          val typ = if (isB) 3 else 0
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val ctx = aboveNz(aOff + sx) + leftNz(sy)
            val end = coeffsBlock(tbr, probs, typ, ctx, firstY,
              qY1dc(seg), qY1ac(seg), coeffs, sb * 16)
            val nz = end > firstY
            aboveNz(aOff + sx) = if (nz) 1 else 0
            leftNz(sy) = if (nz) 1 else 0
            blockNz(sb) = nz
            if (nz) hasCoeffs = true
            sb += 1
          }
          var c = 0
          while (c < 8) { // 4 U then 4 V
            val sx = c & 1; val sy = (c >> 1) & 1
            val u = c < 4
            val aIdx = aOff + 4 + (if (u) 0 else 2) + sx
            val lIdx = 4 + (if (u) 0 else 2) + sy
            val ctx = aboveNz(aIdx) + leftNz(lIdx)
            val end = coeffsBlock(tbr, probs, 2, ctx, 0,
              qUVdc(seg), qUVac(seg), coeffs, (16 + c) * 16)
            val nz = end > 0
            aboveNz(aIdx) = if (nz) 1 else 0
            leftNz(lIdx) = if (nz) 1 else 0
            blockNz(16 + c) = nz
            if (nz) hasCoeffs = true
            c += 1
          }
        } else {
          // skipped MB: contexts reset; Y2 context propagates across
          // B_PRED MBs unchanged (they have no Y2 block)
          val aOff = mbX * 9
          var k = 0
          while (k < 8) { aboveNz(aOff + k) = 0; leftNz(k) = 0; k += 1 }
          if (!isB) { aboveNz(aOff + 8) = 0; leftNz(8) = 0 }
        }

        // ---- reconstruction
        val yOff = yBase + py0 * yStride + mbX * 16
        if (!isB) {
          if (blockNz(24)) {
            // dequantized Y2 → inverse WHT → per-block DC (§14.3)
            var i = 0
            while (i < 16) { wht(i) = coeffs(384 + i); i += 1 }
            inverseWht(wht, tmp)
            i = 0
            while (i < 16) { coeffs(i * 16) = tmp(i).toShort; i += 1 }
          }
          predictWhole(yPix, yOff, yStride, 16, yMode, mbX > 0, mbY > 0)
          var sb = 0
          while (sb < 16) {
            if (blockNz(sb) || coeffs(sb * 16) != 0)
              idctAdd(coeffs, sb * 16, yPix,
                yOff + (sb >> 2) * 4 * yStride + (sb & 3) * 4, yStride)
            sb += 1
          }
        } else {
          // top-right setup (§12.3 / the libwebp replication rule)
          val trOff = yOff - yStride + 16
          if (mbY > 0 && mbX == mbW - 1) {
            val v = yPix(yOff - yStride + 15)
            yPix(trOff) = v; yPix(trOff + 1) = v
            yPix(trOff + 2) = v; yPix(trOff + 3) = v
          }
          var k = 1
          while (k < 4) {
            val d = trOff + k * 4 * yStride
            yPix(d) = yPix(trOff); yPix(d + 1) = yPix(trOff + 1)
            yPix(d + 2) = yPix(trOff + 2); yPix(d + 3) = yPix(trOff + 3)
            k += 1
          }
          var sb = 0
          while (sb < 16) {
            val o = yOff + (sb >> 2) * 4 * yStride + (sb & 3) * 4
            predict4(yPix, o, yStride, bModes(sb))
            if (blockNz(sb)) idctAdd(coeffs, sb * 16, yPix, o, yStride)
            sb += 1
          }
        }
        val uOff = cBase + pc0 * cStride + mbX * 8
        val vOff = uOff
        predictWhole(uPix, uOff, cStride, 8, uvMode, mbX > 0, mbY > 0)
        predictWhole(vPix, vOff, cStride, 8, uvMode, mbX > 0, mbY > 0)
        var c = 0
        while (c < 8) {
          if (blockNz(16 + c)) {
            val plane = if (c < 4) uPix else vPix
            val o = (if (c < 4) uOff else vOff) +
              ((c >> 1) & 1) * 4 * cStride + (c & 1) * 4
            idctAdd(coeffs, (16 + c) * 16, plane, o, cStride)
          }
          c += 1
        }

        // ---- loop-filter level for this MB (§15.2)
        var lvl =
          if (segEnabled) {
            if (segAbs) segFilter(seg) else filterLevel + segFilter(seg)
          } else filterLevel
        lvl = clamp(lvl, 0, 63)
        if (lfDelta) {
          lvl += refDelta(0) // all keyframe MBs are INTRA_FRAME
          if (isB) lvl += modeDelta(0)
          lvl = clamp(lvl, 0, 63)
        }
        lfLevel(mbY * mbW + mbX) = lvl.toByte
        lfInner(mbY * mbW + mbX) = hasCoeffs || isB

        mbX += 1
      }
      mbY += 1
    }

    // ---- loop filter (§15), MB raster order, after full reconstruction
    if (filterLevel > 0) {
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val lvl = lfLevel(mbY * mbW + mbX) & 0xFF
          if (lvl > 0) {
            var interior = lvl
            if (sharpness > 0) {
              interior >>= (if (sharpness > 4) 2 else 1)
              if (interior > 9 - sharpness) interior = 9 - sharpness
            }
            if (interior < 1) interior = 1
            val mbLim = (lvl + 2) * 2 + interior
            val bLim = lvl * 2 + interior
            val hev = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
            val inner = lfInner(mbY * mbW + mbX)
            val yOff = yBase + mbY * 16 * yStride + mbX * 16
            val uOff = cBase + mbY * 8 * cStride + mbX * 8
            if (simpleFilter) {
              if (mbX > 0) simpleEdge(yPix, yOff, 1, yStride, 16, mbLim)
              if (inner) {
                simpleEdge(yPix, yOff + 4, 1, yStride, 16, bLim)
                simpleEdge(yPix, yOff + 8, 1, yStride, 16, bLim)
                simpleEdge(yPix, yOff + 12, 1, yStride, 16, bLim)
              }
              if (mbY > 0) simpleEdge(yPix, yOff, yStride, 1, 16, mbLim)
              if (inner) {
                simpleEdge(yPix, yOff + 4 * yStride, yStride, 1, 16, bLim)
                simpleEdge(yPix, yOff + 8 * yStride, yStride, 1, 16, bLim)
                simpleEdge(yPix, yOff + 12 * yStride, yStride, 1, 16, bLim)
              }
            } else {
              if (mbX > 0) {
                mbEdge(yPix, yOff, 1, yStride, 16, mbLim, interior, hev)
                mbEdge(uPix, uOff, 1, cStride, 8, mbLim, interior, hev)
                mbEdge(vPix, uOff, 1, cStride, 8, mbLim, interior, hev)
              }
              if (inner) {
                subEdge(yPix, yOff + 4, 1, yStride, 16, bLim, interior, hev)
                subEdge(yPix, yOff + 8, 1, yStride, 16, bLim, interior, hev)
                subEdge(yPix, yOff + 12, 1, yStride, 16, bLim, interior, hev)
                subEdge(uPix, uOff + 4, 1, cStride, 8, bLim, interior, hev)
                subEdge(vPix, uOff + 4, 1, cStride, 8, bLim, interior, hev)
              }
              if (mbY > 0) {
                mbEdge(yPix, yOff, yStride, 1, 16, mbLim, interior, hev)
                mbEdge(uPix, uOff, cStride, 1, 8, mbLim, interior, hev)
                mbEdge(vPix, uOff, cStride, 1, 8, mbLim, interior, hev)
              }
              if (inner) {
                subEdge(yPix, yOff + 4 * yStride, yStride, 1, 16, bLim, interior, hev)
                subEdge(yPix, yOff + 8 * yStride, yStride, 1, 16, bLim, interior, hev)
                subEdge(yPix, yOff + 12 * yStride, yStride, 1, 16, bLim, interior, hev)
                subEdge(uPix, uOff + 4 * cStride, cStride, 1, 8, bLim, interior, hev)
                subEdge(vPix, uOff + 4 * cStride, cStride, 1, 8, bLim, interior, hev)
              }
            }
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    // ---- crop to picture size
    val outY = new Array[Byte](w * h)
    var r = 0
    while (r < h) {
      System.arraycopy(yPix, yBase + r * yStride, outY, r * w, w)
      r += 1
    }
    val uvW = (w + 1) / 2
    val uvH = (h + 1) / 2
    val outU = new Array[Byte](uvW * uvH)
    val outV = new Array[Byte](uvW * uvH)
    r = 0
    while (r < uvH) {
      System.arraycopy(uPix, cBase + r * cStride, outU, r * uvW, uvW)
      System.arraycopy(vPix, cBase + r * cStride, outV, r * uvW, uvW)
      r += 1
    }
    new Planes(w, h, outY, outU, outV)
  }

  // -----------------------------------------------------------------
  // token decode for one 4x4 block (§13.3); returns the position
  // after the last decoded coefficient (== first ⇒ empty block)
  // -----------------------------------------------------------------
  private def coeffsBlock(br: Br, probs: Array[Int], typ: Int, ctx0: Int,
                          first: Int, dqDc: Int, dqAc: Int,
                          out: Array[Short], outOff: Int): Int = {
    var n = first
    var pOff = ((typ * 8 + Vp8Tables.Bands(n)) * 3 + ctx0) * 11
    while (n < 16) {
      if (br.bit(probs(pOff)) == 0) return n // EOB
      // zero run: EOB cannot follow a zero token (§13.2 grammar)
      var zeroBreak = false
      while (!zeroBreak && br.bit(probs(pOff + 1)) == 0) {
        n += 1
        if (n == 16) return 16
        pOff = ((typ * 8 + Vp8Tables.Bands(n)) * 3) * 11
        zeroBreak = false
      }
      var v = 0
      if (br.bit(probs(pOff + 2)) == 0) v = 1
      else if (br.bit(probs(pOff + 3)) == 0) {
        if (br.bit(probs(pOff + 4)) == 0) v = 2
        else v = 3 + br.bit(probs(pOff + 5))
      } else if (br.bit(probs(pOff + 6)) == 0) {
        if (br.bit(probs(pOff + 7)) == 0) v = 5 + br.bit(159)
        else v = 7 + 2 * br.bit(165) + br.bit(145)
      } else {
        val bit1 = br.bit(probs(pOff + 8))
        val bit0 = br.bit(probs(pOff + 9 + bit1))
        val cat = 2 * bit1 + bit0
        val tab = Cat3456(cat)
        var k = 0
        while (k < tab.length) { v = (v << 1) + br.bit(tab(k)); k += 1 }
        v += 3 + (8 << cat)
      }
      val nextCtx = if (v == 1) 1 else 2
      val signed = if (br.bit(128) == 1) -v else v
      out(outOff + Zigzag(n)) =
        (signed * (if (n == 0) dqDc else dqAc)).toShort
      n += 1
      if (n == 16) return 16
      pOff = ((typ * 8 + Vp8Tables.Bands(n)) * 3 + nextCtx) * 11
    }
    16
  }

  // -----------------------------------------------------------------
  // transforms (§14.3-.4, integer-exact)
  // -----------------------------------------------------------------
  /** inverse 4x4 Walsh-Hadamard of the Y2 block; out(i) is Y block
    * i's DC in raster order
    */
  private def inverseWht(in: Array[Int], out: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a0 = in(i) + in(12 + i)
      val a1 = in(4 + i) + in(8 + i)
      val a2 = in(4 + i) - in(8 + i)
      val a3 = in(i) - in(12 + i)
      t(i) = a0 + a1
      t(8 + i) = a0 - a1
      t(4 + i) = a3 + a2
      t(12 + i) = a3 - a2
      i += 1
    }
    i = 0
    while (i < 4) {
      val dc = t(i * 4) + 3
      val a0 = dc + t(3 + i * 4)
      val a1 = t(1 + i * 4) + t(2 + i * 4)
      val a2 = t(1 + i * 4) - t(2 + i * 4)
      val a3 = dc - t(3 + i * 4)
      out(i * 4) = (a0 + a1) >> 3
      out(i * 4 + 1) = (a3 + a2) >> 3
      out(i * 4 + 2) = (a0 - a1) >> 3
      out(i * 4 + 3) = (a3 - a2) >> 3
      i += 1
    }
  }

  private def mul1(a: Int): Int = ((a * 20091) >> 16) + a
  private def mul2(a: Int): Int = (a * 35468) >> 16

  /** inverse DCT of coeffs[off..off+15] (raster) added into the plane */
  private[graft] def idctAdd(coeffs: Array[Short], off: Int,
                      p: Array[Byte], o: Int, stride: Int): Unit = {
    val c = new Array[Int](16)
    var i = 0
    while (i < 4) { // vertical pass over columns
      val a = coeffs(off + i) + coeffs(off + 8 + i)
      val b = coeffs(off + i) - coeffs(off + 8 + i)
      val cc = mul2(coeffs(off + 4 + i)) - mul1(coeffs(off + 12 + i))
      val d = mul1(coeffs(off + 4 + i)) + mul2(coeffs(off + 12 + i))
      c(i * 4) = a + d; c(i * 4 + 1) = b + cc
      c(i * 4 + 2) = b - cc; c(i * 4 + 3) = a - d
      i += 1
    }
    i = 0
    while (i < 4) { // horizontal pass (transposed back), +4 rounding
      val dc = c(i) + 4
      val a = dc + c(8 + i)
      val b = dc - c(8 + i)
      val cc = mul2(c(4 + i)) - mul1(c(12 + i))
      val d = mul1(c(4 + i)) + mul2(c(12 + i))
      val ro = o + i * stride
      p(ro) = clip255((p(ro) & 0xFF) + ((a + d) >> 3)).toByte
      p(ro + 1) = clip255((p(ro + 1) & 0xFF) + ((b + cc) >> 3)).toByte
      p(ro + 2) = clip255((p(ro + 2) & 0xFF) + ((b - cc) >> 3)).toByte
      p(ro + 3) = clip255((p(ro + 3) & 0xFF) + ((a - d) >> 3)).toByte
      i += 1
    }
  }

  // -----------------------------------------------------------------
  // whole-block intra prediction (16x16 luma / 8x8 chroma, §12.2)
  // -----------------------------------------------------------------
  private[graft] def predictWhole(p: Array[Byte], o: Int, stride: Int, size: Int,
                           mode: Int, hasLeft: Boolean, hasAbove: Boolean): Unit = {
    mode match {
      case 0 => // DC with edge-count special cases
        var dc = 0
        if (hasAbove && hasLeft) {
          var i = 0
          while (i < size) {
            dc += (p(o - stride + i) & 0xFF) + (p(o + i * stride - 1) & 0xFF)
            i += 1
          }
          dc = (dc + size) >> (if (size == 16) 5 else 4)
        } else if (hasAbove) {
          var i = 0
          while (i < size) { dc += p(o - stride + i) & 0xFF; i += 1 }
          dc = (dc + size / 2) >> (if (size == 16) 4 else 3)
        } else if (hasLeft) {
          var i = 0
          while (i < size) { dc += p(o + i * stride - 1) & 0xFF; i += 1 }
          dc = (dc + size / 2) >> (if (size == 16) 4 else 3)
        } else dc = 128
        val b = dc.toByte
        var y = 0
        while (y < size) {
          java.util.Arrays.fill(p, o + y * stride, o + y * stride + size, b)
          y += 1
        }
      case 1 => // V
        var y = 0
        while (y < size) {
          System.arraycopy(p, o - stride, p, o + y * stride, size)
          y += 1
        }
      case 2 => // H
        var y = 0
        while (y < size) {
          java.util.Arrays.fill(p, o + y * stride, o + y * stride + size,
            p(o + y * stride - 1))
          y += 1
        }
      case _ => // TM
        val tl = p(o - stride - 1) & 0xFF
        var y = 0
        while (y < size) {
          val l = (p(o + y * stride - 1) & 0xFF) - tl
          var x = 0
          while (x < size) {
            p(o + y * stride + x) = clip255(l + (p(o - stride + x) & 0xFF)).toByte
            x += 1
          }
          y += 1
        }
    }
  }

  // -----------------------------------------------------------------
  // 4x4 subblock intra prediction (§12.3)
  // -----------------------------------------------------------------
  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

  private[graft] def predict4(p: Array[Byte], o: Int, stride: Int, mode: Int): Unit = {
    val tl = p(o - stride - 1) & 0xFF
    val a0 = p(o - stride) & 0xFF
    val a1 = p(o - stride + 1) & 0xFF
    val a2 = p(o - stride + 2) & 0xFF
    val a3 = p(o - stride + 3) & 0xFF
    val a4 = p(o - stride + 4) & 0xFF
    val a5 = p(o - stride + 5) & 0xFF
    val a6 = p(o - stride + 6) & 0xFF
    val a7 = p(o - stride + 7) & 0xFF
    val l0 = p(o - 1) & 0xFF
    val l1 = p(o + stride - 1) & 0xFF
    val l2 = p(o + 2 * stride - 1) & 0xFF
    val l3 = p(o + 3 * stride - 1) & 0xFF

    @inline def st(x: Int, y: Int, v: Int): Unit =
      p(o + y * stride + x) = v.toByte

    mode match {
      case 0 => // B_DC: always both sides (borders carry 127/129)
        val dc = (a0 + a1 + a2 + a3 + l0 + l1 + l2 + l3 + 4) >> 3
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { st(x, y, dc); x += 1 }
          y += 1
        }
      case 1 => // B_TM
        var y = 0
        while (y < 4) {
          val l = (y match { case 0 => l0; case 1 => l1; case 2 => l2; case _ => l3 }) - tl
          st(0, y, clip255(l + a0)); st(1, y, clip255(l + a1))
          st(2, y, clip255(l + a2)); st(3, y, clip255(l + a3))
          y += 1
        }
      case 2 => // B_VE (filtered vertical)
        val v0 = avg3(tl, a0, a1); val v1 = avg3(a0, a1, a2)
        val v2 = avg3(a1, a2, a3); val v3 = avg3(a2, a3, a4)
        var y = 0
        while (y < 4) { st(0, y, v0); st(1, y, v1); st(2, y, v2); st(3, y, v3); y += 1 }
      case 3 => // B_HE (filtered horizontal)
        val h0 = avg3(tl, l0, l1); val h1 = avg3(l0, l1, l2)
        val h2 = avg3(l1, l2, l3); val h3 = avg3(l2, l3, l3)
        var x = 0
        while (x < 4) { st(x, 0, h0); st(x, 1, h1); st(x, 2, h2); st(x, 3, h3); x += 1 }
      case 4 => // B_LD (down-left)
        st(0, 0, avg3(a0, a1, a2))
        st(1, 0, avg3(a1, a2, a3)); st(0, 1, avg3(a1, a2, a3))
        st(2, 0, avg3(a2, a3, a4)); st(1, 1, avg3(a2, a3, a4)); st(0, 2, avg3(a2, a3, a4))
        st(3, 0, avg3(a3, a4, a5)); st(2, 1, avg3(a3, a4, a5)); st(1, 2, avg3(a3, a4, a5)); st(0, 3, avg3(a3, a4, a5))
        st(3, 1, avg3(a4, a5, a6)); st(2, 2, avg3(a4, a5, a6)); st(1, 3, avg3(a4, a5, a6))
        st(3, 2, avg3(a5, a6, a7)); st(2, 3, avg3(a5, a6, a7))
        st(3, 3, avg3(a6, a7, a7))
      case 5 => // B_RD (down-right)
        st(0, 3, avg3(l1, l2, l3))
        st(0, 2, avg3(l0, l1, l2)); st(1, 3, avg3(l0, l1, l2))
        st(0, 1, avg3(tl, l0, l1)); st(1, 2, avg3(tl, l0, l1)); st(2, 3, avg3(tl, l0, l1))
        st(0, 0, avg3(a0, tl, l0)); st(1, 1, avg3(a0, tl, l0)); st(2, 2, avg3(a0, tl, l0)); st(3, 3, avg3(a0, tl, l0))
        st(1, 0, avg3(a1, a0, tl)); st(2, 1, avg3(a1, a0, tl)); st(3, 2, avg3(a1, a0, tl))
        st(2, 0, avg3(a2, a1, a0)); st(3, 1, avg3(a2, a1, a0))
        st(3, 0, avg3(a3, a2, a1))
      case 6 => // B_VR (vertical-right)
        st(0, 0, avg2(tl, a0)); st(1, 2, avg2(tl, a0))
        st(1, 0, avg2(a0, a1)); st(2, 2, avg2(a0, a1))
        st(2, 0, avg2(a1, a2)); st(3, 2, avg2(a1, a2))
        st(3, 0, avg2(a2, a3))
        st(0, 3, avg3(l2, l1, l0))
        st(0, 2, avg3(l1, l0, tl))
        st(0, 1, avg3(l0, tl, a0)); st(1, 3, avg3(l0, tl, a0))
        st(1, 1, avg3(tl, a0, a1)); st(2, 3, avg3(tl, a0, a1))
        st(2, 1, avg3(a0, a1, a2)); st(3, 3, avg3(a0, a1, a2))
        st(3, 1, avg3(a1, a2, a3))
      case 7 => // B_VL (vertical-left)
        st(0, 0, avg2(a0, a1))
        st(1, 0, avg2(a1, a2)); st(0, 2, avg2(a1, a2))
        st(2, 0, avg2(a2, a3)); st(1, 2, avg2(a2, a3))
        st(3, 0, avg2(a3, a4)); st(2, 2, avg2(a3, a4))
        st(0, 1, avg3(a0, a1, a2))
        st(1, 1, avg3(a1, a2, a3)); st(0, 3, avg3(a1, a2, a3))
        st(2, 1, avg3(a2, a3, a4)); st(1, 3, avg3(a2, a3, a4))
        st(3, 1, avg3(a3, a4, a5)); st(2, 3, avg3(a3, a4, a5))
        st(3, 2, avg3(a4, a5, a6))
        st(3, 3, avg3(a5, a6, a7))
      case 8 => // B_HD (horizontal-down)
        st(0, 0, avg2(l0, tl)); st(2, 1, avg2(l0, tl))
        st(0, 1, avg2(l1, l0)); st(2, 2, avg2(l1, l0))
        st(0, 2, avg2(l2, l1)); st(2, 3, avg2(l2, l1))
        st(0, 3, avg2(l3, l2))
        st(3, 0, avg3(a2, a1, a0))
        st(2, 0, avg3(a1, a0, tl))
        st(1, 0, avg3(a0, tl, l0)); st(3, 1, avg3(a0, tl, l0))
        st(1, 1, avg3(tl, l0, l1)); st(3, 2, avg3(tl, l0, l1))
        st(1, 2, avg3(l0, l1, l2)); st(3, 3, avg3(l0, l1, l2))
        st(1, 3, avg3(l1, l2, l3))
      case _ => // B_HU (horizontal-up)
        st(0, 0, avg2(l0, l1))
        st(2, 0, avg2(l1, l2)); st(0, 1, avg2(l1, l2))
        st(2, 1, avg2(l2, l3)); st(0, 2, avg2(l2, l3))
        st(1, 0, avg3(l0, l1, l2))
        st(3, 0, avg3(l1, l2, l3)); st(1, 1, avg3(l1, l2, l3))
        st(3, 1, avg3(l2, l3, l3)); st(1, 2, avg3(l2, l3, l3))
        st(2, 2, l3); st(3, 2, l3); st(0, 3, l3); st(1, 3, l3)
        st(2, 3, l3); st(3, 3, l3)
    }
  }

  // -----------------------------------------------------------------
  // loop filters (§15): signed 8-bit arithmetic with clamping, the
  // RFC's reference math exactly
  // -----------------------------------------------------------------
  private def sClamp(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** an edge at pixel index `o + i*run` for i in [0, count); `step`
    * walks ACROSS the edge (q0 at o, p0 at o-step)
    */
  private def simpleEdge(p: Array[Byte], o: Int, step: Int, run: Int,
                         count: Int, limit: Int): Unit = {
    var i = 0
    while (i < count) {
      val b = o + i * run
      val p1 = p(b - 2 * step) & 0xFF; val p0 = p(b - step) & 0xFF
      val q0 = p(b) & 0xFF; val q1 = p(b + step) & 0xFF
      if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= limit) {
        val ps1 = p1 - 128; val ps0 = p0 - 128
        val qs0 = q0 - 128; val qs1 = q1 - 128
        val a = sClamp(sClamp(ps1 - qs1) + 3 * (qs0 - ps0))
        val f1 = sClamp(a + 4) >> 3
        val f2 = sClamp(a + 3) >> 3
        p(b) = (sClamp(qs0 - f1) + 128).toByte
        p(b - step) = (sClamp(ps0 + f2) + 128).toByte
      }
      i += 1
    }
  }

  private def filterMask(limit: Int, edgeLimit: Int,
                         p3: Int, p2: Int, p1: Int, p0: Int,
                         q0: Int, q1: Int, q2: Int, q3: Int): Boolean =
    math.abs(p3 - p2) <= limit && math.abs(p2 - p1) <= limit &&
      math.abs(p1 - p0) <= limit && math.abs(q1 - q0) <= limit &&
      math.abs(q2 - q1) <= limit && math.abs(q3 - q2) <= limit &&
      math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= edgeLimit

  /** interior (subblock) edge: adjusts p1 p0 q0 q1 */
  private def subEdge(p: Array[Byte], o: Int, step: Int, run: Int,
                      count: Int, edgeLimit: Int, interior: Int,
                      hevThresh: Int): Unit = {
    var i = 0
    while (i < count) {
      val b = o + i * run
      val p3 = p(b - 4 * step) & 0xFF; val p2 = p(b - 3 * step) & 0xFF
      val p1 = p(b - 2 * step) & 0xFF; val p0 = p(b - step) & 0xFF
      val q0 = p(b) & 0xFF; val q1 = p(b + step) & 0xFF
      val q2 = p(b + 2 * step) & 0xFF; val q3 = p(b + 3 * step) & 0xFF
      if (filterMask(interior, edgeLimit, p3, p2, p1, p0, q0, q1, q2, q3)) {
        val hev = math.abs(p1 - p0) > hevThresh || math.abs(q1 - q0) > hevThresh
        val ps1 = p1 - 128; val ps0 = p0 - 128
        val qs0 = q0 - 128; val qs1 = q1 - 128
        val a = sClamp((if (hev) sClamp(ps1 - qs1) else 0) + 3 * (qs0 - ps0))
        val f1 = sClamp(a + 4) >> 3
        val f2 = sClamp(a + 3) >> 3
        p(b) = (sClamp(qs0 - f1) + 128).toByte
        p(b - step) = (sClamp(ps0 + f2) + 128).toByte
        if (!hev) {
          val f3 = (f1 + 1) >> 1
          p(b + step) = (sClamp(qs1 - f3) + 128).toByte
          p(b - 2 * step) = (sClamp(ps1 + f3) + 128).toByte
        }
      }
      i += 1
    }
  }

  /** macroblock edge: the wide (6-tap) filter, adjusts p2..q2 */
  private def mbEdge(p: Array[Byte], o: Int, step: Int, run: Int,
                     count: Int, edgeLimit: Int, interior: Int,
                     hevThresh: Int): Unit = {
    var i = 0
    while (i < count) {
      val b = o + i * run
      val p3 = p(b - 4 * step) & 0xFF; val p2 = p(b - 3 * step) & 0xFF
      val p1 = p(b - 2 * step) & 0xFF; val p0 = p(b - step) & 0xFF
      val q0 = p(b) & 0xFF; val q1 = p(b + step) & 0xFF
      val q2 = p(b + 2 * step) & 0xFF; val q3 = p(b + 3 * step) & 0xFF
      if (filterMask(interior, edgeLimit, p3, p2, p1, p0, q0, q1, q2, q3)) {
        val hev = math.abs(p1 - p0) > hevThresh || math.abs(q1 - q0) > hevThresh
        val ps2 = p2 - 128; val ps1 = p1 - 128; val ps0 = p0 - 128
        val qs0 = q0 - 128; val qs1 = q1 - 128; val qs2 = q2 - 128
        val w = sClamp(sClamp(ps1 - qs1) + 3 * (qs0 - ps0))
        if (hev) {
          val f1 = sClamp(w + 4) >> 3
          val f2 = sClamp(w + 3) >> 3
          p(b) = (sClamp(qs0 - f1) + 128).toByte
          p(b - step) = (sClamp(ps0 + f2) + 128).toByte
        } else {
          val a1 = sClamp((27 * w + 63) >> 7)
          val a2 = sClamp((18 * w + 63) >> 7)
          val a3 = sClamp((9 * w + 63) >> 7)
          p(b) = (sClamp(qs0 - a1) + 128).toByte
          p(b - step) = (sClamp(ps0 + a1) + 128).toByte
          p(b + step) = (sClamp(qs1 - a2) + 128).toByte
          p(b - 2 * step) = (sClamp(ps1 + a2) + 128).toByte
          p(b + 2 * step) = (sClamp(qs2 - a3) + 128).toByte
          p(b - 3 * step) = (sClamp(ps2 + a3) + 128).toByte
        }
      }
      i += 1
    }
  }
}
