package graft

import graft.ext.{Images, WebpFixtures, WebpVp8l}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ext.WebpVp8l]] — the VP8L lossless decoder.
  *
  * Validation layers:
  *   1. GOLDEN fixtures from the system's own libwebp (the reference
  *      implementation, driven through its public C ABI by
  *      scripts/make_webp_golden.py): nine images covering simple +
  *      normal codes, predictor/color/subtract-green/palette
  *      transforms, LZ77, color cache, and META prefix codes
  *      (mixed_160x120 carries a 20×15 entropy image) — pixel-exact
  *      ARGB equality
  *   2. the engine's own writer ([[WebpFixtures]], itself
  *      cross-validated against libwebp by tools/WebpWriterCheck at
  *      commit ea0c763 + scripts side) round-trips through the decoder
  *   3. an independent TEST-SIDE token encoder (own bit writer, own
  *      canonical assembly — the FLAC/CABAC discipline) drives the
  *      controlled paths: LZ77 distances above and below the 120-code
  *      proximity map, color-cache hits, repeat-16/17/18 length
  *      coding, reversed simple pairs
  *   4. the malformed contract: truncation/bit-flip/garbage never
  *      throw; [[Images]] routes WebP into the dedup family
  */
class WebpSpec extends AnyFunSuite {

  private val GoldenDir = new java.io.File("data/webp_golden")

  test("libwebp goldens decode pixel-exactly (all nine)") {
    val idx = scala.io.Source.fromFile(new java.io.File(GoldenDir, "index.txt"))
      .getLines().filter(_.nonEmpty).toSeq
    assert(idx.size >= 9)
    idx.foreach { line =>
      val Array(name, ws, hs) = line.split(",")
      val w = ws.toInt; val h = hs.toInt
      val webp = java.nio.file.Files.readAllBytes(
        new java.io.File(GoldenDir, name + ".webp").toPath)
      val ab = java.nio.file.Files.readAllBytes(
        new java.io.File(GoldenDir, name + ".argb").toPath)
      val d = WebpVp8l.decodeArgbOrNull(webp)
      assert(d != null, name)
      val (got, gw, gh) = d
      assert(gw == w && gh == h, name)
      var i = 0
      while (i < got.length) {
        val exp = ((ab(4 * i) & 0xFF) << 24) | ((ab(4 * i + 1) & 0xFF) << 16) |
          ((ab(4 * i + 2) & 0xFF) << 8) | (ab(4 * i + 3) & 0xFF)
        assert(got(i) == exp, f"$name px $i got ${got(i)}%08x exp $exp%08x")
        i += 1
      }
    }
  }

  test("engine writer round-trips through the decoder (many shapes)") {
    val rnd = new scala.util.Random(9)
    for (_ <- 0 until 30) {
      val w = 1 + rnd.nextInt(80)
      val h = 1 + rnd.nextInt(60)
      val gray = Array.fill(w * h)(rnd.nextInt(256))
      val d = WebpVp8l.decodeArgbOrNull(WebpFixtures.encodeGray(gray, w, h))
      assert(d != null)
      val (argb, gw, gh) = d
      assert(gw == w && gh == h)
      gray.indices.foreach { i =>
        val v = gray(i)
        assert(argb(i) == (0xFF000000 | (v << 16) | (v << 8) | v), s"px $i")
      }
    }
  }

  // ---------------------------------------------------------------
  // independent token encoder (test-side: own writer + assembly)
  // ---------------------------------------------------------------
  private sealed trait Tok
  private case class Lit(a: Int, r: Int, g: Int, b: Int) extends Tok
  private case class Copy(len: Int, dist: Int) extends Tok
  private case class CacheHit(idx: Int) extends Tok

  private final class W {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0; private var n = 0
    def bits(v: Int, k: Int): Unit = (0 until k).foreach { i =>
      cur |= ((v >> i) & 1) << n; n += 1
      if (n == 8) { out += cur.toByte; cur = 0; n = 0 }
    }
    def msb(v: Int, k: Int): Unit = (k - 1 to 0 by -1).foreach(i => bits((v >> i) & 1, 1))
    def bytes: Array[Byte] = { if (n > 0) { out += cur.toByte; cur = 0; n = 0 }; out.toArray }
  }

  /** canonical codes from lengths (RFC 1951 — the convention the
    * libwebp goldens pin end-to-end)
    */
  private def canonical(lengths: Map[Int, Int]): Map[Int, (Int, Int)] = {
    val maxLen = lengths.values.max
    val bl = new Array[Int](maxLen + 1)
    lengths.values.foreach(l => bl(l) += 1)
    val next = new Array[Int](maxLen + 1)
    var code = 0
    (1 to maxLen).foreach { l => code = (code + bl(l - 1)) << 1; next(l) = code }
    lengths.toSeq.sortBy { case (s, l) => (l, s) }.map { case (s, l) =>
      val c = next(l); next(l) += 1; s -> (c, l)
    }.toMap
  }

  /** emit a NORMAL code for the given symbol lengths, using a
    * complete 19-symbol clc (13×len4 + 6×len5) and repeat-17/18 runs
    * for the zero gaps — exercising the repeat machinery on purpose
    */
  private def emitNormal(w: W, lengths: Map[Int, Int], alphabet: Int): Unit = {
    w.bits(0, 1) // normal
    val order = Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
    val clcLen = (0 until 19).map(s => s -> (if (s < 13) 4 else 5)).toMap
    w.bits(15, 4) // 19 code-length-code lengths
    order.foreach(s => w.bits(clcLen(s), 3))
    val clcCodes = canonical(clcLen)
    def sym(s: Int): Unit = { val (c, l) = clcCodes(s); w.msb(c, l) }
    w.bits(0, 1) // no max-symbol cap: emit all `alphabet` lengths
    var i = 0
    while (i < alphabet) {
      val l = lengths.getOrElse(i, 0)
      if (l > 0) { sym(l); i += 1 }
      else {
        // run of zeros: use 17 (3–10) or 18 (11–138), else literal 0
        var run = 0
        while (i + run < alphabet && !lengths.contains(i + run)) run += 1
        if (run >= 11) { val r = math.min(run, 138); sym(18); w.bits(r - 11, 7); i += r }
        else if (run >= 3) { val r = math.min(run, 10); sym(17); w.bits(r - 3, 3); i += r }
        else { sym(0); i += 1 }
      }
    }
  }

  private def emitSingle(w: W, s: Int): Unit = {
    w.bits(1, 1); w.bits(0, 1); w.bits(1, 1); w.bits(s, 8)
  }

  /** distance value → (dist prefix code, extra bits value, nbits) */
  private def distParts(v: Int): (Int, Int, Int) = {
    if (v <= 4) (v - 1, 0, 0)
    else {
      var code = 4
      while (true) {
        val extra = (code - 2) >> 1
        val lo = ((2 + (code & 1)) << extra) + 1
        val hi = lo + (1 << extra) - 1
        if (v >= lo && v <= hi) return (code, v - lo, extra)
        code += 1
      }
      sys.error("unreachable")
    }
  }

  /** encode a token stream: ccBits=4 cache, literal lengths fixed at
    * 9 bits for greens 0..255 + specific len/cache symbols
    */
  private def encodeTokens(w0: Int, h0: Int, toks: Seq[Tok]): Array[Byte] = {
    val w = new W
    w.bits(0x2F, 8)
    w.bits(w0 - 1, 14); w.bits(h0 - 1, 14)
    w.bits(0, 1); w.bits(0, 3)
    w.bits(0, 1) // no transforms
    w.bits(1, 1); w.bits(4, 4) // color cache, 16 entries
    w.bits(0, 1) // no meta
    // green alphabet 256+24+16: lengths — literals 0..255 at 9,
    // length codes 256..279 at 9, cache 280..295 at 9; that's 296
    // symbols at 9 bits: kraft 296 < 512 → incomplete but usable by
    // a decoder that only walks emitted codes… make it COMPLETE by
    // assigning 216 of the literals 8 bits:
    val greenLen = ((0 until 216).map(_ -> 8) ++ (216 until 296).map(_ -> 9)).toMap
    emitNormal(w, greenLen, 296)
    val rbLen = (0 until 256).map(_ -> 8).toMap
    emitNormal(w, rbLen, 256)  // red: complete fixed 8
    emitNormal(w, rbLen, 256)  // blue
    emitSingle(w, 255)         // alpha
    // complete distance code: 24 at 5 bits + 16 at 6 → 24·2+16 = 64
    val distLen2 = ((0 until 24).map(_ -> 5) ++ (24 until 40).map(_ -> 6)).toMap
    emitNormal(w, distLen2, 40)
    val g = canonical(greenLen)
    val rb = canonical(rbLen)
    val dc = canonical(distLen2)
    toks.foreach {
      case Lit(a, r, gg, b) =>
        val (c, l) = g(gg); w.msb(c, l)
        val (cr, lr) = rb(r); w.msb(cr, lr)
        val (cb, lb) = rb(b); w.msb(cb, lb)
        // alpha single: 0 bits
        require(a == 255)
      case Copy(len, dist) =>
        // length prefix: pick the code whose base covers len
        val (lc, lx, ln) = distParts(len) // same prefix structure
        val (c, l) = g(256 + lc); w.msb(c, l)
        if (ln > 0) w.bits(lx, ln)
        val (dcode, dx, dn) = distParts(dist + 120) // force the literal-distance form
        val (cd, ld) = dc(dcode); w.msb(cd, ld)
        if (dn > 0) w.bits(dx, dn)
      case CacheHit(i) =>
        val (c, l) = g(280 + i); w.msb(c, l)
    }
    val payload = w.bytes
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    out ++= "RIFF".getBytes
    val sz = 4 + 8 + payload.length + (payload.length & 1)
    out ++= Array(sz, sz >> 8, sz >> 16, sz >> 24).map(_.toByte)
    out ++= "WEBP".getBytes
    out ++= "VP8L".getBytes
    out ++= Array(payload.length, payload.length >> 8,
      payload.length >> 16, payload.length >> 24).map(_.toByte)
    out ++= payload
    if ((payload.length & 1) == 1) out += 0
    out.toArray
  }

  private def cacheIdx(argb: Int): Int = ((0x1e35a7bd * argb) >>> 28)

  test("token encoder: literals, long-form LZ77 distance, cache hits") {
    // 6x3: row of literals, then a copy with dist 6 (=width, the
    // pixel above, long form dist+120), then cache hits
    val lits = (0 until 6).map(i => Lit(255, 10 * i, 100 + i, 3 * i))
    val rowPx = (0 until 6).map(i =>
      0xFF000000 | ((10 * i) << 16) | ((100 + i) << 8) | (3 * i))
    // simulate the cache: inserts are row-0 literals then the copy's
    // re-emission of the same six pixels (collisions resolve to the
    // LAST inserted value in a slot)
    val slot = cacheIdx(rowPx.head)
    val expectCached = (rowPx ++ rowPx).filter(cacheIdx(_) == slot).last
    val toks = lits ++ Seq(Copy(6, 6)) ++
      (0 until 6).map(_ => CacheHit(slot))
    val d = WebpVp8l.decodeArgbOrNull(encodeTokens(6, 3, toks))
    assert(d != null)
    val (argb, w, h) = d
    assert(w == 6 && h == 3)
    (0 until 6).foreach { i =>
      assert(argb(i) == rowPx(i), s"row0 px $i")
      assert(argb(6 + i) == rowPx(i), s"row1 px $i (copy)")
      assert(argb(12 + i) == expectCached, s"row2 px $i (cache)")
    }
  }

  test("token encoder: overlapping copy (dist 1 run) and repeat-18 gaps") {
    val toks = Seq(Lit(255, 7, 7, 7), Copy(11, 1))
    val d = WebpVp8l.decodeArgbOrNull(encodeTokens(4, 3, toks))
    assert(d != null)
    val (argb, _, _) = d
    argb.foreach(p => assert(p == 0xFF070707))
  }

  test("reversed simple pair keeps listed code order") {
    // hand stream: 1x2 image, green simple pair (200, 3) — 200 must
    // take code 0, 3 code 1 (listed order, NOT canonical-by-symbol)
    val w = new W
    w.bits(0x2F, 8); w.bits(0, 14); w.bits(1, 14); w.bits(0, 1); w.bits(0, 3)
    w.bits(0, 1) // no transforms
    w.bits(0, 1) // no cache
    w.bits(0, 1) // no meta
    w.bits(1, 1); w.bits(1, 1); w.bits(1, 1); w.bits(200, 8); w.bits(3, 8) // green pair
    emitSingle(w, 0); emitSingle(w, 0); emitSingle(w, 255); emitSingle(w, 1)
    w.bits(0, 1) // green code 0 → symbol 200
    w.bits(1, 1) // green code 1 → symbol 3
    val payload = w.bytes
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    out ++= "RIFF".getBytes
    val sz = 12 + payload.length + (payload.length & 1)
    out ++= Array(sz, sz >> 8, sz >> 16, sz >> 24).map(_.toByte)
    out ++= "WEBP".getBytes ++ "VP8L".getBytes
    out ++= Array(payload.length, payload.length >> 8,
      payload.length >> 16, payload.length >> 24).map(_.toByte)
    out ++= payload
    val d = WebpVp8l.decodeArgbOrNull(out.toArray)
    assert(d != null)
    assert(((d._1(0) >> 8) & 0xFF) == 200)
    assert(((d._1(1) >> 8) & 0xFF) == 3)
  }

  // ---------------------------------------------------------------
  // routing + malformed contract
  // ---------------------------------------------------------------
  test("Images routes WebP into the dedup family (dhash over VP8L)") {
    def scene(x: Int, y: Int): Int =
      (127 + 80 * math.sin(x / 5.0) + 40 * math.cos(y / 3.0)).toInt & 0xFF
    val gray = Array.tabulate(48 * 32)(i => scene(i % 48, i / 48))
    val webp = WebpFixtures.encodeGray(gray, 48, 32)
    val viaWebp = Images.dhash64OrNull(webp)
    assert(viaWebp != null)
    // the same scene through the PNG path must give the SAME dhash
    val img = new java.awt.image.BufferedImage(48, 32,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 32; x <- 0 until 48)
      img.getRaster.setSample(x, y, 0, scene(x, y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val viaPng = Images.dhash64OrNull(baos.toByteArray)
    assert(viaPng != null)
    assert(viaWebp == viaPng,
      "WebP and PNG decodes of the same scene must hash identically")
  }

  test("lossy VP8 and malformed inputs null loudly, never throw") {
    // fake lossy container
    val lossy = "RIFF".getBytes ++ Array[Byte](20, 0, 0, 0) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ Array[Byte](8, 0, 0, 0) ++ new Array[Byte](8)
    assert(WebpVp8l.decodeArgbOrNull(lossy) == null)
    assert(WebpVp8l.decodeArgbOrNull(null) == null)
    assert(WebpVp8l.decodeArgbOrNull(Array.emptyByteArray) == null)
    val good = java.nio.file.Files.readAllBytes(
      new java.io.File(GoldenDir, "photo_48x32.webp").toPath)
    var k = 1
    while (k < good.length) {
      WebpVp8l.decodeArgbOrNull(java.util.Arrays.copyOfRange(good, 0, k))
      k += 13
    }
    val rnd = new scala.util.Random(21)
    for (_ <- 0 until 300) {
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      WebpVp8l.decodeArgbOrNull(b) // any result, no throw
    }
    for (_ <- 0 until 200) {
      val b = new Array[Byte](rnd.nextInt(256))
      rnd.nextBytes(b)
      WebpVp8l.decodeArgbOrNull(b)
    }
  }
}
