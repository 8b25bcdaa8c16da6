package graft.ext

import scala.collection.mutable
import scala.util.control.NonFatal

/** PDF text extraction — a restricted-but-conformant subset of the
  * public PDF specification (ISO 32000-1, distilled from the freely
  * published Adobe PDF Reference), sized like the repo's WARC
  * reader: real-world structure coverage, bounded-and-total parsing,
  * per-row kernel shape (VERDICT r11 item 1).
  *
  * PDFs are a top-3 text source for real LLM training-data pipelines;
  * this reader turns an `application/pdf` crawl payload into the
  * extracted text + document statistics that feed the same
  * text_profile / dedup / quality gates as HTML.
  *
  * SUPPORTED (the subset a text pipeline actually hits):
  *   - classic cross-reference tables (20-byte entries, subsections,
  *     `trailer` dict, `/Prev` chains)
  *   - cross-reference STREAMS (`/Type/XRef`, `/W`/`/Index`, type-0/1/2
  *     rows) and object streams (`/Type/ObjStm`, `/N`/`/First`) — the
  *     PDF 1.5+ layout that dominates the modern web
  *   - FlateDecode (JDK Inflater) and LZWDecode (round 13: the TIFF
  *     LZW variant — MSB-first codes, EarlyChange, ClearTable/EOD —
  *     what scanned-PDF producers emit), both with `/DecodeParms`
  *     PNG predictors 10–15 (Sub/Up/Average/Paeth row unfiltering)
  *     and TIFF predictor 2 at 8 bits per component
  *   - the document tree: trailer → `/Root` → `/Pages` → `/Kids`
  *     recursion with `/Resources` inheritance, `/Contents` as a
  *     stream or an array of streams (concatenated per spec)
  *   - content-stream text operators: BT/ET, Tf, Td, TD, T*, TL, Tm,
  *     Tj, TJ, ' and " — everything else is consumed and ignored
  *   - simple-font encodings WinAnsiEncoding (the windows-1252 table,
  *     reusing [[Charsets]]' WHATWG index) and StandardEncoding
  *     (printable ASCII with the famous quoteright/quoteleft
  *     substitution at 0x27/0x60), and `/ToUnicode` CMaps (codespace
  *     ranges, bfchar, bfrange incl. the array form) for everything
  *     else — the Type0/Identity-H path included
  *   - `/Info` `/Title` (ASCII PDFDocEncoding or UTF-16BE with BOM)
  *
  * RESTRICTED (documented, nulls or substitutes loudly — never a
  * silent wrong answer):
  *   - filters beyond Flate/LZW (DCT/RunLength/ASCIIHex/ASCII85…)
  *     fail the stream → the document nulls (a text pipeline must
  *     know it did not extract, not get garbage)
  *   - `/Differences` glyph names resolve through the AGL subset in
  *     [[GlyphNames]] + the `uniXXXX`/`uXXXX` hex rules; names
  *     outside it → U+FFFD (loud), never the base-table character
  *   - MacRomanEncoding decodes its ASCII range; high bytes → U+FFFD
  *   - encryption (round 14): the STANDARD security handler with an
  *     EMPTY user password — RC4-40/128 (V1/V2, R2/R3) and
  *     AES-128-CBC (V4 AESV2, R4), key from the published Algorithm 2
  *     and /U verified (Algorithms 4/5); owner-password-only files
  *     decode (by design — /O only feeds derivation), files whose /U
  *     rejects the empty password null loudly, as do non-Standard
  *     handlers, V5/AESV3 (SHA-based, out of subset), and /StmF other
  *     than StdCF
  *   - linearization hints, incremental-save shadowing beyond the
  *     `/Prev` chain's first-definition-wins rule, and hybrid
  *     `/XRefStm` side-tables are not chased
  *
  * LAYOUT SEMANTICS (deterministic, oracle-replayable): text runs are
  * emitted in content-stream order. Td/TD with a non-zero ty emit a
  * newline separator, with zero ty and non-zero tx a space; T*, ' and
  * " emit a newline; Tm is positional state this extractor does not
  * interpret (documented above). Separators buffer until the next
  * show and are dropped at page start; page texts join with a single
  * newline. TJ numeric adjustments ≤ −200/1000 em emit one space (the
  * conventional word-gap heuristic); smaller kerns vanish.
  *
  * Bounded-and-total: every loop is capped (objects, pages, output
  * chars, inflate expansion), reference resolution carries a depth
  * guard and a visited set (cycles null), and the whole walk is
  * wrapped — malformed input returns null, never throws, never
  * amplifies.
  */
object Pdf {

  final case class PdfDoc(nPages: Int, nObjects: Int, title: String, text: String)

  // ---------------------------------------------------------------
  // bounds
  // ---------------------------------------------------------------
  private val MaxObjects = 1 << 20
  private val MaxPages = 10000
  private val MaxOutChars = 1 << 22
  private val MaxInflate = 1 << 26
  private val MaxDepth = 32

  // ---------------------------------------------------------------
  // value model
  // ---------------------------------------------------------------
  sealed trait PVal
  final case class PNum(d: Double) extends PVal { def toInt: Int = d.toInt }
  final case class PStr(bytes: Array[Byte]) extends PVal
  final case class PName(s: String) extends PVal
  final case class PBool(b: Boolean) extends PVal
  case object PNull extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal
  final case class PRef(num: Int) extends PVal
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PVal
  /** content-stream operator keyword (never appears in object data) */
  final case class POp(s: String) extends PVal

  private def isWs(b: Int): Boolean =
    b == 0 || b == 9 || b == 10 || b == 12 || b == 13 || b == 32
  private def isDelim(b: Int): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
      b == '{' || b == '}' || b == '/' || b == '%'

  /** Mutable cursor lexer over the raw bytes. Every `parseValue` call
    * either returns a PVal or throws (caught at the kernel boundary).
    */
  private final class Lexer(val b: Array[Byte], var pos: Int) {
    def atEnd: Boolean = pos >= b.length
    def peek: Int = if (pos < b.length) b(pos) & 0xFF else -1

    def skipWs(): Unit = {
      while (pos < b.length) {
        val c = b(pos) & 0xFF
        if (isWs(c)) pos += 1
        else if (c == '%') { // comment to EOL
          while (pos < b.length && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else return
      }
    }

    /** keyword/operator token: run of regular characters */
    def readKeyword(): String = {
      val s = pos
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) pos += 1
      new String(b, s, pos - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    }

    def expect(s: String): Unit = {
      skipWs()
      var i = 0
      while (i < s.length) {
        if (pos >= b.length || b(pos) != s.charAt(i).toByte) sys.error(s"expected $s")
        pos += 1; i += 1
      }
    }

    def name(): PName = { // pos at '/'
      pos += 1
      val sb = new java.lang.StringBuilder
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) {
        val c = b(pos) & 0xFF
        if (c == '#' && pos + 2 < b.length) {
          val h = Character.digit(b(pos + 1), 16); val l = Character.digit(b(pos + 2), 16)
          if (h >= 0 && l >= 0) { sb.append(((h << 4) | l).toChar); pos += 3 }
          else { sb.append(c.toChar); pos += 1 }
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    def literalString(): PStr = { // pos at '('
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (pos < b.length && depth > 0) {
        val c = b(pos) & 0xFF
        if (c == '\\') {
          pos += 1
          if (pos < b.length) {
            val e = b(pos) & 0xFF
            e match {
              case 'n' => out.write('\n'); pos += 1
              case 'r' => out.write('\r'); pos += 1
              case 't' => out.write('\t'); pos += 1
              case 'b' => out.write('\b'); pos += 1
              case 'f' => out.write('\f'); pos += 1
              case '(' => out.write('('); pos += 1
              case ')' => out.write(')'); pos += 1
              case '\\' => out.write('\\'); pos += 1
              case '\r' => // line continuation: \CR[LF] drops
                pos += 1; if (pos < b.length && b(pos) == '\n') pos += 1
              case '\n' => pos += 1
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0
                while (k < 3 && pos < b.length && b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other); pos += 1 // unknown: drop backslash
            }
          }
        } else if (c == '(') { depth += 1; out.write(c); pos += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) out.write(c); pos += 1 }
        else if (c == '\r') { // raw EOL in a literal records as \n (spec 7.3.4.2)
          out.write('\n'); pos += 1
          if (pos < b.length && b(pos) == '\n') pos += 1
        } else { out.write(c); pos += 1 }
      }
      PStr(out.toByteArray)
    }

    def hexString(): PStr = { // pos at '<' (single)
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var closed = false
      while (pos < b.length && !closed) {
        val c = b(pos) & 0xFF
        if (c == '>') { closed = true; pos += 1 }
        else {
          val d = Character.digit(c, 16)
          if (d >= 0) { if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 } }
          pos += 1 // whitespace and junk skipped
        }
      }
      if (hi >= 0) out.write(hi << 4) // odd digit pads 0
      PStr(out.toByteArray)
    }

    def number(): PNum = {
      val s = pos
      if (pos < b.length && (b(pos) == '+' || b(pos) == '-')) pos += 1
      while (pos < b.length && ((b(pos) >= '0' && b(pos) <= '9') || b(pos) == '.')) pos += 1
      val str = new String(b, s, pos - s, java.nio.charset.StandardCharsets.ISO_8859_1)
      PNum(if (str == "." || str == "-" || str == "+" || str.isEmpty) 0.0 else str.toDouble)
    }

    /** one value; `refs` enables the `N G R` lookahead (object data),
      * content streams parse with refs=false and yield POp keywords.
      */
    def parseValue(refs: Boolean, depth: Int = 0): PVal = {
      if (depth > 64) sys.error("value nesting too deep")
      skipWs()
      if (atEnd) sys.error("eof")
      val c = peek
      if (c == '/') name()
      else if (c == '(') literalString()
      else if (c == '[') {
        pos += 1
        val items = Vector.newBuilder[PVal]
        skipWs()
        var n = 0
        while (peek != ']') {
          items += parseValue(refs, depth + 1); skipWs()
          n += 1; if (n > 65536) sys.error("array too long")
        }
        pos += 1
        PArr(items.result())
      } else if (c == '<') {
        if (pos + 1 < b.length && b(pos + 1) == '<') {
          pos += 2
          val m = Map.newBuilder[String, PVal]
          skipWs()
          var n = 0
          while (peek != '>') {
            val k = parseValue(refs, depth + 1) match {
              case PName(s) => s
              case _ => sys.error("dict key not a name")
            }
            m += k -> parseValue(refs, depth + 1)
            skipWs()
            n += 1; if (n > 65536) sys.error("dict too long")
          }
          pos += 2 // >>
          PDict(m.result())
        } else hexString()
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val n1 = number()
        if (refs && n1.d >= 0 && n1.d == math.floor(n1.d)) {
          val save = pos
          skipWs()
          val c2 = peek
          if (c2 >= '0' && c2 <= '9') {
            number() // generation, ignored
            skipWs()
            if (peek == 'R') {
              pos += 1
              val after = if (pos < b.length) b(pos) & 0xFF else 32
              if (isWs(after) || isDelim(after)) return PRef(n1.d.toInt)
            }
          }
          pos = save
        }
        n1
      } else {
        val kw = readKeyword()
        kw match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case "" => sys.error(s"lex stall at $pos")
          case other => POp(other)
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // filters
  // ---------------------------------------------------------------
  /** per-thread Inflater (the CodeTrie-scratch discipline from the
    * Vorbis allocation diet): a fresh Inflater per stream costs a
    * native allocation + finalizer registration per row, which
    * serializes 32-thread scaling; reset() reuses the native state.
    */
  private val TlInflater = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater()
  }

  private def inflate(in: Array[Byte]): Array[Byte] = {
    val inf = TlInflater.get()
    inf.reset()
    inf.setInput(in)
    val out = new java.io.ByteArrayOutputStream(math.min(in.length * 4, 1 << 16))
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0) {
        if (inf.needsInput() || inf.needsDictionary()) sys.error("bad deflate")
      } else out.write(buf, 0, n)
      if (out.size > MaxInflate) sys.error("inflate bound")
    }
    out.toByteArray
  }

  /** LZWDecode (ISO 32000-1 §7.4.4 — the TIFF LZW variant): MSB-first
    * bit packing, 9-bit initial codes, 256 = ClearTable, 257 = EOD,
    * new entries from 258, width grows 9→12 one code EARLY when
    * `earlyChange` = 1 (the default; scanned-PDF producers emit it).
    * Decoded with the standard KwKwK rule (code == next ⇒ prev +
    * prev[0]); any other out-of-table code is malformed. Bounded by
    * [[MaxInflate]] like the Flate path.
    */
  private[graft] def lzwDecode(in: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 3)
    var bitPos = 0
    val nBits = in.length * 8
    def read(width: Int): Int = {
      if (bitPos + width > nBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        v = (v << 1) | ((in(bitPos >> 3) >> (7 - (bitPos & 7))) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var done = false
    while (!done) {
      val code = read(width)
      if (code < 0) sys.error("truncated lzw") // exhausted before EOD → null loudly
      else if (code == 257) done = true // EOD
      else if (code == 256) { // ClearTable
        next = 258
        width = 9
        prev = null
      } else {
        val entry =
          if (code < 256) table(code)
          else if (code < next && table(code) != null) table(code)
          else if (code == next && prev != null) prev :+ prev(0)
          else sys.error("bad lzw code")
        out.write(entry, 0, entry.length)
        if (out.size > MaxInflate) sys.error("lzw bound")
        if (prev != null && next < 4096) {
          table(next) = prev :+ entry(0)
          next += 1
        }
        prev = entry
        if (width < 12 && next + earlyChange >= (1 << width)) width += 1
      }
    }
    out.toByteArray
  }

  /** PNG predictors 10–15 (per-row tag) and TIFF predictor 2 (bpc 8). */
  private def unpredict(data: Array[Byte], predictor: Int, columns: Int,
                        colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing
      if (bpc != 8) sys.error("tiff predictor bpc != 8 unsupported")
      val out = data.clone()
      var r = 0
      while (r + rowLen <= out.length) {
        var i = bpp
        while (i < rowLen) {
          out(r + i) = ((out(r + i) + out(r + i - bpp)) & 0xFF).toByte
          i += 1
        }
        r += rowLen
      }
      return out
    }
    // PNG: rows are (tag, rowLen bytes)
    val stride = rowLen + 1
    val nRows = data.length / stride
    val out = new Array[Byte](nRows * rowLen)
    val prev = new Array[Int](rowLen)
    var r = 0
    while (r < nRows) {
      val tag = data(r * stride) & 0xFF
      val src = r * stride + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = data(src + i) & 0xFF
        val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
        val up = prev(i)
        val ul = if (i >= bpp) {
          if (r > 0) out(dst - rowLen + i - bpp) & 0xFF else 0
        } else 0
        val v = tag match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => sys.error(s"png filter tag $tag")
        }
        out(dst + i) = (v & 0xFF).toByte
        i += 1
      }
      i = 0
      while (i < rowLen) { prev(i) = out(dst + i) & 0xFF; i += 1 }
      r += 1
    }
    out
  }

  // ---------------------------------------------------------------
  // document
  // ---------------------------------------------------------------
  private sealed trait XEntry
  private final case class XOffset(off: Int) extends XEntry
  private final case class XInStream(stmNum: Int, idx: Int) extends XEntry

  /** Standard security handler math (PDF 32000-1 §7.6.3, the
    * published algorithms 2/4/5 with their public test-vector
    * behavior): empty-user-password key derivation + /U verification.
    * RC4-40/128 (V1/V2, R2/R3) and AES-128-CBC (V4 AESV2, R4).
    */
  private[graft] object PdfCrypt {
    /** the 32-byte padding constant (Algorithm 2 step a) */
    val Pad: Array[Byte] = Array(
      0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
      0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
      0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

    def md5(parts: Array[Byte]*): Array[Byte] = {
      val d = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(d.update)
      d.digest()
    }

    def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val s = Array.tabulate(256)(_.toByte)
      var j = 0
      var i = 0
      while (i < 256) {
        j = (j + (s(i) & 0xFF) + (key(i % key.length) & 0xFF)) & 0xFF
        val t = s(i); s(i) = s(j); s(j) = t
        i += 1
      }
      val out = new Array[Byte](data.length)
      var x = 0; var y = 0
      i = 0
      while (i < data.length) {
        x = (x + 1) & 0xFF
        y = (y + (s(x) & 0xFF)) & 0xFF
        val t = s(x); s(x) = s(y); s(y) = t
        out(i) = (data(i) ^ s(((s(x) & 0xFF) + (s(y) & 0xFF)) & 0xFF)).toByte
        i += 1
      }
      out
    }

    /** AES-128-CBC: data = 16-byte IV + ciphertext; PKCS#5 padding
      * stripped (a bad pad byte is malformed → error → null)
      */
    def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      if (data.length < 32 || data.length % 16 != 0) sys.error("bad aes stream")
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(
          java.util.Arrays.copyOfRange(data, 0, 16)))
      val plain = c.doFinal(data, 16, data.length - 16)
      val pad = plain(plain.length - 1) & 0xFF
      if (pad < 1 || pad > 16 || pad > plain.length) sys.error("bad aes padding")
      java.util.Arrays.copyOf(plain, plain.length - pad)
    }

    /** Algorithm 2 with the EMPTY user password (pad alone). */
    def computeKey(o: Array[Byte], p: Int, id: Array[Byte], r: Int,
                   keyLen: Int, encryptMetadata: Boolean): Array[Byte] = {
      val pLe = Array[Byte]((p & 0xFF).toByte, ((p >> 8) & 0xFF).toByte,
        ((p >> 16) & 0xFF).toByte, ((p >> 24) & 0xFF).toByte)
      val noMeta =
        if (r >= 4 && !encryptMetadata)
          Array[Byte](-1, -1, -1, -1)
        else Array.emptyByteArray
      var digest = md5(Pad, java.util.Arrays.copyOf(o, 32), pLe, id, noMeta)
      if (r >= 3) {
        var i = 0
        while (i < 50) {
          digest = md5(java.util.Arrays.copyOf(digest, keyLen))
          i += 1
        }
      }
      java.util.Arrays.copyOf(digest, keyLen)
    }

    /** Algorithms 4 (R2) / 5 (R3+): recompute /U and compare (first
      * 16 bytes for R3+).
      */
    def verifyEmptyUserPassword(key: Array[Byte], id: Array[Byte], r: Int,
                                u: Array[Byte]): Boolean = {
      if (r == 2) {
        val mine = rc4(key, Pad)
        java.util.Arrays.equals(mine, java.util.Arrays.copyOf(u, 32))
      } else {
        var x = rc4(key, md5(Pad, id))
        var i = 1
        while (i <= 19) {
          val k = key.map(b => (b ^ i).toByte)
          x = rc4(k, x)
          i += 1
        }
        java.util.Arrays.equals(x, java.util.Arrays.copyOf(u, 16))
      }
    }
  }

  /** per-object decryption (Algorithm 1): obj/gen-salted MD5 key,
    * then RC4 or AES-128-CBC
    */
  private final class Decryptor(key: Array[Byte], aes: Boolean) {
    def decrypt(data: Array[Byte], num: Int, gen: Int): Array[Byte] = {
      if (data.isEmpty) return data
      val salt =
        if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) // "sAlT"
        else Array.emptyByteArray
      val ok = PdfCrypt.md5(key,
        Array[Byte]((num & 0xFF).toByte, ((num >> 8) & 0xFF).toByte,
          ((num >> 16) & 0xFF).toByte,
          (gen & 0xFF).toByte, ((gen >> 8) & 0xFF).toByte),
        salt)
      val objKey = java.util.Arrays.copyOf(ok, math.min(key.length + 5, 16))
      if (aes) PdfCrypt.aesCbcDecrypt(objKey, data)
      else PdfCrypt.rc4(objKey, data)
    }
  }

  private final class Doc(bytes: Array[Byte]) {
    val xref = mutable.HashMap.empty[Int, XEntry]
    var root: PVal = PNull
    var info: PVal = PNull
    private var encryptVal: PVal = PNull
    private var fileId: Array[Byte] = Array.emptyByteArray
    private var decryptor: Decryptor = null
    private var encryptObjNum = -1 // the Encrypt dict itself stays plaintext
    private val objCache = mutable.HashMap.empty[Int, PVal]
    private val resolving = mutable.HashSet.empty[Int]

    // ---- xref bootstrap -------------------------------------------------
    locally {
      // header within the first 1024 bytes (spec allows leading junk)
      val head = new String(bytes, 0, math.min(bytes.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (!head.contains("%PDF-")) sys.error("no %PDF header")
      val tail = new String(bytes, math.max(0, bytes.length - 2048),
        math.min(bytes.length, 2048), java.nio.charset.StandardCharsets.ISO_8859_1)
      val sx = tail.lastIndexOf("startxref")
      if (sx < 0) sys.error("no startxref")
      val lx = new Lexer(bytes, math.max(0, bytes.length - 2048) + sx + "startxref".length)
      val start = lx.parseValue(refs = false) match {
        case PNum(d) => d.toInt
        case _ => sys.error("bad startxref")
      }
      val visited = mutable.HashSet.empty[Int]
      var off = start
      var hops = 0
      while (off >= 0 && !visited.contains(off) && hops < 64) {
        visited += off
        off = parseXrefSection(off)
        hops += 1
      }
      if (xref.isEmpty) sys.error("empty xref")
      if (xref.size > MaxObjects) sys.error("xref bound")
      // standard security handler (round 14): resolve /Encrypt while
      // the decryptor is still null (its own strings stay plaintext),
      // derive the key from the EMPTY user password, verify /U —
      // owner-only / passworded documents error here and null loudly
      encryptVal match {
        case PRef(n) => encryptObjNum = n
        case _ => ()
      }
      deref(encryptVal, 0) match {
        case PNull => ()
        case ed: PDict => decryptor = buildDecryptor(ed)
        case _ => sys.error("bad /Encrypt")
      }
    }

    private def buildDecryptor(ed: PDict): Decryptor = {
      if (dictGet(ed, "Filter") != PName("Standard"))
        sys.error("unsupported security handler")
      def num(k: String, dflt: Int): Int = dictGet(ed, k) match {
        case PNum(v) => v.toInt; case _ => dflt
      }
      val v = num("V", 0)
      val r = num("R", 0)
      val o = dictGet(ed, "O") match {
        case PStr(b) => b; case _ => sys.error("missing /O")
      }
      val u = dictGet(ed, "U") match {
        case PStr(b) => b; case _ => sys.error("missing /U")
      }
      val p = num("P", -1)
      if (o.length < 32 || u.length < 32) sys.error("short /O or /U")
      val encryptMetadata = dictGet(ed, "EncryptMetadata") match {
        case PBool(b) => b; case _ => true
      }
      val (aes, keyLen) = v match {
        case 1 => (false, 5)
        case 2 =>
          val n = num("Length", 40) / 8
          if (n < 5 || n > 16) sys.error("bad /Length")
          (false, n)
        case 4 =>
          // crypt filters: the /StdCF entry names the method
          val cf = dictGet(ed, "CF") match {
            case d: PDict => dictGet(d, "StdCF") match {
              case s: PDict => s; case _ => sys.error("missing /StdCF")
            }
            case _ => sys.error("missing /CF")
          }
          val stmF = dictGet(ed, "StmF")
          if (stmF != PName("StdCF")) sys.error("unsupported /StmF")
          dictGet(cf, "CFM") match {
            case PName("AESV2") => (true, 16)
            case PName("V2") =>
              // validate like the top-level V2 arm: a hostile /Length
              // (e.g. 4096) must not zero-pad the MD5 digest to
              // hundreds of bytes before the /U check rejects it
              val n = num("Length", 128) / 8
              if (n < 5 || n > 16) sys.error("bad /Length")
              (false, n)
            case other => sys.error(s"unsupported /CFM $other")
          }
        case other => sys.error(s"unsupported /V $other")
      }
      if (r < 2 || r > 4) sys.error(s"unsupported /R $r")
      val key = PdfCrypt.computeKey(o, p, fileId, r, keyLen, encryptMetadata)
      if (!PdfCrypt.verifyEmptyUserPassword(key, fileId, r, u))
        sys.error("password protected (empty user password rejected)")
      new Decryptor(key, aes)
    }

    /** decrypt every string in an object's value tree (spec: strings
      * are encrypted with their containing object's key)
      */
    private def decryptStrings(v: PVal, n: Int, g: Int): PVal = v match {
      case PStr(b) => PStr(decryptor.decrypt(b, n, g))
      case PArr(items) => PArr(items.map(decryptStrings(_, n, g)))
      case PDict(m) => PDict(m.map { case (k, x) => k -> decryptStrings(x, n, g) })
      case PStream(d, raw) => PStream(decryptStrings(d, n, g).asInstanceOf[PDict], raw)
      case other => other
    }

    /** newest-section-wins capture of the trailer's /Encrypt + /ID
      * (first xref section parsed is the newest)
      */
    private def captureEncrypt(tr: PDict): Unit = {
      if (encryptVal == PNull)
        encryptVal = tr.m.getOrElse("Encrypt", PNull)
      if (fileId.isEmpty) tr.m.get("ID") match {
        case Some(PArr(items)) if items.nonEmpty => items.head match {
          case PStr(b) => fileId = b
          case _ => ()
        }
        case _ => ()
      }
    }

    /** parse one xref section (classic table or xref stream) at
      * `off`; merge entries first-definition-wins (newest section is
      * parsed first); return the /Prev offset or -1.
      */
    private def parseXrefSection(off: Int): Int = {
      if (off < 0 || off >= bytes.length) sys.error("xref offset out of range")
      val lx = new Lexer(bytes, off)
      lx.skipWs()
      if (lx.peek == 'x') { // classic: "xref"
        if (lx.readKeyword() != "xref") sys.error("bad xref keyword")
        lx.skipWs()
        // subsections until "trailer"
        while (lx.peek >= '0' && lx.peek <= '9') {
          val first = lx.number().toInt
          lx.skipWs()
          val count = lx.number().toInt
          if (count < 0 || count > MaxObjects) sys.error("xref subsection bound")
          lx.skipWs()
          var i = 0
          while (i < count) {
            // entries "nnnnnnnnnn ggggg n" + 2-byte EOL (20 bytes per
            // spec; 1-byte-EOL writers exist, so skip 1–2 ws bytes)
            if (lx.pos + 18 > lx.b.length) sys.error("truncated xref entry")
            val ent = new String(lx.b, lx.pos, 18,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val eOff = ent.substring(0, 10).trim.toInt
            val kind = ent.charAt(17)
            val num = first + i
            if (kind == 'n' && num > 0 && !xref.contains(num)) xref(num) = XOffset(eOff)
            lx.pos += 18
            var e = 0
            while (e < 2 && lx.pos < lx.b.length && isWs(lx.b(lx.pos) & 0xFF)) {
              lx.pos += 1; e += 1
            }
            i += 1
          }
          lx.skipWs()
        }
        if (lx.readKeyword() != "trailer") sys.error("no trailer")
        val tr = lx.parseValue(refs = true) match {
          case d: PDict => d
          case _ => sys.error("trailer not a dict")
        }
        captureEncrypt(tr)
        if (root == PNull) root = tr.m.getOrElse("Root", PNull)
        if (info == PNull) info = tr.m.getOrElse("Info", PNull)
        tr.m.get("Prev") match { case Some(PNum(p)) => p.toInt; case _ => -1 }
      } else { // xref stream: "N G obj <<...>> stream"
        val (dict, data) = parseStreamObjectAt(off)
        if (dict.m.get("Type") != Some(PName("XRef"))) sys.error("not an XRef stream")
        captureEncrypt(dict)
        val w = dict.m.get("W") match {
          case Some(PArr(items)) if items.length >= 3 =>
            items.take(3).map { case PNum(d) => d.toInt; case _ => sys.error("bad /W") }
          case _ => sys.error("missing /W")
        }
        val size = dict.m.get("Size") match {
          case Some(PNum(d)) => d.toInt; case _ => sys.error("missing /Size")
        }
        val index: Seq[(Int, Int)] = dict.m.get("Index") match {
          case Some(PArr(items)) =>
            items.grouped(2).collect {
              case Vector(PNum(a), PNum(b)) => (a.toInt, b.toInt)
            }.toSeq
          case _ => Seq((0, size))
        }
        val decoded = decodeStreamData(dict, data)
        val rowLen = w.sum
        if (rowLen <= 0) sys.error("zero /W row")
        var p = 0
        for ((first, count) <- index) {
          if (count < 0 || count > MaxObjects) sys.error("xref stream bound")
          var i = 0
          while (i < count && p + rowLen <= decoded.length) {
            def field(k: Int): Long = {
              var v = 0L
              val base = p + w.take(k).sum
              var j = 0
              while (j < w(k)) { v = (v << 8) | (decoded(base + j) & 0xFF); j += 1 }
              v
            }
            val typ = if (w(0) == 0) 1L else field(0)
            val num = first + i
            if (num > 0 && !xref.contains(num)) {
              if (typ == 1L) xref(num) = XOffset(field(1).toInt)
              else if (typ == 2L) xref(num) = XInStream(field(1).toInt, field(2).toInt)
              // type 0 = free: skip
            }
            p += rowLen
            i += 1
          }
        }
        if (root == PNull) root = dict.m.getOrElse("Root", PNull)
        if (info == PNull) info = dict.m.getOrElse("Info", PNull)
        dict.m.get("Prev") match { case Some(PNum(pv)) => pv.toInt; case _ => -1 }
      }
    }

    /** parse `N G obj <<dict>> stream ... endstream` at a byte offset;
      * returns (dict, RAW stream bytes). Throws if not a stream object.
      */
    private def parseStreamObjectAt(off: Int): (PDict, Array[Byte]) = {
      parseObjectAt(off) match {
        case PStream(d, raw) => (d, raw)
        case _ => sys.error("expected stream object")
      }
    }

    /** parse the object that starts at a byte offset. */
    private def parseObjectAt(off: Int): PVal = {
      if (off < 0 || off >= bytes.length) sys.error("object offset out of range")
      val lx = new Lexer(bytes, off)
      lx.skipWs()
      val objNum = lx.number().toInt
      lx.skipWs()
      val genNum = lx.number().toInt
      lx.skipWs()
      if (lx.readKeyword() != "obj") sys.error("missing obj keyword")
      val v0 = lx.parseValue(refs = true)
      val v =
        if (decryptor != null && objNum != encryptObjNum)
          decryptStrings(v0, objNum, genNum)
        else v0
      v match {
        case d: PDict =>
          lx.skipWs()
          val save = lx.pos
          val kw = lx.readKeyword()
          if (kw == "stream") {
            // EOL after "stream": CRLF or LF
            if (lx.peek == '\r') lx.pos += 1
            if (lx.peek == '\n') lx.pos += 1
            val start = lx.pos
            val len = d.m.get("Length") match {
              case Some(PNum(n)) => n.toInt
              case Some(r: PRef) => deref(r, 0) match {
                case PNum(n) => n.toInt
                case _ => -1
              }
              case _ => -1
            }
            val end =
              if (len >= 0 && start + len <= bytes.length &&
                  endstreamAt(start + len)) start + len
              else scanEndstream(start)
            var raw = java.util.Arrays.copyOfRange(bytes, start, end)
            // stream decryption precedes filters; XRef streams are
            // never encrypted (spec), the Encrypt object neither
            if (decryptor != null && objNum != encryptObjNum &&
                d.m.get("Type") != Some(PName("XRef")))
              raw = decryptor.decrypt(raw, objNum, genNum)
            PStream(d, raw)
          } else { lx.pos = save; d }
        case other => other
      }
    }

    private def endstreamAt(p: Int): Boolean = {
      var q = p
      while (q < bytes.length && isWs(bytes(q) & 0xFF)) q += 1
      q + 9 <= bytes.length &&
        new String(bytes, q, 9, java.nio.charset.StandardCharsets.ISO_8859_1) == "endstream"
    }

    private def scanEndstream(start: Int): Int = {
      val pat = "endstream".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      var p = start
      while (p + pat.length <= bytes.length) {
        var k = 0
        while (k < pat.length && bytes(p + k) == pat(k)) k += 1
        if (k == pat.length) {
          var e = p
          // back off the EOL before endstream
          if (e > start && bytes(e - 1) == '\n') e -= 1
          if (e > start && bytes(e - 1) == '\r') e -= 1
          return e
        }
        p += 1
      }
      sys.error("no endstream")
    }

    /** decode a stream's data through /Filter (+ /DecodeParms). */
    def decodeStreamData(dict: PDict, raw: Array[Byte]): Array[Byte] = {
      val filters: Seq[String] = dict.m.get("Filter") match {
        case None => Seq.empty
        case Some(PName(n)) => Seq(n)
        case Some(PArr(items)) => items.map {
          case PName(n) => n; case _ => sys.error("bad /Filter entry")
        }
        case _ => sys.error("bad /Filter")
      }
      val parms: Seq[Option[PDict]] = dict.m.get("DecodeParms")
        .orElse(dict.m.get("DP")) match {
        case None => filters.map(_ => None)
        case Some(d: PDict) => Seq(Some(d)) ++ filters.drop(1).map(_ => None)
        case Some(PArr(items)) => filters.zipWithIndex.map { case (_, i) =>
          items.lift(i) match { case Some(d: PDict) => Some(d); case _ => None }
        }
        case Some(PNull) => filters.map(_ => None)
        case _ => sys.error("bad /DecodeParms")
      }
      var data = raw
      def parmNum(pm: Option[PDict], k: String, dflt: Int): Int =
        pm.flatMap(_.m.get(k)) match {
          case Some(PNum(v)) => v.toInt
          case Some(r: PRef) => deref(r, 0) match {
            case PNum(v) => v.toInt; case _ => dflt
          }
          case _ => dflt
        }
      def applyPredictor(pm: Option[PDict]): Unit =
        if (pm.isDefined)
          data = unpredict(data, parmNum(pm, "Predictor", 1),
            parmNum(pm, "Columns", 1), parmNum(pm, "Colors", 1),
            parmNum(pm, "BitsPerComponent", 8))
      filters.zip(parms).foreach {
        case ("FlateDecode" | "Fl", pm) =>
          data = inflate(data)
          applyPredictor(pm)
        case ("LZWDecode" | "LZW", pm) =>
          data = lzwDecode(data, parmNum(pm, "EarlyChange", 1))
          applyPredictor(pm)
        case (other, _) => sys.error(s"unsupported filter $other")
      }
      data
    }

    // ---- object resolution ---------------------------------------------
    def obj(num: Int): PVal = {
      objCache.get(num) match {
        case Some(v) => v
        case None =>
          if (resolving.contains(num)) sys.error("reference cycle")
          if (resolving.size > MaxDepth) sys.error("resolution depth")
          resolving += num
          try {
            val v = xref.get(num) match {
              case Some(XOffset(off)) => parseObjectAt(off)
              case Some(XInStream(stmNum, idx)) => objFromStream(stmNum, idx)
              case None => PNull
            }
            objCache(num) = v
            v
          } finally resolving -= num
      }
    }

    private val objStmCache = mutable.HashMap.empty[Int, (Array[Byte], Vector[(Int, Int)])]

    private def objFromStream(stmNum: Int, idx: Int): PVal = {
      val (data, pairs) = objStmCache.getOrElseUpdate(stmNum, {
        obj(stmNum) match {
          case PStream(d, raw) =>
            if (d.m.get("Type") != Some(PName("ObjStm"))) sys.error("not an ObjStm")
            val n = d.m.get("N") match {
              case Some(PNum(v)) => v.toInt; case _ => sys.error("ObjStm missing /N")
            }
            val first = d.m.get("First") match {
              case Some(PNum(v)) => v.toInt; case _ => sys.error("ObjStm missing /First")
            }
            if (n < 0 || n > 65536) sys.error("ObjStm /N bound")
            val data = decodeStreamData(d, raw)
            val lx = new Lexer(data, 0)
            val pairs = Vector.newBuilder[(Int, Int)]
            var i = 0
            while (i < n) {
              lx.skipWs(); lx.number() // objnum (positional: trust idx)
              lx.skipWs()
              val off = lx.number().toInt
              pairs += ((0, first + off))
              i += 1
            }
            (data, pairs.result())
          case _ => sys.error("ObjStm target is not a stream")
        }
      })
      if (idx < 0 || idx >= pairs.length) sys.error("ObjStm index out of range")
      val lx = new Lexer(data, pairs(idx)._2)
      lx.parseValue(refs = true)
    }

    def deref(v: PVal, depth: Int): PVal = {
      if (depth > MaxDepth) sys.error("deref depth")
      v match {
        case PRef(n) => deref(obj(n), depth + 1)
        case other => other
      }
    }

    def dictGet(d: PDict, key: String): PVal =
      deref(d.m.getOrElse(key, PNull), 0)

    def nObjects: Int = xref.keysIterator.count(_ > 0)
  }

  // ---------------------------------------------------------------
  // encodings
  // ---------------------------------------------------------------
  /** WinAnsiEncoding ≡ the windows-1252 table ([[Charsets]]' WHATWG
    * index supplies the 0x80–0x9F row); control range → U+FFFD.
    */
  private lazy val WinAnsiTable: Array[String] = {
    val t = new Array[String](256)
    var i = 0
    while (i < 256) {
      t(i) =
        if (i < 32) "�"
        else Charsets.decodeW1252For(Array(i.toByte), 0)
      i += 1
    }
    t
  }

  /** StandardEncoding, restricted to its printable-ASCII range with
    * the published quoteright (0x27 → U+2019) and quoteleft
    * (0x60 → U+2018) substitutions; codes ≥ 0x80 → U+FFFD
    * (documented above).
    */
  /** Glyph name → text (round 14, for `/Differences`): the AGL
    * algorithm's deterministic core — `uniXXXX`/`uXXXX[XX]` hex names
    * decode directly, single-char names map to themselves, plus the
    * punctuation/digit/Latin-1 names simple fonts actually use;
    * unknown names → U+FFFD (loud, never silent garbage).
    */
  private lazy val GlyphNames: Map[String, String] = Map(
    "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
    "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
    "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
    "parenright" -> ")", "asterisk" -> "*", "plus" -> "+", "comma" -> ",",
    "hyphen" -> "-", "period" -> ".", "slash" -> "/", "zero" -> "0",
    "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
    "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8",
    "nine" -> "9", "colon" -> ":", "semicolon" -> ";", "less" -> "<",
    "equal" -> "=", "greater" -> ">", "question" -> "?", "at" -> "@",
    "bracketleft" -> "[", "backslash" -> "\\", "bracketright" -> "]",
    "asciicircum" -> "^", "underscore" -> "_", "grave" -> "`",
    "braceleft" -> "{", "bar" -> "|", "braceright" -> "}",
    "asciitilde" -> "~", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "ccedilla" -> "ç", "adieresis" -> "ä",
    "odieresis" -> "ö", "udieresis" -> "ü", "ntilde" -> "ñ",
    "Euro" -> "€", "copyright" -> "©", "registered" -> "®",
    "trademark" -> "™", "bullet" -> "•", "endash" -> "–",
    "emdash" -> "—", "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "ellipsis" -> "…", "dagger" -> "†", "section" -> "§",
    "paragraph" -> "¶", "degree" -> "°", "plusminus" -> "±",
    "multiply" -> "×", "divide" -> "÷", "sterling" -> "£", "yen" -> "¥",
    "cent" -> "¢", "exclamdown" -> "¡", "questiondown" -> "¿")

  private def glyphChar(name: String): String = {
    if (name.length == 1) return name
    if (name.length == 7 && name.startsWith("uni") &&
        name.drop(3).forall(c => Character.digit(c, 16) >= 0)) {
      val cp = Integer.parseInt(name.drop(3), 16)
      if (cp >= 0xD800 && cp <= 0xDFFF) return "�"
      return new String(Character.toChars(cp))
    }
    if (name.length >= 5 && name.length <= 7 && name.startsWith("u") &&
        name.drop(1).forall(c => Character.digit(c, 16) >= 0)) {
      val cp = Integer.parseInt(name.drop(1), 16)
      if (cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) return "�"
      return new String(Character.toChars(cp))
    }
    GlyphNames.getOrElse(name, "�")
  }

  private lazy val StandardTable: Array[String] = {
    val t = new Array[String](256)
    var i = 0
    while (i < 256) {
      t(i) =
        if (i == 0x27) "’"
        else if (i == 0x60) "‘"
        else if (i >= 32 && i < 127) i.toChar.toString
        else "�"
      i += 1
    }
    t
  }

  /** MacRomanEncoding restricted to ASCII (high bytes U+FFFD). */
  private lazy val MacAsciiTable: Array[String] = {
    val t = new Array[String](256)
    var i = 0
    while (i < 256) {
      t(i) = if (i >= 32 && i < 127) i.toChar.toString else "�"
      i += 1
    }
    t
  }

  private sealed trait FontDec
  private final case class SimpleFont(table: Array[String]) extends FontDec
  private final case class CMapFont(width: Int, map: Map[Int, String]) extends FontDec

  private def decodeShown(bytes: Array[Byte], font: FontDec): String = font match {
    case SimpleFont(t) =>
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) { sb.append(t(bytes(i) & 0xFF)); i += 1 }
      sb.toString
    case CMapFont(w, m) =>
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i + w <= bytes.length) {
        var code = 0
        var j = 0
        while (j < w) { code = (code << 8) | (bytes(i + j) & 0xFF); j += 1 }
        sb.append(m.getOrElse(code, "�"))
        i += w
      }
      if (i < bytes.length) sb.append("�") // ragged tail
      sb.toString
  }

  /** ToUnicode CMap: codespace width + bfchar/bfrange mappings. */
  private def parseToUnicode(data: Array[Byte]): CMapFont = {
    val lx = new Lexer(data, 0)
    var width = 0
    val map = mutable.HashMap.empty[Int, String]
    val stack = mutable.ArrayBuffer.empty[PVal]
    def hexInt(s: PStr): Int = {
      var v = 0; var i = 0
      while (i < s.bytes.length) { v = (v << 8) | (s.bytes(i) & 0xFF); i += 1 }
      v
    }
    def utf16(s: PStr): String =
      new String(s.bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    var guard = 0
    while (!lx.atEnd && guard < 1000000) {
      guard += 1
      lx.skipWs()
      if (!lx.atEnd) {
        val v = try lx.parseValue(refs = false) catch { case NonFatal(_) => POp("?skip") }
        v match {
          case POp("begincodespacerange") => stack.clear()
          case POp("endcodespacerange") =>
            stack.collectFirst { case s: PStr => s }.foreach { lo =>
              width = math.max(1, math.min(2, lo.bytes.length))
            }
            stack.clear()
          case POp("beginbfchar") => stack.clear()
          case POp("endbfchar") =>
            stack.grouped(2).foreach {
              case mutable.ArrayBuffer(src: PStr, dst: PStr) =>
                if (width == 0) width = math.max(1, math.min(2, src.bytes.length))
                map(hexInt(src)) = utf16(dst)
              case _ =>
            }
            stack.clear()
          case POp("beginbfrange") => stack.clear()
          case POp("endbfrange") =>
            stack.grouped(3).foreach {
              case mutable.ArrayBuffer(lo: PStr, hi: PStr, dst) =>
                if (width == 0) width = math.max(1, math.min(2, lo.bytes.length))
                val l = hexInt(lo); val h = math.min(hexInt(hi), l + 65535)
                dst match {
                  case d: PStr =>
                    val base = utf16(d)
                    if (base.nonEmpty) {
                      var c = l
                      while (c <= h) {
                        // increment the LAST code unit (spec 9.10.3 usage)
                        val off = c - l
                        val s = base.substring(0, base.length - 1) +
                          (base.charAt(base.length - 1) + off).toChar
                        map(c) = s
                        c += 1
                      }
                    }
                  case PArr(items) =>
                    var c = l
                    items.foreach {
                      case d: PStr => if (c <= h) { map(c) = utf16(d); c += 1 }
                      case _ =>
                    }
                  case _ =>
                }
              case _ =>
            }
            stack.clear()
          case POp(_) => stack.clear() // any other operator flushes
          case operand => stack += operand
        }
      }
    }
    CMapFont(if (width == 0) 1 else width, map.toMap)
  }

  // ---------------------------------------------------------------
  // content interpreter
  // ---------------------------------------------------------------
  private final class TextSink {
    private val sb = new java.lang.StringBuilder
    private var pending = new java.lang.StringBuilder
    private var emitted = false
    def sep(s: Char): Unit = pending.append(s)
    def show(s: String): Unit = {
      if (s.isEmpty && pending.length == 0) return
      if (emitted && pending.length > 0) sb.append(pending)
      pending = new java.lang.StringBuilder
      if (sb.length + s.length <= MaxOutChars) sb.append(s)
      emitted = true
    }
    def result: String = sb.toString
  }

  private def runContent(doc: Doc, content: Array[Byte],
                         fonts: Map[String, PVal], sink: TextSink): Unit = {
    val lx = new Lexer(content, 0)
    val stack = mutable.ArrayBuffer.empty[PVal]
    var font: FontDec = SimpleFont(StandardTable)
    val fontCache = mutable.HashMap.empty[String, FontDec]

    def resolveFont(name: String): FontDec = fontCache.getOrElseUpdate(name, {
      fonts.get(name).map(f => doc.deref(f, 0)) match {
        case Some(fd: PDict) =>
          doc.dictGet(fd, "ToUnicode") match {
            case PStream(sd, raw) =>
              parseToUnicode(doc.decodeStreamData(sd, raw))
            case _ =>
              doc.dictGet(fd, "Encoding") match {
                case PName("WinAnsiEncoding") => SimpleFont(WinAnsiTable)
                case PName("MacRomanEncoding") => SimpleFont(MacAsciiTable)
                case PName("StandardEncoding") => SimpleFont(StandardTable)
                case ed: PDict =>
                  val base = doc.dictGet(ed, "BaseEncoding") match {
                    case PName("WinAnsiEncoding") => WinAnsiTable
                    case PName("MacRomanEncoding") => MacAsciiTable
                    case _ => StandardTable
                  }
                  // /Differences (round 14): [code name name ... code
                  // name ...] — each name overrides consecutive codes
                  // from the last code marker (glyph names resolved
                  // through the AGL subset + the uniXXXX rule)
                  doc.dictGet(ed, "Differences") match {
                    case PArr(items) =>
                      val t = base.clone()
                      var code = 0
                      items.foreach {
                        case PNum(d) => code = d.toInt
                        case PName(g) =>
                          if (code >= 0 && code < 256) {
                            t(code) = glyphChar(g)
                            code += 1
                          }
                        case _ => ()
                      }
                      SimpleFont(t)
                    case _ => SimpleFont(base)
                  }
                case _ => SimpleFont(StandardTable)
              }
          }
        case _ => SimpleFont(StandardTable)
      }
    })

    def num(v: PVal): Double = v match { case PNum(d) => d; case _ => 0.0 }

    var guard = 0
    while (!lx.atEnd && guard < 4000000) {
      guard += 1
      lx.skipWs()
      if (!lx.atEnd) {
        val v = try lx.parseValue(refs = false) catch {
          case NonFatal(_) => lx.pos += 1; POp("?skip")
        }
        v match {
          case POp(op) =>
            op match {
              case "Tf" =>
                if (stack.length >= 2) stack(stack.length - 2) match {
                  case PName(n) => font = resolveFont(n)
                  case _ =>
                }
              case "Td" | "TD" =>
                if (stack.length >= 2) {
                  val ty = num(stack(stack.length - 1))
                  val tx = num(stack(stack.length - 2))
                  if (ty != 0) sink.sep('\n') else if (tx != 0) sink.sep(' ')
                }
              case "T*" => sink.sep('\n')
              case "Tj" =>
                stack.lastOption.foreach {
                  case s: PStr => sink.show(decodeShown(s.bytes, font))
                  case _ =>
                }
              case "'" =>
                sink.sep('\n')
                stack.lastOption.foreach {
                  case s: PStr => sink.show(decodeShown(s.bytes, font))
                  case _ =>
                }
              case "\"" =>
                sink.sep('\n')
                stack.lastOption.foreach {
                  case s: PStr => sink.show(decodeShown(s.bytes, font))
                  case _ =>
                }
              case "TJ" =>
                stack.lastOption.foreach {
                  case PArr(items) => items.foreach {
                    case s: PStr => sink.show(decodeShown(s.bytes, font))
                    case PNum(d) => if (d <= -200) sink.sep(' ')
                    case _ =>
                  }
                  case _ =>
                }
              case _ => // BT/ET/Tm/TL/Tc/Tw/graphics/…: consume operands
            }
            stack.clear()
          case operand =>
            stack += operand
            if (stack.length > 4096) stack.clear() // runaway operand guard
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // page tree + top level
  // ---------------------------------------------------------------
  private def collectPages(doc: Doc, node: PVal, inheritedRes: PVal,
                           out: mutable.ArrayBuffer[(PDict, PVal)],
                           depth: Int): Unit = {
    if (depth > MaxDepth || out.length >= MaxPages) return
    doc.deref(node, 0) match {
      case d: PDict =>
        val res = d.m.get("Resources") match {
          case Some(r) => r
          case None => inheritedRes
        }
        doc.dictGet(d, "Type") match {
          case PName("Pages") =>
            doc.dictGet(d, "Kids") match {
              case PArr(kids) =>
                kids.foreach(k => collectPages(doc, k, res, out, depth + 1))
              case _ =>
            }
          case PName("Page") =>
            out += ((d, res))
          case _ => // tolerate missing /Type on leaf dicts with /Contents
            if (d.m.contains("Contents")) out += ((d, res))
            else if (d.m.contains("Kids")) doc.dictGet(d, "Kids") match {
              case PArr(kids) =>
                kids.foreach(k => collectPages(doc, k, res, out, depth + 1))
              case _ =>
            }
        }
      case _ =>
    }
  }

  private def pageText(doc: Doc, page: PDict, res: PVal): String = {
    val fonts: Map[String, PVal] = doc.deref(res, 0) match {
      case rd: PDict => doc.dictGet(rd, "Font") match {
        case fd: PDict => fd.m
        case _ => Map.empty
      }
      case _ => Map.empty
    }
    val sink = new TextSink
    def run(v: PVal): Unit = doc.deref(v, 0) match {
      case PStream(sd, raw) =>
        runContent(doc, doc.decodeStreamData(sd, raw), fonts, sink)
      case PArr(items) => items.foreach(run)
      case _ =>
    }
    page.m.get("Contents").foreach(run)
    sink.result
  }

  private def decodeTitle(v: PVal): String = v match {
    case PStr(b) =>
      if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
        new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
      else {
        // PDFDocEncoding, restricted to its ASCII range
        val sb = new java.lang.StringBuilder(b.length)
        var i = 0
        while (i < b.length) {
          val c = b(i) & 0xFF
          sb.append(if (c >= 32 && c < 127) c.toChar else '�')
          i += 1
        }
        sb.toString
      }
    case _ => ""
  }

  /** Extract (page count, object count, /Info /Title, text) from a
    * PDF payload. Null for anything this restricted subset cannot
    * prove it extracted correctly — malformed, encrypted, unsupported
    * filter, broken xref. Never throws.
    */
  def textOrNull(bytes: Array[Byte]): PdfDoc = {
    if (bytes == null || bytes.length < 16) return null
    try {
      val doc = new Doc(bytes)
      val catalog = doc.deref(doc.root, 0) match {
        case d: PDict => d
        case _ => sys.error("no catalog")
      }
      val pagesRoot = catalog.m.getOrElse("Pages", PNull)
      val pages = mutable.ArrayBuffer.empty[(PDict, PVal)]
      collectPages(doc, pagesRoot, PNull, pages, 0)
      if (pages.isEmpty) sys.error("no pages")
      val text = pages.iterator.map { case (p, r) => pageText(doc, p, r) }
        .mkString("\n")
      val title = doc.deref(doc.info, 0) match {
        case d: PDict => decodeTitle(doc.dictGet(d, "Title"))
        case _ => ""
      }
      PdfDoc(pages.length, doc.nObjects, title, text)
    } catch {
      case NonFatal(_) => null
    }
  }
}
