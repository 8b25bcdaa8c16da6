package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML → visible-text extraction for web-corpus curation (the first
  * transform a crawl-derived training pipeline applies, upstream of
  * language ID / quality scoring / dedup). The semantics are a fixed,
  * documented regex-pass pipeline — each pass hand-compiled into a
  * linear scan (no `java.util.regex`, no backtracking), and the exact
  * same pipeline is expressible in ANSI SQL so the q131 oracle replays
  * it hash-exact:
  *
  *  1. `<script[^>]*>.*?</script>` → `' '`  (global, case-insensitive, dotall)
  *  2. `<style[^>]*>.*?</style>`   → `' '`  (same flags)
  *  3. `<!--.*?-->`                → `' '`  (global, dotall)
  *  4. `<[^>]*>`                   → `' '`  (global)
  *  5. literal entity decode, sequential passes in this order:
  *     `&lt;`→`<`, `&gt;`→`>`, `&quot;`→`"`, `&#39;`→`'`,
  *     `&nbsp;`→`' '`, `&amp;`→`&` (amp LAST so `&amp;lt;` yields the
  *     literal text `&lt;`, the standard double-escape resolution);
  *     unknown entities (`&copy;` …) pass through untouched
  *  6. `[ \t\n\f\r]+` → `' '`, then trim
  *
  * The whitespace class in step 6 is written explicitly rather than
  * `\s` because RE2 (the oracle's engine) excludes `\x0B` from `\s`
  * while `java.util.regex` includes it — the explicit class is the
  * portable intersection.
  *
  * Numeric character references: the DEFAULT pipeline does NOT decode
  * `&#NN;`/`&#xHH;` beyond the literal `&#39;` — SQL `replace()`
  * cannot express them, and q131's oracle replays the default
  * pipeline hash-exact. The PRODUCTION variant (`html_text_full`,
  * `numericRefs = true`) swaps pass 5 for [[decodeEntitiesNumeric]]:
  * one left-to-right scan decoding the same five named entities PLUS
  * `&#NN;` (≤ 10 decimal digits) and `&#xHH;`/`&#XHH;` (≤ 8 hex
  * digits), strict-semicolon; supplementary planes emit surrogate
  * pairs; malformed or out-of-range refs (no digits, no `;`, value 0,
  * the surrogate block D800–DFFF, > 10FFFF) pass through as text.
  * Decoded output is never rescanned, so `&amp;lt;` and `&amp;#65;`
  * still resolve exactly one escape level — on entity-free and
  * named-only inputs the two variants agree (the single-char
  * replacements cannot create a new reference, and `&`-producing
  * decodes are terminal in both forms). Real pages use `&#8217;`
  * (curly apostrophe) constantly; leaving it as literal text poisons
  * shingle/winnow dedup keys, which is why the production twin exists
  * (graded rows-only as q131x by the xx convention — its decode is
  * fuzz-pinned against an independent `java.util.regex` +
  * `Character.toChars` reference in HtmlSpec instead).
  *
  * HtmlSpec pins every pass against a `java.util.regex` reference
  * implementation (adversarial corners + randomized tag-soup fuzz),
  * the PiiSpec discipline.
  */
object HtmlKernels {

  /** Case-insensitive ASCII match of `tag` at `i` (tag is lowercase). */
  private def tagAt(s: String, i: Int, tag: String): Boolean = {
    val tn = tag.length
    if (i + tn > s.length) return false
    var k = 0
    while (k < tn) {
      val c = s.charAt(i + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != tag.charAt(k)) return false
      k += 1
    }
    true
  }

  /** First case-insensitive occurrence of lowercase `needle` at
    * index >= from, or -1 — the lazy `.*?</tag>` resolution.
    */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      if (tagAt(s, i, needle)) return i
      i += 1
    }
    -1
  }

  /** Pass 1/2: `<tag[^>]*>.*?</tag>` (g, i, s) → `' '`. `tag` is
    * lowercase. Matches the regex exactly: the element open is `<tag`
    * followed by any non-`>` run then the FIRST `>`; the body is lazy
    * up to the FIRST case-insensitive `</tag>`; an open with no `>`
    * or no closing tag never matches (the raw text then falls through
    * to the later tag-strip pass, as it does under the regex chain).
    */
  def removeElement(s: String, tag: String): String = {
    val n = s.length
    val close = "</" + tag + ">"
    var sb: java.lang.StringBuilder = null
    var i = 0
    var emitted = 0
    while (i < n) {
      if (s.charAt(i) == '<' && tagAt(s, i + 1, tag)) {
        val gt = s.indexOf('>', i + 1)
        if (gt >= 0) {
          // [^>]* admits any chars between the tag name and '>' —
          // including '<' — exactly as the character class does
          val ci = indexOfIgnoreCase(s, close, gt + 1)
          if (ci >= 0) {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(s, emitted, i).append(' ')
            i = ci + close.length
            emitted = i
          } else i += 1
        } else i += 1
      } else i += 1
    }
    if (sb == null) s
    else { sb.append(s, emitted, n); sb.toString }
  }

  /** Pass 3: `<!--.*?-->` (g, s) → `' '`. */
  def removeComments(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var i = 0
    var emitted = 0
    while (i < n) {
      if (s.charAt(i) == '<' && s.startsWith("<!--", i)) {
        val ci = s.indexOf("-->", i + 4)
        if (ci >= 0) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, emitted, i).append(' ')
          i = ci + 3
          emitted = i
        } else i += 1
      } else i += 1
    }
    if (sb == null) s
    else { sb.append(s, emitted, n); sb.toString }
  }

  /** Pass 4: `<[^>]*>` (g) → `' '`. */
  def stripTags(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var i = 0
    var emitted = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        val gt = s.indexOf('>', i + 1)
        if (gt >= 0) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, emitted, i).append(' ')
          i = gt + 1
          emitted = i
        } else {
          // no '>' anywhere ahead: no further tag can match
          i = n
        }
      } else i += 1
    }
    if (sb == null) s
    else { sb.append(s, emitted, n); sb.toString }
  }

  /** Pass 5: sequential literal replaces, amp last (see scaladoc). */
  def decodeEntities(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")

  /** Tries to decode one reference at `s(i) == '&'` into `sb`;
    * returns chars consumed, or 0 when nothing valid starts here
    * (the caller then emits the `&` as text). See object scaladoc
    * for the accepted forms.
    */
  private def tryDecodeRef(s: String, i: Int, sb: java.lang.StringBuilder): Int = {
    val n = s.length
    // named, case-sensitive (matching the literal-replace pipeline)
    if (s.startsWith("&lt;", i)) { sb.append('<'); return 4 }
    if (s.startsWith("&gt;", i)) { sb.append('>'); return 4 }
    if (s.startsWith("&amp;", i)) { sb.append('&'); return 5 }
    if (s.startsWith("&quot;", i)) { sb.append('"'); return 6 }
    if (s.startsWith("&nbsp;", i)) { sb.append(' '); return 6 }
    if (i + 2 >= n || s.charAt(i + 1) != '#') return 0
    val hex = s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X'
    var j = i + (if (hex) 3 else 2)
    val digitStart = j
    val maxDigits = if (hex) 8 else 10
    var v = 0L
    while (j < n && j - digitStart < maxDigits + 1 && {
      val c = s.charAt(j)
      if (hex)
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      else c >= '0' && c <= '9'
    }) {
      val c = s.charAt(j)
      val d = if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10
      v = math.min(v * (if (hex) 16 else 10) + d, 0x110000L)
      j += 1
    }
    if (j == digitStart || j - digitStart > maxDigits) return 0
    if (j >= n || s.charAt(j) != ';') return 0
    val cp = v.toInt
    if (cp < 1 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) return 0
    sb.appendCodePoint(cp)
    j + 1 - i
  }

  /** Pass 5, production form: one scan decoding named + numeric
    * references; decoded output is not rescanned (see scaladoc).
    */
  def decodeEntitiesNumeric(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val consumed = tryDecodeRef(s, i, sb)
        if (consumed > 0) i += consumed
        else { sb.append('&'); i += 1 }
      }
    }
    sb.toString
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Pass 6: `[ \t\n\f\r]+` → `' '` then trim — fused (leading and
    * trailing runs emit nothing, interior runs one space).
    */
  def collapseWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) { pendingSpace = sb.length() > 0 }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** The whole pipeline (see object scaladoc for the exact passes);
    * `numericRefs` swaps pass 5 for [[decodeEntitiesNumeric]].
    */
  def htmlText(s: String, numericRefs: Boolean = false): String = {
    val stripped = stripTags(removeComments(
      removeElement(removeElement(s, "script"), "style")))
    collapseWs(
      if (numericRefs) decodeEntitiesNumeric(stripped)
      else decodeEntities(stripped))
  }

  def htmlTextOrNull(u: UTF8String): UTF8String =
    htmlTextOrNull(u, false)

  def htmlTextOrNull(u: UTF8String, numericRefs: Boolean): UTF8String =
    if (u == null) null
    else UTF8String.fromString(htmlText(u.toString, numericRefs))
}

/** `html_text(html)` → visible text (see [[HtmlKernels]]);
  * `html_text_full` is the `numericRefs = true` production variant.
  */
case class HtmlText(child: Expression, numericRefs: Boolean = false)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = if (numericRefs) "html_text_full" else "html_text"

  override protected def kernel: Expression =
    Kernel.call(HtmlKernels, "htmlTextOrNull", StringType, child, numericRefs)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
