package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hand-compiled scanners for the three fixed PII shapes
  * ([[graft.ext.TextOps.EmailRe]] / Ipv4Re / PhoneRe) — the q127
  * scrub previously ran SIX `java.util.regex` passes per row (three
  * `regexp_count` + three chained `regexp_replace`), which at sf10
  * was 4.8× slower than the RE2-based oracle. These scanners
  * reproduce the regexes' match semantics exactly (verified
  * property-style against `java.util.regex` itself in PiiSpec,
  * including the greedy-backtracking corner cases: latest-dot domain
  * selection, digit-run boundaries under `\b`, the 1-or-2-digit
  * country code) in one linear pass each, no backtracking, no
  * Matcher allocation per pattern.
  *
  * Count semantics match the original formulation: counts run over
  * the ORIGINAL text; redaction is the sequential email → IPv4 →
  * phone replacement chain (later patterns see earlier
  * replacements).
  */
object PiiKernels {

  private def isLocal(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'

  private def isDomain(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '-'

  private def isLetter(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  // \b in the patterns: java.util.regex word chars
  private def isWord(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** Next email match at or after `from`, packed (start << 32 | end),
    * or -1. Mirrors Java's leftmost-greedy resolution of
    * `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`: maximal local
    * run (clipped at `from`), maximal domain run, then the LATEST
    * dot with ≥ 2 letters immediately after (the minimal backtrack
    * of the greedy domain), match ending at that letter run's end.
    */
  def findEmail(s: String, from: Int): Long = {
    val n = s.length
    var pos = from
    while (pos < n) {
      val at = s.indexOf('@', pos)
      if (at < 0) return -1L
      var k = at
      while (k > 0 && isLocal(s.charAt(k - 1))) k -= 1
      val ls = math.max(k, from)
      if (ls < at) {
        var de = at + 1
        while (de < n && isDomain(s.charAt(de))) de += 1
        if (de > at + 1) {
          var i = de - 1
          while (i >= at + 2) {
            if (s.charAt(i) == '.') {
              var le = i + 1
              while (le < n && isLetter(s.charAt(le))) le += 1
              if (le - (i + 1) >= 2) return (ls.toLong << 32) | le.toLong
            }
            i -= 1
          }
        }
      }
      pos = at + 1
    }
    -1L
  }

  /** Next IPv4 match (`\b\d{1,3}(\.\d{1,3}){3}\b`): four digit runs
    * of exactly 1–3 (a 4+ run can never satisfy the following dot /
    * boundary, so whole runs are required), word boundaries on both
    * ends.
    */
  def findIpv4(s: String, from: Int): Long = {
    val n = s.length
    var pos = from
    while (pos < n) {
      // next digit with a word boundary before it
      var d = pos
      while (d < n && !(isDigit(s.charAt(d)) &&
        (d == 0 || !isWord(s.charAt(d - 1))))) d += 1
      if (d >= n) return -1L
      var ok = true
      var p = d
      var g = 0
      while (ok && g < 4) {
        var r = p
        while (r < n && isDigit(s.charAt(r))) r += 1
        val len = r - p
        if (len < 1 || len > 3) ok = false
        else {
          p = r
          if (g < 3) {
            if (p < n && s.charAt(p) == '.') p += 1 else ok = false
          }
        }
        g += 1
      }
      if (ok && (p >= n || !isWord(s.charAt(p))))
        return (d.toLong << 32) | p.toLong
      pos = d + 1
    }
    -1L
  }

  /** Next phone match (`\+\d{1,2}-\d{3}-\d{4}`): '+', a 1–2 digit
    * run ending at '-', exactly 3 digits, '-', then four digits
    * consumed greedily (no trailing boundary in the pattern).
    */
  def findPhone(s: String, from: Int): Long = {
    val n = s.length
    var pos = from
    while (pos < n) {
      val plus = s.indexOf('+', pos)
      if (plus < 0) return -1L
      var p = plus + 1
      var r = p
      while (r < n && isDigit(s.charAt(r))) r += 1
      val cc = r - p
      // greedy {1,2}: prefer 2 digits before '-', fall back to 1
      val t =
        if (cc >= 2 && p + 2 < n && s.charAt(p + 2) == '-') 2
        else if (cc >= 1 && p + 1 < n && s.charAt(p + 1) == '-') 1
        else 0
      if (t > 0) {
        p += t + 1 // past '-'
        var q = p
        while (q < n && isDigit(s.charAt(q))) q += 1
        // exactly 3 digits ({3} has no backtracking room), then '-'
        if (q - p == 3 && q < n && s.charAt(q) == '-') {
          val u = q + 1
          var v = u
          while (v < n && isDigit(s.charAt(v))) v += 1
          if (v - u >= 4)
            return (plus.toLong << 32) | (u + 4).toLong
        }
      }
      pos = plus + 1
    }
    -1L
  }

  private def count(s: String, find: (String, Int) => Long): Long = {
    var c = 0L
    var pos = 0
    var m = find(s, pos)
    while (m >= 0) {
      c += 1
      pos = m.toInt // end
      if (pos == (m >>> 32).toInt) pos += 1 // zero-width guard (never hit)
      m = find(s, pos)
    }
    c
  }

  private def replace(s: String, find: (String, Int) => Long,
                      token: String): String = {
    var m = find(s, 0)
    if (m < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m >= 0) {
      val st = (m >>> 32).toInt
      val en = m.toInt
      sb.append(s, last, st).append(token)
      last = en
      m = find(s, en)
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  def countEmail(s: String): Long = count(s, findEmail)
  def countIpv4(s: String): Long = count(s, findIpv4)
  def countPhone(s: String): Long = count(s, findPhone)

  def redact(s: String): String =
    replace(replace(replace(s, findEmail, "<EMAIL>"),
      findIpv4, "<IP>"), findPhone, "<PHONE>")

  /** The full q127 row: counts over the original text + the
    * sequential redaction, one struct.
    */
  def scanOrNull(u: UTF8String): InternalRow = {
    if (u == null) return null
    val s = u.toString
    new GenericInternalRow(Array[Any](
      countEmail(s), countIpv4(s), countPhone(s),
      UTF8String.fromString(redact(s))))
  }
}

/** `pii_scan(text)` → struct(n_email, n_ipv4, n_phone, redacted). */
case class PiiScan(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "pii_scan"

  override protected def kernel: Expression =
    Kernel.call(PiiKernels, "scanOrNull", StructType(Seq(
      StructField("n_email", LongType, nullable = false),
      StructField("n_ipv4", LongType, nullable = false),
      StructField("n_phone", LongType, nullable = false),
      StructField("redacted", StringType, nullable = false))), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
