package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `charset_sniff(content)` — [[graft.ext.Charsets]] BOM + strict
  * UTF-8 + windows-1252 sniffing/decoding as a per-row codegen
  * kernel: the crawl payload's bytes → (detected charset, decoded
  * text, code-point count). Null only for null input.
  */
case class CharsetSniff(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "charset_sniff"

  override protected def kernel: Expression =
    Kernel.call(CharsetSniff, "rowOrNull", CharsetSniff.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharsetSniff {
  val Schema: StructType = StructType(Seq(
    StructField("charset", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def rowOrNull(bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.Charsets.decodeOrNull(bytes)
    if (d == null) return null
    toRow(d)
  }

  private[fn] def toRow(d: graft.ext.Charsets.Decoded): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(d.charset),
      UTF8String.fromString(d.text),
      d.text.codePointCount(0, d.text.length)))
}

/** `charset_decode(label, content)` — labeled decode through
  * [[graft.ext.CharsetFamilies]]: BOM wins, then the WHATWG-
  * normalized label routes to the family scanner, unknown/empty
  * labels fall through to the strict-UTF-8 → windows-1252 sniff.
  * The empty string means "no label" (callers pass
  * `coalesce(label, lit(""))` — the kernel keeps Spark's standard
  * null-in/null-out inputs: a null label is a null row).
  */
case class CharsetDecode(label: Expression, content: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ExpectsInputTypes with KernelCall {

  override def left: Expression = label
  override def right: Expression = content
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, BinaryType)
  override def prettyName: String = "charset_decode"

  override protected def kernel: Expression =
    Kernel.call(CharsetDecode, "rowOrNull", CharsetSniff.Schema, Kernel.str(label), content)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(label = newLeft, content = newRight)
}

object CharsetDecode {
  def rowOrNull(label: String, bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.CharsetFamilies.decodeLabeled(
      if (label == null || label.isEmpty) null else label, bytes)
    if (d == null) null else CharsetSniff.toRow(d)
  }
}

/** `charset_detect(content_type, content)` — the FULL WHATWG
  * authority chain ([[graft.ext.CharsetFamilies.detectDecode]]):
  * BOM → Content-Type `charset=` parameter → `<meta>` prescan over
  * the first 1024 bytes → strict UTF-8 → windows-1252. This is the
  * kernel that sits between [[graft.io.Warc]] responses and the
  * text layer; the empty string means "no Content-Type header".
  */
case class CharsetDetect(contentType: Expression, content: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ExpectsInputTypes with KernelCall {

  override def left: Expression = contentType
  override def right: Expression = content
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, BinaryType)
  override def prettyName: String = "charset_detect"

  override protected def kernel: Expression =
    Kernel.call(CharsetDetect, "rowOrNull", CharsetSniff.Schema, Kernel.str(contentType), content)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(contentType = newLeft, content = newRight)
}

object CharsetDetect {
  def rowOrNull(contentType: String, bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.CharsetFamilies.detectDecode(
      if (contentType == null || contentType.isEmpty) null else contentType, bytes)
    if (d == null) null else CharsetSniff.toRow(d)
  }
}
