package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `pdf_synth(doc_id)` — the deterministic [[graft.ext.PdfFixtures]]
  * document as a per-row codegen kernel (q151's corpus; the q137
  * OggSynth pattern).
  */
case class PdfSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "pdf_synth"

  override protected def kernel: Expression =
    Kernel.total(graft.ext.PdfFixtures, "pdf", BinaryType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pdf_text(content)` — the [[graft.ext.Pdf]] restricted-subset
  * extraction (xref tables + xref/object streams, FlateDecode +
  * predictors, page tree, content-stream text operators, WinAnsi/
  * Standard/ToUnicode decoding) folded to (page count, in-use object
  * count, /Info /Title, extracted text, code-point count). Null for
  * anything the subset cannot prove it extracted correctly —
  * malformed, encrypted, unsupported filter. Never throws.
  */
case class PdfTextStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def prettyName: String = "pdf_text"

  override protected def kernel: Expression =
    Kernel.call(PdfTextStats, "rowOrNull", PdfTextStats.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfTextStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_pages", IntegerType, nullable = false),
    StructField("n_objects", IntegerType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  def rowOrNull(bytes: Array[Byte]): InternalRow = {
    val d = graft.ext.Pdf.textOrNull(bytes)
    if (d == null) return null
    new GenericInternalRow(Array[Any](
      d.nPages,
      d.nObjects,
      UTF8String.fromString(d.title),
      UTF8String.fromString(d.text),
      d.text.codePointCount(0, d.text.length)))
  }
}
