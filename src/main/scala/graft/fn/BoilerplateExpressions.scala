package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `justext_blocks(html)` — per-block boilerplate classification
  * ([[graft.ext.Boilerplate.classify]], the published jusText rules):
  * (block_idx, heading, length, link_chars, stop_hits, n_words,
  * cf_class, class, text) per structural block. Null for null input;
  * an empty page yields an empty array.
  */
case class JustextBlocks(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "justext_blocks"

  override protected def kernel: Expression =
    Kernel.call(JustextBlocks, "blocksData", JustextBlocks.Schema, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JustextBlocks {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("block_idx", IntegerType, nullable = false),
    StructField("heading", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("link_chars", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("cf_class", StringType, nullable = false),
    StructField("class", StringType, nullable = false))), containsNull = false)

  def blocksData(html: UTF8String): GenericArrayData = {
    try {
      val cs = graft.ext.Boilerplate.classify(html.toString)
      new GenericArrayData(cs.zipWithIndex.map { case (c, i) =>
        InternalRow(i, if (c.heading) 1 else 0, c.length, c.linkChars,
          c.stopHits, c.nWords, UTF8String.fromString(c.cfClass),
          UTF8String.fromString(c.cls)): Any
      })
    } catch { case scala.util.control.NonFatal(_) => null }
  }
}

/** SQL `main_text(html)` — the page's MAIN text (final-class-good
  * blocks joined with newlines, [[graft.ext.Boilerplate.mainTextOrNull]]):
  * the de-boilerplated face of `html_text` for dedup/LM gates.
  */
case class MainText(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "main_text"

  override protected def kernel: Expression =
    Kernel.string(
      Kernel.call(graft.ext.Boilerplate, "mainTextOrNull", Kernel.Str, Kernel.str(child)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `justext_synth(doc_id)` — the q170/q171 page corpus
  * ([[graft.ext.BoilerplateFixtures.fixtureHtml]]): every block
  * parameter is doc_id arithmetic mirrored by the oracle.
  */
case class JustextSynth(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def prettyName: String = "justext_synth"

  override protected def kernel: Expression =
    Kernel.string(
      Kernel.total(graft.ext.BoilerplateFixtures, "fixtureHtml", Kernel.Str, child))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
