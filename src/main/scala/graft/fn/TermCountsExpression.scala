package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{LongType, MapType, StringType}

/** Per-document term-frequency map as a native codegen expression —
  * SQL `term_counts(text)`, type `map<string, bigint>`. One
  * [[TextKernels.termCounts]] call per row inside the whole-stage
  * codegen span.
  *
  * This is the tf-table builder's shuffle diet: `explode(term_counts)`
  * yields the (doc, tok, tf) stream NARROWLY, replacing the
  * `explode(tokens) → groupBy(doc, tok) → count` form whose first
  * shuffle moved the entire exploded token stream of the corpus. The
  * downstream vocabulary aggregate (df) is then the pipeline's ONLY
  * corpus-keyed exchange. It also makes point lookups narrow:
  * `element_at(term_counts(text), 'term')` is a per-row O(1) probe
  * (BM25 scoring a literal query needs no corpus shuffle at all).
  */
case class TermCounts(child: Expression)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "term_counts"

  override protected def kernel: Expression =
    Kernel.total(TextKernels, "termCounts",
      MapType(StringType, LongType, valueContainsNull = false), child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document n-gram-frequency map — SQL `ngram_counts(text, n)`,
  * type `map<string, bigint>` keyed by space-joined n-token grams
  * ([[TextKernels.ngramCounts]]). The n-gram LM trainers' analog of
  * [[TermCounts]]: `explode(ngram_counts(text, n))` feeds the count
  * aggregate per-doc DISTINCT grams (with map-side combine) instead
  * of posexploding the corpus token stream once per model order.
  */
case class NgramCounts(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(n >= 2, s"use term_counts for unigrams; got n=$n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = "ngram_counts"

  override protected def kernel: Expression =
    Kernel.total(TextKernels, "ngramCounts",
      MapType(StringType, LongType, valueContainsNull = false), child, n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
