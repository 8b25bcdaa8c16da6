package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `winnow_fps(text)` — per-row winnowing document fingerprints
  * ([[TextKernels.winnowFingerprints]]: k-token shingles → portable
  * 60-bit md5 hashes → distinct w-window minima, sorted). A narrow
  * codegen expression: the whole fingerprint computation runs inside
  * the scan's codegen span, so fingerprinting a 100 TB corpus moves
  * ZERO bytes — only the selected ~2/(w+1) fraction of shingle
  * hashes ever leaves the row, and only if the caller explodes them.
  *
  * `xx = true` selects the xxhash64 PRODUCTION shingle hasher (SQL
  * `winnow_fps_xx`): same winnowing selection and density, ~20×
  * cheaper hashing — the md5 default exists for DuckDB oracle
  * parity, which a production corpus run doesn't need.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int,
                              xx: Boolean = false)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(k >= 1, s"shingle size must be >= 1, got $k")
  require(w >= 1, s"window size must be >= 1, got $w")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = if (xx) "winnow_fps_xx" else "winnow_fps"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "winnowFingerprints",
      ArrayType(LongType, containsNull = false), child, k, w, xx)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
