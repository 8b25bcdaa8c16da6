package graft.fn

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Binary-search 1-D nearest-neighbor lookup — the kernel behind
  * [[graft.ops.NearestJoin.nearest1d]] and the as-of
  * [[graft.ops.AsofJoin.nearest]].
  *
  * `vals` must be sorted ascending with one entry per DISTINCT axis
  * value; `keys(i)` is the key reported for `vals(i)` (callers
  * pre-reduce duplicates to the minimum key). Result = key of the
  * nearest value; exact-midpoint ties pick the smaller key — i.e.
  * `min_by(struct(key), struct(|x - val|, key))` semantics, the same
  * (dist, key) lexicographic argmin the cross-join formulation and
  * the DuckDB oracle compute — in O(log m) per row instead of O(m).
  */
object Nearest1d {
  def nearestKey(x: Double, vals: ArrayData, keys: ArrayData): Long = {
    val n = vals.numElements()
    // first index with vals(i) >= x
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (vals.getDouble(mid) < x) lo = mid + 1 else hi = mid
    }
    if (lo == 0) keys.getLong(0)
    else if (lo == n) keys.getLong(n - 1)
    else {
      val dl = x - vals.getDouble(lo - 1)
      val dh = vals.getDouble(lo) - x
      if (dl < dh) keys.getLong(lo - 1)
      else if (dh < dl) keys.getLong(lo)
      else math.min(keys.getLong(lo - 1), keys.getLong(lo))
    }
  }
}

/** SQL-facing expression: `Nearest1dKey(x, sortedVals, keys)` → key of
  * the nearest axis value (null on null/empty inputs). Codegen is one
  * static call to the binary-search kernel inside the fused span.
  */
case class Nearest1dKey(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, ArrayType(DoubleType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest1d_key"

  override protected def nullSafeEval(x: Any, vals: Any, keys: Any): Any = {
    val v = vals.asInstanceOf[ArrayData]
    if (v.numElements() == 0) null
    else Nearest1d.nearestKey(x.asInstanceOf[Double], v, keys.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, vals, keys) =>
      s"""
         |if ($vals.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.fn.Nearest1d.nearestKey($x, $vals, $keys);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
