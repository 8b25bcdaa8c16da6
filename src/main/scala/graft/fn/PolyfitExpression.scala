package graft.fn

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Normal-equation solver kernel behind [[graft.ops.Polyfit]]:
  * given power moments S₀…S₂d and right-hand side T₀…T_d, solve the
  * symmetric Hankel system M c = T (M[i][j] = S_{i+j}) by Gaussian
  * elimination with partial pivoting. Degree is implied by the rhs
  * length. Singular systems (degenerate x, e.g. all points equal)
  * return null rather than garbage coefficients.
  */
object PolyfitKernel {
  def solve(moments: ArrayData, rhs: ArrayData): ArrayData = {
    val n = rhs.numElements()
    if (moments.numElements() != 2 * n - 1) return null
    // augmented matrix [M | T]
    val a = Array.ofDim[Double](n, n + 1)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { a(i)(j) = moments.getDouble(i + j); j += 1 }
      a(i)(n) = rhs.getDouble(i)
      i += 1
    }
    var col = 0
    while (col < n) {
      // partial pivot
      var p = col; var best = math.abs(a(col)(col))
      var r = col + 1
      while (r < n) {
        val v = math.abs(a(r)(col)); if (v > best) { best = v; p = r }; r += 1
      }
      if (best == 0.0 || best.isNaN) return null // singular
      if (p != col) { val tmp = a(p); a(p) = a(col); a(col) = tmp }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        var j = col
        while (j <= n) { a(r)(j) -= f * a(col)(j); j += 1 }
        r += 1
      }
      col += 1
    }
    val c = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = a(i)(n)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * c(j); j += 1 }
      c(i) = s / a(i)(i)
      i -= 1
    }
    new GenericArrayData(c)
  }
}

/** SQL-facing wrapper — one static kernel call per GROUP inside the
  * post-aggregation projection's codegen span.
  */
case class PolyfitSolve(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def prettyName: String = "polyfit_solve"

  override protected def kernel: Expression =
    Kernel.call(PolyfitKernel, "solve", ArrayType(DoubleType, containsNull = false), left, right)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
