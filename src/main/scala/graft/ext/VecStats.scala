package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{graftbridge => gb}

/** Second-moment statistics and PCA whitening for embedding columns —
  * the preprocessing a semantic-dedup / retrieval pipeline runs
  * before cosine work (SVD-whitened embeddings cluster and dedup
  * measurably better; the operator family every vector curation
  * recipe needs at 100 TB).
  *
  * Scale shape: the WHOLE corpus contributes through ONE aggregate
  * pass — each row's packed upper-triangle outer product (d(d+1)/2
  * doubles for dim d) accumulates into a per-task state with map-side
  * partials, so the driver receives exactly (1 + d + d(d+1)/2)
  * doubles no matter how many rows flowed. Eigen-decomposition happens on the
  * driver's d×d matrix (dim-sized model state, same order as any
  * broadcast centroid matrix), and whitening re-enters the plan as a
  * narrow literal-matrix projection: w·(x−μ) = w·x − w·μ with the
  * second term constant-folded. No corpus bytes move twice.
  */
object VecStats {

  /** (n, Σx, Σx⊗x packed upper triangle) in one aggregate job, via
    * the FUSED [[graft.fn.VecMomentsAgg]] — one O(d²) state per task,
    * rows accumulate straight from their ArrayData with no per-row
    * outer-product materialization (a per-row outer product summed by
    * a separate aggregate allocates d(d+1)/2 doubles per row only to
    * reduce them away — 16 KB/row at d = 64, q113's measured
    * 2.2×-of-oracle cost at sf10). Vectors must be non-null
    * and uniform dim (caller filters; mixed dims fail loudly).
    */
  def moments(df: DataFrame, vecCol: Column): (Long, Array[Double], Array[Double]) = {
    val agg = gb.column(graft.fn.VecMomentsAgg(gb.expression(vecCol))
      .toAggregateExpression())
    val row = df.agg(agg.as("m")).selectExpr("m.n", "m.sx", "m.sxx").collect()(0)
    if (row.getLong(0) == 0L) return (0L, Array.empty, Array.empty)
    (row.getLong(0),
      row.getSeq[Double](1).toArray,
      row.getSeq[Double](2).toArray)
  }

  /** Mean vector and POPULATION covariance matrix (d×d, symmetric):
    * cov(i,j) = Σ(x_i·x_j)/n − μ_i·μ_j.
    */
  def meanCovariance(df: DataFrame, vecCol: Column): (Long, Array[Double], Array[Array[Double]]) = {
    val (n, sx, sxx) = moments(df, vecCol)
    if (n == 0) return (0L, Array.empty, Array.empty)
    val d = sx.length
    val mu = sx.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = sxx(k) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        k += 1; j += 1
      }
      i += 1
    }
    (n, mu, cov)
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi
    * rotations (Golub & Van Loan §8.5 — driver-side, d ≲ a few
    * thousand): returns (eigenvalues, eigenvectors as ROWS), sorted
    * by eigenvalue DESCENDING, each vector sign-normalized so its
    * largest-|·| component is positive (a deterministic convention —
    * eigenvectors are otherwise sign-ambiguous and cross-run
    * comparisons would flap).
    */
  def jacobiEigen(mat: Array[Array[Double]],
                  maxSweeps: Int = 64, tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = mat.length
    val a = Array.tabulate(d, d)((i, j) => mat(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += 2 * a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      math.sqrt(s)
    }

    var sweep = 0
    while (sweep < maxSweeps && offNorm() > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else 1.0 / (theta - math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            // A ← JᵀAJ: rotate columns p,q then rows p,q
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }

    val order = (0 until d).sortBy(i => -a(i)(i))
    val eig = order.map(i => a(i)(i)).toArray
    val vecs = order.map { col =>
      val row = Array.tabulate(d)(i => v(i)(col))
      var bi = 0
      var i = 1
      while (i < d) { if (math.abs(row(i)) > math.abs(row(bi))) bi = i; i += 1 }
      if (row(bi) < 0) row.map(-_) else row
    }.toArray
    (eig, vecs)
  }

  /** PCA-whitening projection to the top `k` components:
    * out_r = (u_r·x − u_r·μ)/√(λ_r + eps). The corpus pass computes
    * (μ, Σ) once (one aggregate), eigen runs on the driver, and the
    * projection is a NARROW per-row expression over literal rows —
    * scoring a 100 TB corpus moves zero extra bytes. Returns
    * (idCol, whitened array<double> length k) plus the model for
    * callers that whiten OTHER frames with these statistics.
    */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String, k: Int,
                eps: Double = 1e-9): (DataFrame, Array[Double], Array[Array[Double]]) = {
    require(k >= 1, s"need at least one component, got $k")
    val (n, mu, cov) = meanCovariance(df, col(vecCol))
    require(n > 0, "cannot whiten an empty corpus")
    require(k <= mu.length, s"k=$k exceeds dim ${mu.length}")
    val (eig, vecs) = jacobiEigen(cov)
    val rows = (0 until k).map { r =>
      val scale = 1.0 / math.sqrt(math.max(eig(r), 0.0) + eps)
      vecs(r).map(_ * scale)
    }
    val proj = (0 until k).map { r =>
      val w = rows(r)
      val bias = (w, mu).zipped.map(_ * _).sum
      (SimJoin.dotConst(col(vecCol), w.toSeq) - lit(bias)).as(s"w$r")
    }
    val out = df.select(col(idCol), array(proj: _*).as("whitened"))
    (out, eig.take(k), rows.toArray)
  }
}
