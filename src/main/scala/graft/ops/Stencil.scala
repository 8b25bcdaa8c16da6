package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J3 stencil / neighborhood-expansion join (SURVEY.md §2.3).
  *
  * The reference expands each snapped grid node to its 3×3 neighborhood
  * by index offsets in [-1,1]² (`nearest_neighbors`,
  * trackplot_hycom.py:59-65). Relationally this is a generator —
  * `explode` over a literal offset array: zero shuffle, stays inside
  * whole-stage codegen, output is 9× the input rows.
  *
  * Boundary semantics: the reference's numpy indexing would *wrap*
  * index -1 to the last grid cell (a silent bug near axis edges); we
  * instead drop out-of-bounds neighbors — a documented deliberate
  * deviation (SURVEY.md §2.9).
  */
object Stencil {

  /** The 9 (di, dj) offsets of the 3×3 stencil as a literal array,
    * row-major.
    */
  private def offsets = array(
    (for (di <- -1 to 1; dj <- -1 to 1) yield
      struct(lit(di).as("di"), lit(dj).as("dj"))): _*)

  /** Expand each row into its 3×3 neighborhood around (`iCol`,`jCol`);
    * adds `n_i`, `n_j` neighbor indices, drops out-of-bounds neighbors
    * given axis sizes.
    */
  def expand(df: DataFrame, iCol: String, jCol: String,
             ni: Int, nj: Int): DataFrame =
    df.withColumn("__o", explode(offsets))
      .withColumn("n_i", col(iCol) + col("__o.di"))
      .withColumn("n_j", col(jCol) + col("__o.dj"))
      .drop("__o")
      .filter(col("n_i") >= 0 && col("n_i") < ni &&
              col("n_j") >= 0 && col("n_j") < nj)
}
