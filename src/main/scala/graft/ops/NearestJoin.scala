package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J1 nearest-neighbor grid snap (SURVEY.md §2.3).
  *
  * The reference brute-force argmins over the *entire* lat×lon grid per
  * track point (`location_to_index`, trackplot_hycom.py:67-86 — ~9M
  * distance evals/point at GLBu0.08 scale). Two scalable formulations:
  *
  *  - [[snapRegular]]: O(1) arithmetic snap for a regular axis — no
  *    shuffle, no join, pure codegen'd arithmetic. This is the plan that
  *    survives 100 TB: each row computes its own grid index.
  *  - [[nearest1d]]: general (irregular axis) broadcast sorted axis +
  *    per-row binary search, O(N·log |axis|). Because the two axes are
  *    independent the 2-D argmin factorizes into two 1-D argmins (never
  *    the O(N·|grid-cells|) cross join).
  *
  * Tie semantics: the reference keeps the *first* (lowest-index) argmin
  * on exact ties (strict `<` at trackplot_hycom.py:80); both variants
  * reproduce that deterministically (round-half-DOWN midpoint for the
  * regular snap — an exact midpoint keeps the lower index; the lower
  * key at a midpoint for the binary search).
  */
object NearestJoin {

  /** Arithmetic snap of `coord` onto the regular axis
    * `origin + i*step, i in [0, n)`: adds `{prefix}_idx` (clamped to the
    * axis range) and `{prefix}_snap` (the axis value). O(1)/row. A null,
    * NaN or infinite `coord` gets a null index and snap, so the stencil
    * drops that row instead of profiling the grid corner.
    */
  def snapRegular(df: DataFrame, coord: Column, origin: Double, step: Double,
                  n: Int, prefix: String): DataFrame = {
    // ceil(x - 0.5) = round-half-down: an exact midpoint between two
    // axis nodes snaps to the LOWER index, matching the reference's
    // strict-< first-argmin tie-break (trackplot_hycom.py:80). The clamp
    // runs in double before the int cast, which would overflow on a
    // coordinate far outside the axis.
    val pos = (coord - lit(origin)) / lit(step) - lit(0.5)
    val finite = !isnan(coord) && abs(coord) =!= lit(Double.PositiveInfinity)
    val idx = when(finite, ceil(least(greatest(pos, lit(0.0)), lit(n - 1.0))).cast("int"))
    df.withColumn(s"${prefix}_idx", idx)
      .withColumn(s"${prefix}_snap", lit(origin) + col(s"${prefix}_idx") * lit(step))
  }

  /** Big-fact × dim 1-D nearest join via a broadcast SORTED axis +
    * per-row binary search ([[graft.fn.Nearest1dKey]]) — O(N·log m)
    * with NO shuffle of the fact side at all (vs a cross join's
    * O(N·m) distance evals + full-relation shuffle). The axis is
    * reduced to one row of sorted parallel arrays with a distributed
    * aggregation (duplicate values pre-reduced to their min key, so
    * the kernel's midpoint tie-break reproduces
    * `min_by(struct(key), struct(dist, key))` exactly); that one row
    * broadcasts and the lookup fuses into the fact scan's codegen
    * span. Bound: the axis must fit in one task / the broadcast
    * (dim-table scale, the same bound any broadcast join has).
    *
    * This surfaced from the sf1 scale probe: the cross-join argmin
    * formulation was 45 s at sf1 (150k × 10k) and quadratic beyond;
    * this plan is linear in the fact side.
    */
  def nearest1d(df: DataFrame, coord: Column, axis: DataFrame,
                axisKey: String, axisVal: String, out: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val packed = axis
      // null axis values would sort first and read back as 0.0 through
      // ArrayData.getDouble, silently breaking the ascending invariant
      // the binary search needs — drop them (the cross-join min_by
      // formulation this replaces ignored null distances the same way)
      .filter(col(axisVal).isNotNull)
      .groupBy(col(axisVal).cast("double").as("__v"))
      .agg(min(col(axisKey).cast("long")).as("__k"))
      .agg(sort_array(collect_list(struct(col("__v"), col("__k")))).as("__s"))
      .select(col("__s.__v").as("__vals"), col("__s.__k").as("__keys"))
    df.crossJoin(broadcast(packed))
      .withColumn(out, gb.column(graft.fn.Nearest1dKey(
        gb.expression(coord.cast("double")),
        gb.expression(col("__vals")), gb.expression(col("__keys")))))
      .drop("__vals", "__keys")
  }
}
