package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.fn.{GeoFns, TimeFns}
import graft.io.SyntheticGrid.GridSpec
import graft.ops.{AsofJoin, Idw, NearestJoin}
import graft.pipeline.TrackProfile

/** The flagship track-profile pipeline on a STREAM of track fixes
  * (SURVEY.md §2.8 north-star): same semantics as
  * pipeline.TrackProfile (as-of time snap → NN snap → 3×3 stencil →
  * IDW over non-null neighbors), restructured so every step is
  * STATELESS on the stream side — one stream-static equi-join, no
  * streaming aggregation, no watermark requirement, append-mode safe.
  *
  * The restructuring trades space for state: [[neighborhoodIndex]]
  * precomputes, per (time, cell, depth), the 3×3 neighborhood's
  * values as ONE array column (a materialized join index — 9× the
  * grid's value bytes, built once per grid delivery batch-side).
  * The stream then:
  *
  *   fix → hour (F1) → nearest grid time (plan-time sorted time axis,
  *   per-row binary search) → O(1) arithmetic cell snap (J1) → equi-join
  *   the index on (time, lat_idx, lon_idx) → per-row IDW fold over
  *   the 9-element array (A1) → explode depths
  *
  * A per-(point, depth) groupBy — the batch formulation — would be a
  * streaming aggregation: state keyed by every track point ever seen,
  * emission gated on watermarks. The index join emits each enriched
  * fix the moment it arrives.
  */
object TrackStream {

  /** Materialized 3×3 neighborhood index: one row per
    * (time, lat_idx, lon_idx, depth_idx) with `neigh` =
    * array of (di, dj, water_temp, salinity) for the up-to-9
    * in-bounds neighbors. Built from the long grid by the inverse
    * stencil (each cell CONTRIBUTES to its neighbors' arrays — an
    * explode + groupBy, one shuffle).
    */
  def neighborhoodIndex(grid: DataFrame, spec: GridSpec): DataFrame = {
    val offsets = array((for (di <- -1 to 1; dj <- -1 to 1)
      yield struct(lit(di).as("di"), lit(dj).as("dj"))): _*)
    grid
      .withColumn("__o", explode(offsets))
      // this cell is the (−di, −dj) neighbor of the center it lands on
      .withColumn("c_i", col("lat_idx") + col("__o.di"))
      .withColumn("c_j", col("lon_idx") + col("__o.dj"))
      .filter(col("c_i") >= 0 && col("c_i") < spec.nLat &&
              col("c_j") >= 0 && col("c_j") < spec.nLon)
      .groupBy(col("time"), col("c_i").as("lat_idx"), col("c_j").as("lon_idx"),
        col("depth_idx"), col("depth"))
      .agg(collect_list(struct(
        (-col("__o.di")).as("di"), (-col("__o.dj")).as("dj"),
        col("water_temp").as("wt"), col("salinity").as("sal"))).as("neigh"))
  }

  /** TRACK-SCOPED index build (VERDICT r2 item 4): the full-grid
    * [[neighborhoodIndex]] shuffles 9× the grid's value bytes — a ~PB
    * shuffle at 100 TB — yet a fleet's fixes only ever touch a tiny
    * fraction of (time, tile) space. This variant derives the touched
    * scope from a batch frame of known/planned fixes (historical
    * tracks, forecast cones — the same side-input the batch flagship
    * prunes with) and builds the index ONLY for those cells:
    *
    *  1. snap the scope fixes → distinct touched centers
    *     (grid_time, lat_idx, lon_idx) — metadata-scale;
    *  2. expand the 3×3 halo (cells whose values the centers need);
    *  3. semi-join the grid on (time, tile) FIRST — on the tiled
    *     parquet layout both are partition columns, so Dynamic
    *     Partition Pruning skips untouched files at scan time (the
    *     same DPP idea the batch flagship uses, asserted in
    *     TrackStreamSpec) — then on exact (time, lat_idx, lon_idx);
    *  4. run the inverse-stencil build on the pruned slice and keep
    *     only touched centers.
    *
    * The 9× explode now applies to O(touched cells), not O(grid).
    * Streamed fixes OUTSIDE the scope simply find no index row (inner
    * join drops them) — widen the scope frame, not the grid.
    */
  def neighborhoodIndexScoped(grid: DataFrame, spec: GridSpec,
                              scopeFixes: DataFrame,
                              tileSize: Int = 32): DataFrame = {
    import graft.io.SyntheticGrid.tileId
    val centers = snapFixes(scopeFixes, spec)
      .select(col("grid_time").as("time"),
        col("glat_idx").as("lat_idx"), col("glon_idx").as("lon_idx"))
      .distinct()
    val offsets = array((for (di <- -1 to 1; dj <- -1 to 1)
      yield struct(lit(di).as("di"), lit(dj).as("dj"))): _*)
    val halo = centers
      .withColumn("__o", explode(offsets))
      .select(col("time"),
        (col("lat_idx") + col("__o.di")).as("lat_idx"),
        (col("lon_idx") + col("__o.dj")).as("lon_idx"))
      .filter(col("lat_idx") >= 0 && col("lat_idx") < spec.nLat &&
              col("lon_idx") >= 0 && col("lon_idx") < spec.nLon)
      .distinct()
    val haloTiles = halo
      .select(col("time"), tileId(col("lat_idx"), col("lon_idx"), tileSize).as("tile"))
      .distinct()
    // broadcast is safe by construction here: both sides are bounded
    // by fleet activity (≤ 9 × distinct snapped fixes), not by grid
    // or corpus size
    val withTile =
      if (grid.columns.contains("tile")) grid
      else grid.withColumn("tile", tileId(col("lat_idx"), col("lon_idx"), tileSize))
    val pruned = withTile
      .join(broadcast(haloTiles), Seq("time", "tile"), "left_semi")
      .join(broadcast(halo), Seq("time", "lat_idx", "lon_idx"), "left_semi")
      .drop("tile")
    neighborhoodIndex(pruned, spec)
      .join(broadcast(centers), Seq("time", "lat_idx", "lon_idx"), "left_semi")
  }

  /** IDW over the neighborhood array for one measure: null neighbors
    * contribute neither value nor weight (Idw.idw semantics), weights
    * 1/(d+eps)² with d = vincenty km from the fix to each neighbor's
    * cell center. 9-element folds — small enough that the interpreted
    * higher-order evaluation is irrelevant.
    */
  private def idwOverArray(valueOf: Column => Column, dKm: Column => Column): Column = {
    val num = aggregate(col("neigh"), lit(0.0),
      (acc, x) => acc + when(valueOf(x).isNotNull,
        valueOf(x) / pow(dKm(x) + Idw.Eps, 2)).otherwise(0.0))
    val den = aggregate(col("neigh"), lit(0.0),
      (acc, x) => acc + when(valueOf(x).isNotNull,
        lit(1.0) / pow(dKm(x) + Idw.Eps, 2)).otherwise(0.0))
    when(den > 0, num / den)
  }

  /** Fix → (grid_time, glat_idx, glon_idx) snap: nearest grid time
    * through the batch flagship's own as-of lookup
    * ([[graft.ops.AsofJoin.nearest]] over the same time axis: a
    * plan-time literal axis, per-row binary search, first-index ties —
    * reference first-argmin, trackplot_hycom.py:194), then O(1)
    * arithmetic cell snap (J1). Shared by [[profile]] and the scope
    * computation in [[neighborhoodIndexScoped]] so both use identical
    * snapping.
    */
  private def snapFixes(fixes: DataFrame, spec: GridSpec): DataFrame = {
    val (_, gridTime) = AsofJoin.nearest(col("hour"),
      TrackProfile.timeAxis(fixes.sparkSession, spec), "t_idx", "t_val")
    NearestJoin.snapRegular(
      NearestJoin.snapRegular(
        fixes.withColumn("hour", TimeFns.hoursSince2000(col("ts")))
          .withColumn("grid_time", gridTime),
        col("lat"), spec.latMin, spec.latStep, spec.nLat, "glat"),
      col("lon"), spec.lonMin, spec.lonStep, spec.nLon, "glon")
  }

  /** Enrich a stream (or batch frame — same code) of track fixes with
    * the IDW depth profile. `fixes` needs (point_id, ts, lat, lon)
    * with lon already wrapped; output one row per (fix × depth).
    */
  def profile(fixes: DataFrame, index: DataFrame, spec: GridSpec,
              maxDepthLevels: Int = 25): DataFrame = {
    val idx = index.filter(col("depth_idx") < maxDepthLevels) // P5
    val snapped = snapFixes(fixes, spec)

    val nLat = (x: Column) => lit(spec.latMin) + (col("glat_idx") + x.getField("di")) * spec.latStep
    val nLon = (x: Column) => lit(spec.lonMin) + (col("glon_idx") + x.getField("dj")) * spec.lonStep
    val dKm = (x: Column) => GeoFns.vincentyKmNative(col("lat"), col("lon"), nLat(x), nLon(x))

    snapped.join(idx,
        snapped("grid_time") === idx("time") &&
        snapped("glat_idx") === idx("lat_idx") &&
        snapped("glon_idx") === idx("lon_idx"))
      .select(col("point_id"), col("hour"), col("grid_time"),
        col("depth_idx"), col("depth"),
        idwOverArray(_.getField("wt"), dKm).as("water_temp"),
        idwOverArray(_.getField("sal"), dKm).as("salinity"))
  }
}
