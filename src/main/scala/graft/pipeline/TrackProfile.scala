package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fn.GeoFns
import graft.io.SyntheticGrid.GridSpec
import graft.ops.{AsofJoin, GatherKey, NearestJoin, Stencil, Idw}

/** §3.1 flagship query: the HYCOM depth/time profile along a hurricane
  * track — the reference's whole `trackplot_hycom.py` main path,
  * restated as one lazy Spark plan:
  *
  *   track → as-of time (J2) → NN snap (J1) → 3×3 stencil (J3)
  *         → vincenty distances (F4) → grid gather join (J4)
  *         → depth truncation (P5) → IDW per (point, depth) (A1)
  *
  * Scale shape: the track side stays tiny after the stencil expansion
  * (|track|·9 rows) and is BROADCAST into the join against the grid —
  * the grid (the 100 TB side) is never shuffled. The track side has no
  * exchange either ([[graft.io.TrackReader]] numbers fixes on one
  * partition), so the IDW aggregate's is the plan's only shuffle, and an
  * op runs as three jobs: the broadcast build, the scan with the partial
  * aggregate, and the final aggregate with the sort. Dynamic Partition
  * Pruning on the `time` partition column skips every time the track
  * does not touch; within a touched time the scan reads every cell
  * (`depth_idx < maxDepthLevels` is the only data-column filter that
  * drops rows). [[graft.io.SyntheticGrid.writeGrid]] writes each slice
  * as one file per core, so even a single touched slice is scanned by
  * every core. The reference instead reads one OPeNDAP hyperslab per
  * point (trackplot_hycom.py:110).
  *
  * Both measures (water_temp + salinity) aggregate in ONE pass — the
  * notebook re-runs the whole pipeline per variable (SURVEY.md §3.2).
  */
object TrackProfile {

  final case class Config(
      interp: String = "idw",          // "idw" | "nearest" (§2.9 item 4)
      distance: String = "vincenty",   // "vincenty" | "haversine"
      maxDepthLevels: Int = 25) {      // P5 (trackplot_hycom.py:148)
    require(Config.Interps.contains(interp),
      s"unknown interp '$interp': expected one of ${Config.Interps.mkString(", ")}")
    require(Config.Distances.contains(distance),
      s"unknown distance '$distance': expected one of ${Config.Distances.mkString(", ")}")
    require(maxDepthLevels > 0, s"maxDepthLevels must be positive, got $maxDepthLevels")
  }

  object Config {
    val Interps: Seq[String] = Seq("idw", "nearest")
    val Distances: Seq[String] = Seq("vincenty", "haversine")
  }

  /** @param track  canonical track (point_id, hour, lat, lon, ...)
    * @param grid   long-format grid (Schemas.gridSchema), sentinels
    *               already cleaned (SyntheticGrid.cleanSentinels)
    * @param spec   the grid's regular-axis geometry (enables the O(1)
    *               arithmetic snap)
    */
  def profile(track: DataFrame, grid: DataFrame, spec: GridSpec,
              cfg: Config = Config()): DataFrame = {

    // J2: nearest grid time per fix — a per-row binary search over the
    // time axis, read on the driver at plan time (no job, no shuffle).
    // A fix with a null hour gets a null gtime_t and the gather join
    // drops it.
    val withTime = AsofJoin.nearestBroadcast(track, Seq("point_id"), "hour",
      timeAxis(track.sparkSession, spec), "t_idx", "t_val", "gtime")

    // J1: O(1) arithmetic snap onto the regular lat/lon axes
    val snappedLat = NearestJoin.snapRegular(
      withTime, col("lat"), spec.latMin, spec.latStep, spec.nLat, "glat")
    val snapped = NearestJoin.snapRegular(
      snappedLat, col("lon"), spec.lonMin, spec.lonStep, spec.nLon, "glon")

    // J3: 3×3 stencil expansion (explode — no shuffle)
    val stencil = Stencil.expand(snapped, "glat_idx", "glon_idx",
        spec.nLat, spec.nLon)
      .withColumn("n_lat", lit(spec.latMin) + col("n_i") * spec.latStep)
      .withColumn("n_lon", lit(spec.lonMin) + col("n_j") * spec.lonStep)

    // F4/F5: distance fix → neighbor cell (km). Vincenty runs as the
    // native codegen expression (VincentyKm) — the one ScalaUDF that
    // used to break the flagship's whole-stage-codegen span is gone.
    val distCol = cfg.distance match {
      case "haversine" =>
        GeoFns.haversineKm(col("lat"), col("lon"), col("n_lat"), col("n_lon"))
      case "vincenty" =>
        GeoFns.vincentyKmNative(col("lat"), col("lon"), col("n_lat"), col("n_lon"))
    }
    val withDist = stencil.withColumn("d_km", distCol)
      .select("point_id", "hour", "gtime_t", "n_i", "n_j", "d_km")

    // J4: the stencil cells' grid rows, joined on one packed long key
    val gathered = gather(withDist, grid, spec, cfg)

    // A1: IDW (or nearest) per (point, depth) — multi-measure, one pass
    val (tempAgg, salAgg) = cfg.interp match {
      case "nearest" =>
        (Idw.nearestValue(col("water_temp"), col("d_km")),
         Idw.nearestValue(col("salinity"), col("d_km")))
      case "idw" =>
        (Idw.idw(col("water_temp"), col("d_km")),
         Idw.idw(col("salinity"), col("d_km")))
    }
    gathered
      .groupBy(col("point_id"), col("hour"), col("gtime_t").as("grid_time"),
               col("depth_idx"), col("depth"))
      .agg(tempAgg.as("water_temp"), salAgg.as("salinity"))
      // presentation-only global sort: the profile is ~|track|·25 rows
      // (2 000 for Hermine) regardless of grid size, so one partition
      // sorts it. coalesce(1) + a local sort gives the same global order
      // as orderBy without its range exchange, whose sampling job would
      // run the IDW aggregate a second time
      .coalesce(1)
      .sortWithinPartitions("point_id", "depth_idx")
  }

  /** J4 gather: the grid rows of every stencil cell, depth-truncated
    * (P5, pushed into the grid scan), joined to the stencil rows that
    * name them. The tiny stencil side is broadcast so the grid side never
    * shuffles. The join key is the cell's (time, lat_idx, lon_idx) packed
    * into one long by [[GatherKey]], so Spark builds a `LongHashedRelation`
    * and probes it with a long hash, not an UnsafeRow.
    *
    * The time key reads only the `time` partition column, so Dynamic
    * Partition Pruning skips every untouched `time` partition at scan
    * time.
    *
    * @param stencil rows with `gtime_t` (a time of `spec.times`), `n_i`,
    *                `n_j`; cells outside the spec's box match nothing
    */
  def gather(stencil: DataFrame, grid: DataFrame, spec: GridSpec,
             cfg: Config = Config()): DataFrame = {
    val key = GatherKey(spec)
    val gridCell = GatherKey.Cell(grid("time"), grid("lat_idx"), grid("lon_idx"))
    val stencilCell = GatherKey.Cell(stencil("gtime_t"), stencil("n_i"), stencil("n_j"))
    grid
      .filter(col("depth_idx") < cfg.maxDepthLevels && key.inBox(gridCell))
      .join(broadcast(stencil.filter(key.inBox(stencilCell))),
        key.joinOn(gridCell, stencilCell))
  }

  /** The grid time axis as an (`t_idx`, `t_val`) local table, the J2
    * right side of [[profile]].
    */
  def timeAxis(spark: SparkSession, spec: GridSpec): DataFrame =
    spark.createDataFrame(spec.times.zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("t_idx", "t_val")
}
