package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic HYCOM-like grid (FIXTURES.md §2).
  *
  * No model data is committed in the reference (remote OPeNDAP only,
  * trackplot_hycom.py:144), so grid fixtures are generated: a smooth
  * analytic field over regular axes, long-format relational encoding
  * (SURVEY.md §1.3), with null "land" cells and `-30000` sentinel cells
  * so scan-time cleanup (P4) is observable.
  *
  * Generation is fully distributed: `spark.range` over the cell count,
  * coordinates derived by integer arithmetic — no driver-side
  * materialization, so the same generator scales to arbitrarily large
  * grids.
  */
object SyntheticGrid {

  /** HYCOM-like depth levels, 27 entries (> 25 so the `:25` truncation
    * at trackplot_hycom.py:148 is observable).
    */
  val DefaultDepths: Seq[Double] = Seq(
    0, 2, 4, 6, 8, 10, 12, 15, 20, 25, 30, 35, 40, 45, 50,
    60, 70, 80, 90, 100, 125, 150, 200, 250, 300, 350, 400).map(_.toDouble)

  /** Times covering the first al092016 fixes: 145770 = 2016-08-17T18Z. */
  val DefaultTimes: Seq[Long] = Seq(145770L, 145776L, 145782L, 145788L)

  final case class GridSpec(
      latMin: Double, latStep: Double, nLat: Int,
      lonMin: Double, lonStep: Double, nLon: Int,
      depths: Seq[Double] = DefaultDepths,
      times: Seq[Long] = DefaultTimes)

  /** [[GridSpec]] from raw 1-D coordinate axes — the one place the
    * axis validation lives (every axis non-empty, lat/lon uniform);
    * [[Nc3.gridSpecOf]] derives a file's spec here.
    */
  def specFromAxes(times: Seq[Long], depths: Seq[Double],
                   lats: Array[Double], lons: Array[Double]): GridSpec = {
    Seq("time" -> times.size, "depth" -> depths.size,
      "lat" -> lats.length, "lon" -> lons.length).foreach { case (what, n) =>
      require(n > 0, s"$what axis is empty")
    }
    def uniformStep(a: Array[Double], what: String): Double = {
      if (a.length < 2) return 1.0
      val step = a(1) - a(0)
      a.sliding(2).foreach { w =>
        require(math.abs((w(1) - w(0)) - step) < 1e-6, s"$what axis not uniform")
      }
      step
    }
    GridSpec(lats.head, uniformStep(lats, "lat"), lats.length,
      lons.head, uniformStep(lons, "lon"), lons.length, depths, times)
  }

  /** GLBu0.08-like axes over the al092016 bbox (lat 10-40, lon 270-345
    * in [0,360)), at a configurable step (0.08° = real resolution;
    * coarser for fast smoke runs).
    */
  def hermineSpec(step: Double = 0.08): GridSpec = GridSpec(
    latMin = 10.0, latStep = step, nLat = (30.0 / step).toInt + 1,
    lonMin = 270.0, lonStep = step, nLon = (75.0 / step).toInt + 1)

  /** Analytic water-temp field — smooth in all four coordinates so IDW
    * answers are hand-computable in tests.
    */
  private def tempExpr =
    lit(25.0) - lit(0.05) * col("depth") +
      lit(2.0) * sin(col("lat") / 5.0) + cos(col("lon") / 10.0) +
      lit(0.01) * (col("time") % 1000).cast("double")

  private def salExpr =
    lit(35.0) + lit(0.002) * col("depth") +
      lit(0.5) * cos(col("lat") / 7.0) + lit(0.3) * sin(col("lon") / 13.0)

  /** Generate the long-format grid. Row count =
    * nLat*nLon*|depths|*|times|; every cell's value is a pure function of
    * its integer cell id, so the output is deterministic regardless of
    * partitioning.
    *
    * Masking: cells where `(lat_idx*31 + lon_idx*17) % 23 == 0` are land
    * (null); `% 23 == 1` carry the raw sentinel `-30000` (cleaned at
    * scan by [[cleanSentinels]], mirroring nb:40's `> -4` test).
    */
  def generate(spark: SparkSession, spec: GridSpec, partitions: Int = 32): DataFrame = {
    val nD = spec.depths.size
    val nT = spec.times.size
    val cells = spec.nLat.toLong * spec.nLon * nD * nT
    val depthArr = array(spec.depths.map(lit): _*)
    val timeArr = array(spec.times.map(lit): _*)

    spark.range(0, cells, 1, partitions)
      .withColumn("t_idx", (col("id") % nT).cast("int"))
      .withColumn("depth_idx", ((col("id") / nT) % nD).cast("int"))
      .withColumn("lon_idx", ((col("id") / (nT.toLong * nD)) % spec.nLon).cast("int"))
      .withColumn("lat_idx", (col("id") / (nT.toLong * nD * spec.nLon)).cast("int"))
      .withColumn("time", element_at(timeArr, col("t_idx") + 1))
      .withColumn("depth", element_at(depthArr, col("depth_idx") + 1))
      .withColumn("lat", lit(spec.latMin) + col("lat_idx") * spec.latStep)
      .withColumn("lon", lit(spec.lonMin) + col("lon_idx") * spec.lonStep)
      .withColumn("__mask", (col("lat_idx") * 31 + col("lon_idx") * 17) % 23)
      .withColumn("water_temp",
        when(col("__mask") === 0, lit(null).cast("double"))
          .when(col("__mask") === 1, lit(-30000.0))
          .otherwise(tempExpr))
      .withColumn("salinity",
        when(col("__mask") === 0, lit(null).cast("double"))
          .otherwise(salExpr))
      .select("time", "depth_idx", "depth", "lat_idx", "lat",
              "lon_idx", "lon", "water_temp", "salinity")
  }

  /** P4 sentinel→null cleanup, applied ONCE at scan (the reference does
    * it three inconsistent ways — SURVEY.md §2.9 decision 2; the `> -4`
    * threshold is nb:40,324,446). NaN never enters the engine
    * (SURVEY.md §7.4 trap 1).
    */
  def cleanSentinels(df: DataFrame, cols: Seq[String] = Seq("water_temp", "salinity")): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c) > -4.0 && !isnan(col(c)), col(c))))

  /** The fewest rows [[writeGrid]] puts in one file: one vectorized
    * parquet read batch (`spark.sql.parquet.columnarReaderBatchSize`).
    */
  private val MinRowsPerFile = 4096L

  /** Write as the engine's canonical grid layout: parquet partitioned by
    * `time` (→ partition pruning replaces the reference's per-experiment
    * OPeNDAP catalog probe, SURVEY.md §2.1 S4/S7), rows sorted by
    * (lat_idx, lon_idx, depth_idx) within a time.
    *
    * Each time slice is cut into `k = defaultParallelism` files of
    * `⌈rows per slice / k⌉` rows (the writer's `maxRecordsPerFile`), so
    * the last file of a slice may be up to k − 1 rows short. Each file
    * holds a contiguous run of the sort order. A DPP-pruned read of one
    * slice then plans at least k file partitions and keeps every core
    * busy: Spark never splits a file into pieces smaller than
    * `openCostInBytes` (4 MB), so a single file of a few MB per slice,
    * whatever its row groups, would read as one or two uneven tasks. A
    * file never holds fewer than 4,096 rows (one vectorized batch), so a
    * tiny grid keeps fewer, fuller files.
    *
    * Rows per slice are counted first, over the `time` column alone, so
    * column pruning keeps the value expressions of [[generate]] out of
    * that count. Only the `time` partitions prune: each file's min/max
    * stats still span a band of the index box.
    */
  def writeGrid(df: DataFrame, path: String): Unit = {
    val k = df.sparkSession.sparkContext.defaultParallelism
    // k count tasks, not one per input partition: the count reads only
    // the `time` column, so per-task overhead is most of its cost
    val perSlice = df.select("time").coalesce(k).groupBy("time").count()
      .collect().map(_.getLong(1)).foldLeft(0L)(math.max)
    writeGrid(df, path, perSlice)
  }

  /** [[writeGrid]] for a caller that already knows the rows of the
    * largest time slice, so no count runs over `df`.
    */
  private[io] def writeGrid(df: DataFrame, path: String, rowsPerSlice: Long): Unit = {
    val k = df.sparkSession.sparkContext.defaultParallelism
    val perFile = math.max(MinRowsPerFile, (rowsPerSlice + k - 1) / k)
    df.repartition(col("time"))
      // `time` first meets the partitioned writer's required ordering,
      // so the writer adds no sort of its own
      .sortWithinPartitions("time", "lat_idx", "lon_idx", "depth_idx")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", perFile)
      .partitionBy("time")
      .parquet(path)
  }
}
