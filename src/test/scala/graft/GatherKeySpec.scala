package graft

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.io.SyntheticGrid.{GridSpec, tileId}
import graft.ops.GatherKey
import graft.pipeline.TrackProfile

/** The J4 gather on one packed long key ([[GatherKey]]) against the
  * gather it replaced — an equi-join on the raw (time, lat_idx, lon_idx)
  * columns, plus `tile` on a tiled layout — over seeded random grids:
  * random axes and time axes, stencil cells on the edges, null grid
  * times, and grid rows outside the spec's time range, index box or tile
  * set that a naive narrowing to int keys would alias onto real cells.
  */
class GatherKeySpec extends SparkSpec {
  import spark.implicits._

  private val GridCols = Seq("time", "depth_idx", "depth", "lat_idx", "lat",
    "lon_idx", "lon", "water_temp", "salinity")
  private val StencilCols = Seq("point_id", "hour", "gtime_t", "n_i", "n_j", "d_km")

  /** The old gather, kept as the reference. */
  private def reference(stencil: DataFrame, grid: DataFrame,
                        cfg: TrackProfile.Config): DataFrame = {
    val tiled = grid.columns.contains("tile")
    val side =
      if (tiled) stencil.withColumn("n_tile", tileId(col("n_i"), col("n_j"), cfg.tileSize))
      else stencil
    val cond = col("time") === col("gtime_t") &&
      col("lat_idx") === col("n_i") && col("lon_idx") === col("n_j")
    grid.filter(col("depth_idx") < cfg.maxDepthLevels)
      .join(broadcast(side), if (tiled) cond && col("tile") === col("n_tile") else cond)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select((GridCols ++ StencilCols).map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  /** One random case: a spec, its grid with hostile rows, an in-box
    * stencil, and the tile size of the tiled variant.
    */
  private final case class Case(spec: GridSpec, grid: DataFrame, stencil: DataFrame,
                                tileSize: Int, maxDepth: Int)

  private def randomCase(seed: Long): Case = {
    val rnd = new SplittableRandom(seed)
    val (nLat, nLon) = (1 + rnd.nextInt(9), 1 + rnd.nextInt(9))
    val t0 = 145000L + rnd.nextInt(2000)
    val times = (0 until 1 + rnd.nextInt(4)).scanLeft(t0)((t, _) => t + 1 + rnd.nextInt(300)).tail
    val depths = Seq(0.0, 5.0, 10.0)
    val spec = GridSpec(10.0, 0.5, nLat, 270.0, 0.5, nLon, depths, times)
    val tileSize = Seq(1, 2, 3, 32)(rnd.nextInt(4))
    def value(): Option[Double] =
      if (rnd.nextInt(10) == 0) None else Some(math.round(rnd.nextDouble() * 1e6) / 1e3)
    def row(t: java.lang.Long, d: Int, i: Int, j: Int, tile: Int) =
      Row(t, d, depths(d), i, 10.0 + i * 0.5, j, 270.0 + j * 0.5,
        value().map(Double.box).orNull, value().map(Double.box).orNull, tile)
    def tileOf(i: Int, j: Int) = (i / tileSize) * 10000 + j / tileSize
    val inBox = for (t <- times; d <- depths.indices; i <- 0 until nLat; j <- 0 until nLon)
      yield row(t, d, i, j, tileOf(i, j))
    val (tMin, tMax) = (times.min, times.max)
    val tilesLon = (nLon + tileSize - 1) / tileSize
    val tilesLat = (nLat + tileSize - 1) / tileSize
    // each reads as an in-box cell under a naive (int time, int cell) or
    // (time·nTiles + tile ordinal) narrowing
    val hostile = for (t <- times; d <- depths.indices; i <- 0 until nLat; j = i % nLon) yield Seq(
      row(t, d, i, nLon, tileOf(i, nLon)),                 // (i + 1, 0)
      row(t, d, i, -1, tileOf(i, 0)),                      // (i − 1, nLon − 1)
      row(t, d, -1, j, 0),                                 // (−1, j) → cell j − nLon
      row(t, d, nLat, j, tileOf(nLat - 1, 0)),             // one row past the box
      row(tMin + (1L << 32), d, i, j, tileOf(i, j)),       // int time wraps to tMin
      row(tMin - 1, d, i, j, tileOf(i, j)),
      row(tMax + 1, d, i, j, tileOf(i, j)),
      row(null, d, i, j, tileOf(i, j)),
      // a tile ordinal of nTiles + o at time t − 1 folds to (t, o)
      row(t - 1, d, i, j, (tilesLat + i / tileSize) * 10000 + j / tileSize),
      // a lon component of tilesLon + q one tile row up reads as (i's tile row, q)
      row(t, d, i, j, (i / tileSize - 1) * 10000 + tilesLon + j / tileSize),
      row(t, d, i, j, -1))
    val gridRows = inBox ++ hostile.flatten
    val grid = spark.createDataFrame(spark.sparkContext.parallelize(gridRows, 3), gridSchema)
    // stencil cells biased to the box edges; some fixes have no grid time
    def idx(n: Int) = rnd.nextInt(4) match {
      case 0 => 0
      case 1 => n - 1
      case _ => rnd.nextInt(n)
    }
    val fixes = (0 until 40).map { p =>
      val t = if (rnd.nextInt(8) == 0) None else Some(times(rnd.nextInt(times.size)))
      (p.toLong, t.getOrElse(0L) + rnd.nextInt(3), t, idx(nLat), idx(nLon), rnd.nextDouble() * 50)
    }
    // an RDD, not a local relation: the optimizer would fold the
    // stencil-side filter into a local one, and DPP needs that filter
    val stencil = spark.sparkContext.parallelize(fixes, 2).toDF(StencilCols: _*)
    Case(spec, grid, stencil, tileSize, 1 + rnd.nextInt(3))
  }

  private lazy val gridSchema = new org.apache.spark.sql.types.StructType()
    .add("time", "long").add("depth_idx", "int").add("depth", "double")
    .add("lat_idx", "int").add("lat", "double").add("lon_idx", "int").add("lon", "double")
    .add("water_temp", "double").add("salinity", "double").add("tile", "int")

  test("packed gather == the raw 3-key join over random specs, untiled and tiled") {
    for (seed <- 1L to 12L) {
      val c = randomCase(seed)
      val cfg = TrackProfile.Config(maxDepthLevels = c.maxDepth, tileSize = c.tileSize)
      for (grid <- Seq(c.grid.drop("tile"), c.grid)) {
        val got = rows(TrackProfile.gather(c.stencil, grid, c.spec, cfg))
        val want = rows(reference(c.stencil, grid, cfg))
        assert(want.nonEmpty, s"seed $seed: empty reference")
        assert(got === want, s"seed $seed tiled=${grid.columns.contains("tile")} ${c.spec}")
      }
    }
  }

  test("over parquet layouts the packed gather still prunes partitions and matches") {
    for (seed <- Seq(21L, 22L)) {
      val c = randomCase(seed)
      val cfg = TrackProfile.Config(maxDepthLevels = c.maxDepth, tileSize = c.tileSize)
      val dir = java.nio.file.Files.createTempDirectory("gatherkey").toString
      c.grid.drop("tile").write.partitionBy("time").parquet(s"$dir/time")
      c.grid.write.partitionBy("time", "tile").parquet(s"$dir/tiled")
      for (layout <- Seq("time", "tiled")) {
        val grid = spark.read.parquet(s"$dir/$layout")
        val gathered = TrackProfile.gather(c.stencil, grid, c.spec, cfg)
        assert(rows(gathered) === rows(reference(c.stencil, grid, cfg)), s"seed $seed $layout")
        val plan = gathered.queryExecution.executedPlan
        assert(TrackProfileSpec.broadcastKeyTypes(plan) === Seq(Seq(LongType)), plan.toString)
        assert(plan.toString.contains("dynamicpruning"), plan.toString)
      }
    }
  }

  test("a stencil cell outside the box matches nothing, not an aliased cell") {
    val c = randomCase(5)
    val (nLat, nLon) = (c.spec.nLat, c.spec.nLon)
    val t = c.spec.times.head
    val outside = Seq((0L, t, Option(t), 0, nLon, 1.0), (1L, t, Option(t), nLat, 0, 1.0),
        (2L, t, Option(t), -1, nLon - 1, 1.0), (3L, t, Option(t + (1L << 32)), 0, 0, 1.0))
      .toDF(StencilCols: _*)
    for (grid <- Seq(c.grid.drop("tile"), c.grid))
      assert(TrackProfile.gather(outside, grid, c.spec).count() === 0)
  }

  test("plan-time range check: keys that cannot fit an int are rejected") {
    val wide = GridSpec(0.0, 0.01, 50000, 0.0, 0.01, 50000)
    val cell = intercept[IllegalArgumentException](GatherKey(wide, None))
    assert(cell.getMessage.contains("cell key"), cell.getMessage)
    val span = GridSpec(0.0, 1.0, 10, 0.0, 1.0, 10, times = Seq(0L, 1L << 31))
    val time = intercept[IllegalArgumentException](GatherKey(span, None))
    assert(time.getMessage.contains("time key"), time.getMessage)
    // a span that fits untiled can overflow once the tile folds in
    val hours = GridSpec(0.0, 1.0, 3000, 0.0, 1.0, 3000, times = Seq(0L, 1L << 20))
    GatherKey(hours, None)
    val tiled = intercept[IllegalArgumentException](GatherKey(hours, Some(32)))
    assert(tiled.getMessage.contains("tiles"), tiled.getMessage)
  }
}
