package graft

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.io.SyntheticGrid.GridSpec
import graft.ops.GatherKey
import graft.pipeline.TrackProfile

/** The J4 gather on one packed long key ([[GatherKey]]) against the
  * gather it replaced — an equi-join on the raw (time, lat_idx, lon_idx)
  * columns — over seeded random grids: random axes and time axes, stencil
  * cells on the edges, null grid times, and grid rows outside the spec's
  * time range or index box that a naive narrowing to int keys would alias
  * onto real cells.
  */
class GatherKeySpec extends SparkSpec {
  import spark.implicits._

  private val GridCols = Seq("time", "depth_idx", "depth", "lat_idx", "lat",
    "lon_idx", "lon", "water_temp", "salinity")
  private val StencilCols = Seq("point_id", "hour", "gtime_t", "n_i", "n_j", "d_km")

  /** The old gather, kept as the reference. */
  private def reference(stencil: DataFrame, grid: DataFrame,
                        cfg: TrackProfile.Config): DataFrame =
    grid.filter(col("depth_idx") < cfg.maxDepthLevels)
      .join(broadcast(stencil), col("time") === col("gtime_t") &&
        col("lat_idx") === col("n_i") && col("lon_idx") === col("n_j"))

  private def rows(df: DataFrame): Seq[String] =
    df.select((GridCols ++ StencilCols).map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  /** One random case: a spec, its grid with hostile rows, an in-box
    * stencil and a depth limit.
    */
  private final case class Case(spec: GridSpec, grid: DataFrame, stencil: DataFrame,
                                maxDepth: Int)

  private def randomCase(seed: Long): Case = {
    val rnd = new SplittableRandom(seed)
    val (nLat, nLon) = (1 + rnd.nextInt(9), 1 + rnd.nextInt(9))
    val t0 = 145000L + rnd.nextInt(2000)
    val times = (0 until 1 + rnd.nextInt(4)).scanLeft(t0)((t, _) => t + 1 + rnd.nextInt(300)).tail
    val depths = Seq(0.0, 5.0, 10.0)
    val spec = GridSpec(10.0, 0.5, nLat, 270.0, 0.5, nLon, depths, times)
    def value(): Option[Double] =
      if (rnd.nextInt(10) == 0) None else Some(math.round(rnd.nextDouble() * 1e6) / 1e3)
    def row(t: java.lang.Long, d: Int, i: Int, j: Int) =
      Row(t, d, depths(d), i, 10.0 + i * 0.5, j, 270.0 + j * 0.5,
        value().map(Double.box).orNull, value().map(Double.box).orNull)
    val inBox = for (t <- times; d <- depths.indices; i <- 0 until nLat; j <- 0 until nLon)
      yield row(t, d, i, j)
    val (tMin, tMax) = (times.min, times.max)
    // each reads as an in-box cell under a naive (int time, int cell) narrowing
    val hostile = for (t <- times; d <- depths.indices; i <- 0 until nLat; j = i % nLon) yield Seq(
      row(t, d, i, nLon),                 // (i + 1, 0)
      row(t, d, i, -1),                   // (i − 1, nLon − 1)
      row(t, d, -1, j),                   // (−1, j) → cell j − nLon
      row(t, d, nLat, j),                 // one row past the box
      row(tMin + (1L << 32), d, i, j),    // int time wraps to tMin
      row(tMin - 1, d, i, j),
      row(tMax + 1, d, i, j),
      row(null, d, i, j))
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
    Case(spec, grid, stencil, 1 + rnd.nextInt(3))
  }

  private lazy val gridSchema = new org.apache.spark.sql.types.StructType()
    .add("time", "long").add("depth_idx", "int").add("depth", "double")
    .add("lat_idx", "int").add("lat", "double").add("lon_idx", "int").add("lon", "double")
    .add("water_temp", "double").add("salinity", "double")

  test("packed gather == the raw 3-key join over random specs") {
    for (seed <- 1L to 12L) {
      val c = randomCase(seed)
      val cfg = TrackProfile.Config(maxDepthLevels = c.maxDepth)
      val got = rows(TrackProfile.gather(c.stencil, c.grid, c.spec, cfg))
      val want = rows(reference(c.stencil, c.grid, cfg))
      assert(want.nonEmpty, s"seed $seed: empty reference")
      assert(got === want, s"seed $seed ${c.spec}")
    }
  }

  test("over parquet layouts the packed gather still prunes partitions and matches") {
    for (seed <- Seq(21L, 22L)) {
      val c = randomCase(seed)
      val cfg = TrackProfile.Config(maxDepthLevels = c.maxDepth)
      val dir = java.nio.file.Files.createTempDirectory("gatherkey").resolve("grid").toString
      c.grid.write.partitionBy("time").parquet(dir)
      val grid = spark.read.parquet(dir)
      val gathered = TrackProfile.gather(c.stencil, grid, c.spec, cfg)
      assert(rows(gathered) === rows(reference(c.stencil, grid, cfg)), s"seed $seed")
      val plan = gathered.queryExecution.executedPlan
      assert(TrackProfileSpec.broadcastKeyTypes(plan) === Seq(Seq(LongType)), plan.toString)
      assert(plan.toString.contains("dynamicpruning"), plan.toString)
    }
  }

  test("a stencil cell outside the box matches nothing, not an aliased cell") {
    val c = randomCase(5)
    val (nLat, nLon) = (c.spec.nLat, c.spec.nLon)
    val t = c.spec.times.head
    val outside = Seq((0L, t, Option(t), 0, nLon, 1.0), (1L, t, Option(t), nLat, 0, 1.0),
        (2L, t, Option(t), -1, nLon - 1, 1.0), (3L, t, Option(t + (1L << 32)), 0, 0, 1.0))
      .toDF(StencilCols: _*)
    assert(TrackProfile.gather(outside, c.grid, c.spec).count() === 0)
  }

  test("plan-time range check: keys that cannot fit an int are rejected") {
    val wide = GridSpec(0.0, 0.01, 50000, 0.0, 0.01, 50000)
    val cell = intercept[IllegalArgumentException](GatherKey(wide))
    assert(cell.getMessage.contains("cell key"), cell.getMessage)
    val span = GridSpec(0.0, 1.0, 10, 0.0, 1.0, 10, times = Seq(0L, 1L << 31))
    val time = intercept[IllegalArgumentException](GatherKey(span))
    assert(time.getMessage.contains("time key"), time.getMessage)
    // the widest spans that do fit are accepted
    GatherKey(GridSpec(0.0, 1.0, 46340, 0.0, 1.0, 46340, times = Seq(0L, (1L << 31) - 2)))
  }
}
