package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.functions._
import graft.fn.GeoFns
import graft.io.{SyntheticGrid, TrackReader}
import graft.io.SyntheticGrid.GridSpec
import graft.pipeline.TrackProfile

/** S1 track readers — golden values from the committed fixtures
  * (FIXTURES.md §1).
  */
class TrackReaderSpec extends SparkSpec {

  test("NHC al092016: 80 rows, first hour 145770, wrapped lon range") {
    import spark.implicits._
    val df = TrackReader.readNhc(spark, "data/al092016_track.csv").cache()
    // the cache is shared by every suite in this JVM: a later suite that
    // reads the same file would scan it instead of the reader's plan
    try {
      assert(df.count() === 80)
      val first = df.orderBy($"point_id").limit(1)
        .select($"hour", $"lat", $"lon").as[(Long, Double, Double)].collect().head
      assert(first === ((145770L, 12.5, 340.6)))   // -19.4 wrapped
      val r = df.agg(min($"lon"), max($"lon"), min($"lat"), max($"lat"))
        .as[(Double, Double, Double, Double)].collect().head
      assert(r === ((272.0, 340.6, 10.5, 39.6)))
      assert(df.filter($"lon" < 0).count() === 0)
    } finally df.unpersist()
  }

  test("IBTrACS Hermine (already [0,360)) and Sandy (signed) both parse") {
    import spark.implicits._
    // 13 / 45 data rows — the files lack a trailing newline, so raw
    // line counts (SURVEY.md "12 / 44") undercount by one
    val hermine = TrackReader.readIbtracs(spark, "data/Hermine_track.csv")
    assert(hermine.count() === 13)
    assert(hermine.filter($"lon" < 180.0).count() === 0)  // 284.5-ish, untouched
    val sandy = TrackReader.readIbtracs(spark, "data/Sandy_track.csv")
    assert(sandy.count() === 45)
    assert(sandy.filter($"lon" < 0).count() === 0)        // wrapped
    assert(sandy.select(min($"lon")).as[Double].collect().head > 270.0)
  }

  test("multi-storm feed: point_ids restart per storm (per-storm id window)") {
    import spark.implicits._
    // one read over BOTH storm files — the multi-storm feed shape whose
    // id minting must parallelize per storm (round-1 scale-killer fix:
    // the window partitions by the stable storm serial, never globally)
    val both = TrackReader.readIbtracs(spark,
      "data/{Hermine_track,Sandy_track}.csv")
    assert(both.count() === 58) // 13 + 45
    val perStorm = both.groupBy($"stormname")
      .agg(count(lit(1)).as("n"), min($"point_id").as("lo"), max($"point_id").as("hi"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(perStorm("HERMINE") === ((13L, 0L, 12L)))  // ids 0..12
    assert(perStorm("SANDY") === ((45L, 0L, 44L)))    // ids 0..44, independent
  }
}

/** §3.1 flagship integration over the deterministic synthetic grid. */
class TrackProfileSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val spec: GridSpec = SyntheticGrid.hermineSpec(step = 0.4)
  private lazy val grid = SyntheticGrid.cleanSentinels(
    SyntheticGrid.generate(spark, spec)).cache()

  test("flagship: 80 points × 25 depths = 2000 rows, no sentinels survive") {
    import spark.implicits._
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
    val prof = TrackProfile.profile(track, grid, spec).cache()
    assert(prof.count() === 2000)
    assert(prof.select(countDistinct($"point_id")).as[Long].collect().head === 80)
    assert(prof.select(countDistinct($"depth_idx")).as[Long].collect().head === 25)
    // sentinel cells (-30000) were nulled at scan, never averaged in:
    assert(prof.filter($"water_temp" < -100.0).count() === 0)
    // analytic field range sanity: 25 - 0.05*depth ± ~3.5
    val (lo, hi) = prof.agg(min($"water_temp"), max($"water_temp"))
      .as[(Double, Double)].collect().head
    assert(lo > 5.0 && hi < 35.0, s"range [$lo, $hi]")
  }

  test("IDW answer matches brute-force recomputation for one point") {
    import spark.implicits._
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
      .filter($"point_id" === 0)   // (12.5, 340.6) @ hour 145770
    val prof = TrackProfile.profile(track, grid, spec)
      .filter($"depth_idx" === 0)
      .select($"water_temp").as[Double].collect()
    assert(prof.length === 1)

    // independent recomputation: snap, 3x3, vincenty, idw over collected grid
    val cells = grid.filter($"time" === 145770L && $"depth_idx" === 0)
      .select($"lat_idx", $"lon_idx", $"lat", $"lon", $"water_temp")
      .as[(Int, Int, Double, Double, Option[Double])].collect()
      .map(c => ((c._1, c._2), (c._3, c._4, c._5))).toMap
    val (tLat, tLon) = (12.5, 340.6)
    val ci = math.round((tLat - spec.latMin) / spec.latStep).toInt
    val cj = math.round((tLon - spec.lonMin) / spec.lonStep).toInt
    var num = 0.0; var den = 0.0
    for (di <- -1 to 1; dj <- -1 to 1) {
      cells.get((ci + di, cj + dj)).foreach { case (nlat, nlon, v) =>
        v.foreach { vv =>
          val d = GeoFns.vincentyKmScala(tLat, tLon, nlat, nlon)
          val w = 1.0 / math.pow(d + 1e-6, 2)
          num += w * vv; den += w
        }
      }
    }
    assert(math.abs(prof.head - num / den) < 1e-9,
      s"pipeline ${prof.head} vs brute force ${num / den}")
  }

  test("nearest mode returns the snapped cell's analytic value") {
    import spark.implicits._
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
      .filter($"point_id" === 10)
    val profNearest = TrackProfile.profile(track, grid, spec,
        TrackProfile.Config(interp = "nearest"))
      .filter($"depth_idx" === 0).select($"water_temp").as[Double].collect().head
    // nearest = value at the closest non-null stencil cell — recompute
    val pt3 = track.select($"lat", $"lon", $"hour").as[(Double, Double, Long)]
      .collect().head
    val pt = (pt3._1, pt3._2)
    // nearest grid time to the fix hour (first-index tie-break)
    val snapT = spec.times.minBy(t => (math.abs(t - pt3._3), t))
    val cells = grid.filter($"time" === snapT && $"depth_idx" === 0)
      .select($"lat_idx", $"lon_idx", $"lat", $"lon", $"water_temp")
      .as[(Int, Int, Double, Double, Option[Double])].collect()
      .map(c => ((c._1, c._2), (c._3, c._4, c._5))).toMap
    val ci = math.round((pt._1 - spec.latMin) / spec.latStep).toInt
    val cj = math.round((pt._2 - spec.lonMin) / spec.lonStep).toInt
    val cands = for {
      di <- -1 to 1; dj <- -1 to 1
      (nlat, nlon, Some(v)) <- cells.get((ci + di, cj + dj))
    } yield (GeoFns.vincentyKmScala(pt._1, pt._2, nlat, nlon), v)
    assert(math.abs(profNearest - cands.minBy(_._1)._2) < 1e-9)
  }

  test("multi-storm feed: every fix of both storms is profiled") {
    // Hermine and Sandy both number their fixes from point_id 0; the
    // as-of is per row, so neither storm's fixes merge into the other's
    val both = TrackReader.readIbtracs(spark, "data/{Hermine_track,Sandy_track}.csv")
    assert(both.count() === 58)
    assert(TrackProfile.profile(both, grid, spec).count() === 58 * 25)
  }

  test("unknown interp or distance is rejected, naming the accepted values") {
    val interp = intercept[IllegalArgumentException](TrackProfile.Config(interp = "nearst"))
    assert(interp.getMessage.contains("'nearst'") &&
      interp.getMessage.contains("idw, nearest"), interp.getMessage)
    val dist = intercept[IllegalArgumentException](TrackProfile.Config(distance = "euclid"))
    assert(dist.getMessage.contains("'euclid'") &&
      dist.getMessage.contains("vincenty, haversine"), dist.getMessage)
    for (n <- Seq(0, -1)) {
      val depth = intercept[IllegalArgumentException](TrackProfile.Config(maxDepthLevels = n))
      assert(depth.getMessage.contains(s"got $n"), depth.getMessage)
    }
    assert(TrackProfile.Config("nearest", "haversine").interp === "nearest")
  }

  test("plan: no nested-loop join, sort aggregate or range exchange; two shuffles; ordered output") {
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
    val out = java.nio.file.Files.createTempDirectory("gridtime").toString
    SyntheticGrid.writeGrid(grid, out)
    val prof = TrackProfile.profile(track, spark.read.parquet(out), spec)
    val keys = prof.collect().toSeq
      .map(r => (r.getAs[Long]("point_id"), r.getAs[Int]("depth_idx")))
    assert(keys.length === 2000)
    assert(keys === keys.sorted, "rows not ordered by (point_id, depth_idx)")
    // once the query has run, the executed plan holds AQE's final plan
    val plan = prof.queryExecution.executedPlan
    for (op <- Seq("BroadcastNestedLoopJoin", "SortAggregate", "rangepartitioning"))
      assert(!plan.toString.contains(op), plan.toString)
    // the TrackReader id window (by storm) and the IDW aggregate
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
    assert(shuffles.length === 2, shuffles)
    // the gather's (time, cell) key packs into one long: a
    // LongHashedRelation, not an UnsafeRow-keyed one
    assert(TrackProfileSpec.broadcastKeyTypes(plan) === Seq(Seq(LongType)), plan.toString)
    // and the time key still prunes the grid's time partitions
    assert(plan.toString.contains("dynamicpruning"), plan.toString)
  }
}

object TrackProfileSpec extends AdaptiveSparkPlanHelper {

  /** Key types of every hashed-relation broadcast in an executed plan. */
  def broadcastKeyTypes(plan: SparkPlan): Seq[Seq[DataType]] =
    collect(plan) { case b: BroadcastExchangeExec => b.mode }
      .collect { case m: HashedRelationBroadcastMode => m.key.map(_.dataType) }
}
