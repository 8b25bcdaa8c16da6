package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
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
class TrackReaderSpec extends SparkSpec with AdaptiveSparkPlanHelper {

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

  test("NHC read numbers its fixes without an exchange") {
    import spark.implicits._
    val df = TrackReader.readNhc(spark, "data/al092016_track.csv")
    assert(df.select($"point_id").as[Long].collect().sorted.toSeq === (0L until 80L))
    // the id window runs over one coalesced partition: no shuffle, no job
    val exchanges = collect(df.queryExecution.executedPlan) { case e: Exchange => e }
    assert(exchanges.isEmpty, df.queryExecution.executedPlan.toString)
  }
}

/** The canonical grid layout [[SyntheticGrid.writeGrid]] writes. */
class SyntheticGridSpec extends SparkSpec {

  /** Per file of each time slice: (rows, lowest, highest cell-depth
    * ordinal); the ordinal is a row's position in the
    * (lat_idx, lon_idx, depth_idx) order of a whole slice.
    */
  private def fileRuns(path: String, spec: GridSpec): Map[Long, Seq[(Long, Long, Long)]] = {
    import spark.implicits._
    val ord = (col("lat_idx").cast("long") * spec.nLon + col("lon_idx")) *
      spec.depths.size + col("depth_idx")
    spark.read.parquet(path).withColumn("ord", ord)
      .groupBy(col("time"), input_file_name().as("file"))
      .agg(count(lit(1)).as("n"), min(col("ord")).as("lo"), max(col("ord")).as("hi"))
      .select(col("time"), col("n"), col("lo"), col("hi"))
      .as[(Long, Long, Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (t, fs) => t -> fs.map(f => (f._2, f._3, f._4)).sortBy(_._2) }
  }

  test("writeGrid: one file per core in each time slice, each a contiguous run of cells") {
    val spec = SyntheticGrid.hermineSpec(step = 1.0)   // 63,612 rows per time
    val k = spark.sparkContext.defaultParallelism      // 4 under SparkSpec
    val perSlice = spec.nLat.toLong * spec.nLon * spec.depths.size
    val gen = SyntheticGrid.generate(spark, spec)
    val out = java.nio.file.Files.createTempDirectory("gridfiles").toString
    SyntheticGrid.writeGrid(gen, out)

    val runs = fileRuns(out, spec)
    assert(runs.keySet === spec.times.toSet)
    for ((t, files) <- runs) {
      assert(files.length === k, s"time $t: $files")
      val counts = files.map(_._1)
      assert(counts.max - counts.min <= 1, s"time $t: $counts")
      // each file is gap-free, and the files tile the slice in order
      files.foreach { case (n, lo, hi) => assert(hi - lo + 1 === n, s"time $t: $files") }
      assert(files.map(_._2) === files.map(_._1).scanLeft(0L)(_ + _).init, s"time $t: $files")
      assert(files.last._3 === perSlice - 1)
    }
    // the same rows as the generator
    val back = spark.read.parquet(out).select(gen.columns.map(col): _*)
    assert(back.exceptAll(gen).isEmpty && gen.exceptAll(back).isEmpty)
    // a read of one time slice plans one file partition per core
    assert(spark.read.parquet(out).filter(col("time") === spec.times.head)
      .rdd.getNumPartitions === k)
  }

  test("writeGrid: the last file of a slice is at most k - 1 rows short; tiny slices stay whole") {
    val spec = SyntheticGrid.hermineSpec(step = 1.0)
    val k = spark.sparkContext.defaultParallelism
    // 31 · 73 · 27 = 61,101 rows per time, one more than a multiple of 4
    val odd = SyntheticGrid.generate(spark, spec).filter(col("lon_idx") < 73)
    val out = java.nio.file.Files.createTempDirectory("gridodd").toString
    SyntheticGrid.writeGrid(odd, out)
    val perFile = (61101L + k - 1) / k
    for ((t, files) <- fileRuns(out, spec))
      assert(files.map(_._1) === Seq.fill(k - 1)(perFile) :+ (61101L - (k - 1) * perFile),
        s"time $t: $files")

    // 7 · 16 · 27 = 3,024 rows per time: under one 4,096-row batch, one file
    val tiny = SyntheticGrid.hermineSpec(step = 5.0)
    val tinyOut = java.nio.file.Files.createTempDirectory("gridtiny").toString
    SyntheticGrid.writeGrid(SyntheticGrid.generate(spark, tiny), tinyOut)
    val tinyRuns = fileRuns(tinyOut, tiny)
    assert(tinyRuns.size === tiny.times.size)
    assert(tinyRuns.values.forall(_.map(_._1) == Seq(3024L)), tinyRuns)
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

  test("a fix with a NaN or infinite coordinate is dropped; the others profile") {
    import spark.implicits._
    // one garbled fix must neither profile the grid corner nor fail the query
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
      .withColumn("lat", when($"point_id" === 5, lit(Double.NaN)).otherwise($"lat"))
      .withColumn("lon", when($"point_id" === 6, lit(Double.PositiveInfinity)).otherwise($"lon"))
    val prof = TrackProfile.profile(track, grid, spec).cache()
    try {
      val perPoint = prof.groupBy($"point_id").count().as[(Long, Long)].collect().toMap
      assert(perPoint.keySet === (0L until 80L).toSet - 5L - 6L)
      assert(perPoint.values.forall(_ == 25L), perPoint)
      assert(prof.filter(isnan($"water_temp") || isnan($"salinity")).count() === 0)
    } finally prof.unpersist()
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

  test("plan: one shuffle, no nested-loop join, sort aggregate or range exchange") {
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
    // the IDW aggregate's; TrackReader numbers its fixes on one partition
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
    assert(shuffles.length === 1, shuffles)
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
