package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.fn.GeoFns
import graft.io.{SyntheticGrid, TrackReader}
import graft.io.SyntheticGrid.GridSpec
import graft.ops.{AsofJoin, Idw, NearestJoin, Stencil}
import graft.pipeline.TrackProfile
import ProfileWorkload.Want

/** One fix of a generated track feed: signed lon, as NHC writes it. */
final case class Fix(time: LocalDateTime, lat: Double, lon: Double)

/** The track×grid profile workloads: a seeded track feed written as one
  * NHC CSV, a synthetic grid written as parquet, and one op = read the
  * feed + `TrackProfile.profile` against the grid, materialized through
  * the noop sink.
  */
final class ProfileWorkload(
    spark: SparkSession, val name: String, work: Path,
    spec: GridSpec, feed: Seq[Fix]) extends Workload {

  private val csv = work.resolve("track.csv").toString
  private val gridPath = work.resolve("grid").toString
  val fixes: Long = feed.size.toLong

  def setup(): Map[String, Double] = {
    val nhc = DateTimeFormatter.ofPattern("yyyyMMddHH")
    val header = "atcfdtg,stormnum,stormname,basin,stormtype,intensity,intensitymph," +
      "intensitykph,lat,lon,minsealevelpres,dtg"
    val lines = header +: feed.map { f =>
        // one storm id: TrackProfile keys on point_id, which TrackReader
        // numbers per storm, so every fix must share the storm to stay unique
        s"${f.time.format(nhc)},09,HERMINE,AL,Hurricane,70,80,130,${f.lat},${f.lon},990,x"
      }
    Files.write(Paths.get(csv), lines.asJava, StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    SyntheticGrid.writeGrid(SyntheticGrid.generate(spark, spec), gridPath)
    val writeS = (System.nanoTime() - t0) / 1e9
    val files = Using.resource(Files.walk(Paths.get(gridPath)))(
      _.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList)
    Map(
      "io.SyntheticGrid.write_s" -> writeS,
      "io.grid_bytes_written" -> files.map(Files.size(_)).sum.toDouble,
      "io.grid_files_written" -> files.size.toDouble)
  }

  private def grid(): DataFrame =
    SyntheticGrid.cleanSentinels(spark.read.parquet(gridPath))

  private lazy val track: DataFrame = TrackReader.readNhc(spark, csv)

  /** The timed op, planned once per run and executed per op. */
  private lazy val plan: DataFrame = TrackProfile.profile(track, grid(), spec)

  def ops: Seq[Op] = Seq(Op("profile", () => Sink.noop(plan)))

  /** Prefixes of `TrackProfile.profile`, built from the same public
    * calls in the same order; each is a layer boundary of the trace.
    * `tiedPrefixes` checks them against the program's own plan.
    */
  private lazy val prefixes: Seq[(String, DataFrame)] = {
    val t = track
    val axis = spark.createDataFrame(spec.times.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("t_idx", "t_val")
    val asof = AsofJoin.nearestBroadcast(t, Seq("point_id"), "hour", axis, "t_idx", "t_val", "gtime")
    val snapLat = NearestJoin.snapRegular(asof, col("lat"), spec.latMin, spec.latStep, spec.nLat, "glat")
    val snap = NearestJoin.snapRegular(snapLat, col("lon"), spec.lonMin, spec.lonStep, spec.nLon, "glon")
    val stencil = Stencil.expand(snap, "glat_idx", "glon_idx", spec.nLat, spec.nLon)
      .withColumn("n_lat", lit(spec.latMin) + col("n_i") * spec.latStep)
      .withColumn("n_lon", lit(spec.lonMin) + col("n_j") * spec.lonStep)
    val dist = stencil
      .withColumn("d_km", GeoFns.vincentyKmNative(col("lat"), col("lon"), col("n_lat"), col("n_lon")))
      .select("point_id", "hour", "gtime_t", "n_i", "n_j", "d_km")
    Seq(
      "io.TrackReader.read" -> t,
      "ops.AsofJoin.nearest" -> asof,
      "ops.NearestJoin.snap" -> snap,
      "ops.Stencil.expand" -> stencil,
      "fn.GeoFns.vincenty" -> dist)
  }

  /** The prefixes, once each has been found as a subtree of the full
    * op's analyzed plan (compared canonically, so expression ids do not
    * matter). When `TrackProfile.profile` changes its pipeline, a prefix
    * that no longer matches fails the traced run instead of timing a
    * stale copy of the old pipeline.
    */
  private lazy val tiedPrefixes: Seq[(String, DataFrame)] = {
    val full = plan.queryExecution.analyzed
    prefixes.foreach { case (layer, df) =>
      val p = df.queryExecution.analyzed
      require(full.find(_.sameResult(p)).isDefined,
        s"trace prefix $layer is not a subtree of TrackProfile.profile's plan: " +
          "the pipeline changed, update ProfileWorkload.prefixes to match it")
    }
    prefixes
  }

  /** Traced op: each prefix materialized under its own span, then the
    * full op. Each prefix recomputes the one before it, so a layer's
    * self time is its span minus the previous prefix's span.
    */
  def traced(tracer: Tracer, probe: Probe, opId: Int, parent: Int): Map[String, Double] = {
    var prev = 0.0
    val self = tiedPrefixes.map { case (layer, df) =>
      val (_, s) = tracer.span(layer, parent, opId)(_ => Sink.noop(df))
      val v = s.seconds - prev
      prev = s.seconds
      s"${layer}_s" -> v
    }.toMap
    probe.drain()
    val c0 = probe.counters.snapshot()
    probe.plans.current = "profile"
    val wall0 = System.currentTimeMillis()
    val (_, full) = tracer.span("pipeline.TrackProfile.profile", parent, opId)(_ => Sink.noop(plan))
    val wall1 = System.currentTimeMillis()
    probe.drain()
    val c1 = probe.counters.snapshot()
    val engine = c1.map { case (k, v) => k -> (v - c0(k)) }
    val covered = probe.counters.jobCoverMs(wall0, wall1) / 1e3
    self ++ engine ++ probe.plans.last ++ Map(
      "pipeline.TrackProfile.gather_agg_s" -> (full.seconds - prev),
      "op_s" -> full.seconds,
      "unattributed_s" -> math.max(0.0, full.seconds - covered))
  }

  /** Output check: 25 depth rows per fix, and a seeded sample of rows
    * recomputed on the driver from the grid cells read back by key.
    */
  def check(seed: Long, probe: Probe): Seq[(String, String)] = {
    probe.plans.current = "profile"
    val out = plan.collect()
    probe.plans.current = ""
    val want = fixes * 25
    if (out.length != want) return Seq("profile" -> s"rows ${out.length} != $want")
    val fixByHour = feed.map(f => ProfileWorkload.hour(f.time) -> f).toMap
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val sample = Seq.fill(24)(out(rng.nextInt(out.length)))
    val wants = sample.map(r => expected(r, fixByHour))
    // one scan reads every neighbour cell of the sample, keyed by
    // (time, depth_idx, lat_idx, lon_idx)
    def key(t: Long, d: Int, i: Int, j: Int): Long = ((t * 64 + d) * 10000L + i) * 10000L + j
    val keys = wants.flatMap(_.toSeq.flatMap(w => w.cells.map { case (i, j) => key(w.time, w.depth, i, j) }))
    val g = spark.read.parquet(gridPath)
      .where((col("time") * 64 + col("depth_idx")) * 100000000L + col("lat_idx") * 10000L + col("lon_idx")
        isin (keys.distinct: _*))
      .select("time", "depth_idx", "lat_idx", "lon_idx", "water_temp", "salinity").collect()
      .map(x => key(x.getAs[Number](0).longValue, x.getInt(1), x.getInt(2), x.getInt(3)) -> x).toMap
    sample.zip(wants).flatMap {
      case (r, Left(err)) => Some(err)
      case (r, Right(w)) => compare(r, w, c => g.get(key(w.time, w.depth, c._1, c._2)))
    }.take(3).map("profile" -> _)
  }

  /** The driver's replay of as-of, snap and stencil for one output row. */
  private def expected(r: Row, fixByHour: Map[Long, Fix]): Either[String, Want] = {
    val hour = r.getAs[Long]("hour")
    fixByHour.get(hour).toRight(s"hour $hour not in the feed").flatMap { f =>
      val lon = if (f.lon < 0) f.lon + 360 else f.lon
      val t = spec.times(spec.times.indices.minBy(i => (math.abs(hour.toDouble - spec.times(i)), i)))
      def snap(x: Double, o: Double, s: Double, n: Int) =
        math.min(math.max(math.ceil((x - o) / s - 0.5).toInt, 0), n - 1)
      val gi = snap(f.lat, spec.latMin, spec.latStep, spec.nLat)
      val gj = snap(lon, spec.lonMin, spec.lonStep, spec.nLon)
      val cells = for (di <- -1 to 1; dj <- -1 to 1; i = gi + di; j = gj + dj
                       if i >= 0 && i < spec.nLat && j >= 0 && j < spec.nLon) yield (i, j)
      if (r.getAs[Long]("grid_time") != t) Left(s"hour $hour: grid_time ${r.getAs[Long]("grid_time")} != $t")
      else Right(Want(f, lon, t, r.getAs[Int]("depth_idx"), cells))
    }
  }

  /** IDW of the neighbour cells with `GeoFns.vincentyKmScala` and
    * `Idw.weight`'s formula, sentinels cleaned as `cleanSentinels` does.
    */
  private def compare(r: Row, w: Want, cell: ((Int, Int)) => Option[Row]): Option[String] = {
    val rows = w.cells.map(cell)
    if (rows.exists(_.isEmpty)) return Some(s"hour ${w.fix.time} depth ${w.depth}: missing grid cells")
    def idw(field: String): Option[Double] = {
      val wv = w.cells.zip(rows.flatten).flatMap { case ((i, j), g) =>
        val d = GeoFns.vincentyKmScala(w.fix.lat, w.lon,
          spec.latMin + i * spec.latStep, spec.lonMin + j * spec.lonStep)
        val wt = 1.0 / math.pow(d + Idw.Eps, 2)
        g.getAs[Any](field) match {
          case v: Double if v > -4.0 && !v.isNaN => Some((wt, wt * v))
          case _ => None
        }
      }
      if (wv.isEmpty) None else Some(wv.map(_._2).sum / wv.map(_._1).sum)
    }
    Seq("water_temp", "salinity").flatMap { fld =>
      val (want, got) = (idw(fld), r.getAs[Any](fld))
      val ok = (want, got) match {
        case (None, null) => true
        case (Some(x), y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
        case _ => false
      }
      if (ok) None else Some(s"${w.fix.time} depth ${w.depth} $fld: engine $got, driver $want")
    }.headOption
  }
}

object ProfileWorkload {
  /** What the driver expects behind one output row: its fix, the grid
    * time it snaps to and the neighbour cells it reads.
    */
  private final case class Want(fix: Fix, lon: Double, time: Long, depth: Int, cells: Seq[(Int, Int)])

  private val Epoch2000 = LocalDateTime.of(2000, 1, 1, 0, 0)

  def hour(t: LocalDateTime): Long =
    (t.toEpochSecond(ZoneOffset.UTC) - Epoch2000.toEpochSecond(ZoneOffset.UTC)) / 3600

  /** Hermine's committed NHC track (al092016), signed lon. */
  def hermine(): Seq[Fix] = {
    val nhc = DateTimeFormatter.ofPattern("yyyyMMddHH")
    Files.readAllLines(Paths.get("data/al092016_track.csv")).asScala.drop(1)
      .map(_.split(",")).map(c =>
        Fix(LocalDateTime.parse(c(0), nhc), c(8).toDouble, c(9).toDouble)).toSeq
  }

  /** 16 copies of Hermine's Gulf segment (fixes 41-66, Key West to the
    * Carolinas), each shifted up to ±0.5° in lat and lon and by 30 days in
    * time, over a 0.08° (GLBu0.08 resolution) grid around them: few fixes,
    * the whole grid scanned.
    */
  def fine(spark: SparkSession, work: Path, seed: Long): Workload = {
    val rng = new java.util.SplittableRandom(seed)
    val seg = hermine().slice(40, 66)
    val feed = (0 until 16).flatMap { k =>
      val (dlat, dlon) = (rng.nextDouble() - 0.5, rng.nextDouble() - 0.5)
      seg.map(f => Fix(f.time.plusDays(30L * k), round2(f.lat + dlat), round2(f.lon + dlon)))
    }
    // four time slices 150 days apart, so fixes snap to every slice and
    // partition pruning cannot skip any of the grid
    val t0 = SyntheticGrid.DefaultTimes.head
    val spec = SyntheticGrid.GridSpec(
      latMin = 22.8, latStep = 0.08, nLat = 145, lonMin = 271.4, lonStep = 0.08, nLon = 134,
      times = (0 until 4).map(i => t0 + i * 150L * 24))
    new ProfileWorkload(spark, "profile_fine", work, spec, feed)
  }

  val DenseFixes = 3000

  /** Uniform fixes inside the Hermine bbox, one per hour, over the
    * coarse 0.4° grid. The feed starts after the grid's last time slice,
    * so every fix snaps to it and partition pruning leaves a quarter of
    * the grid to scan: per-fix work dominates, the scan is small.
    */
  def dense(spark: SparkSession, work: Path, seed: Long): Workload = {
    val rng = new java.util.SplittableRandom(seed)
    val start = java.time.LocalDateTime.of(2016, 8, 18, 13, 0)
    val feed = (0 until DenseFixes).map { i =>
      Fix(start.plusHours(i), round2(10.5 + rng.nextDouble() * 29.0), round2(-89.5 + rng.nextDouble() * 74.0))
    }
    new ProfileWorkload(spark, "profile_dense", work, SyntheticGrid.hermineSpec(0.4), feed)
  }

  private def round2(x: Double): Double = math.round(x * 100) / 100.0
}
