package graft

import org.apache.spark.sql.functions._
import graft.io.{GridIngest, SyntheticGrid, TrackReader}
import graft.pipeline.TrackProfile

/** S4 grid ingestion: GRD1 dense-array fixture → long parquet, proven
  * equivalent to the synthetic-grid path end-to-end (VERDICT r1 task 8).
  */
class GridIngestSpec extends SparkSpec {

  private lazy val spec = SyntheticGrid.hermineSpec(step = 1.0)
  private lazy val grd1Path = {
    val p = java.nio.file.Files.createTempDirectory("grd1").resolve("fix.grd1").toString
    GridIngest.Grd1.write(SyntheticGrid.generate(spark, spec), spec, p)
    p
  }

  test("header round-trips the spec") {
    val hdr = GridIngest.Grd1.readHeader(grd1Path)
    assert(hdr.spec === spec)
  }

  test("ingest == cleaned synthetic grid, cell for cell") {
    val ingested = GridIngest.ingest(spark, grd1Path)
    val expected = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
    assert(ingested.count() ===
      spec.nLat.toLong * spec.nLon * spec.depths.size * spec.times.size)
    assert(ingested.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(ingested).isEmpty)
  }

  test("flagship over the ingested grid == flagship over the synthetic grid") {
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
    def collectProfile(grid: org.apache.spark.sql.DataFrame) =
      TrackProfile.profile(track, grid, spec)
        .collect()
        .map(r => (r.getLong(0), r.getInt(3)) ->
          (Option(r.get(5)).map(_.asInstanceOf[Double]),
           Option(r.get(6)).map(_.asInstanceOf[Double])))
        .toMap
    val a = collectProfile(GridIngest.ingest(spark, grd1Path))
    val b = collectProfile(SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec)))
    assert(a.size === 2000 && b.size === 2000)
    // cell values are bit-identical; the IDW sums may differ in the
    // last ulp because the two sources partition (and thus fold) in
    // different orders — compare numerically
    a.foreach { case (key, (t1, s1)) =>
      val (t2, s2) = b(key)
      assert(t1.isDefined === t2.isDefined && s1.isDefined === s2.isDefined, key)
      t1.zip(t2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, key) }
      s1.zip(s2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, key) }
    }
  }

  test("ingestToParquet: time-partitioned layout prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("gridpq").toString
    GridIngest.ingestToParquet(spark, grd1Path, out)
    val scan = spark.read.parquet(out).filter(col("time") === spec.times.head)
    assert(scan.count() === spec.nLat.toLong * spec.nLon * spec.depths.size)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"), plan)
  }
}
