package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import graft.io.{SyntheticGrid, TrackReader}
import graft.pipeline.TrackProfile
import graft.streaming.TrackStream

/** The flagship pipeline on a STREAM of track fixes: every micro-batch
  * runs the batch TrackProfile, so the streamed profile must equal the
  * batch one.
  */
class TrackStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val spec = SyntheticGrid.hermineSpec(step = 0.4)
  private lazy val grid =
    SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
  private lazy val track =
    TrackReader.readNhc(spark, "data/al092016_track.csv")

  private def profileRows(rows: Seq[Row]): Seq[((Long, Int), (Option[Double], Option[Double]))] =
    rows.map(r => (r.getAs[Long]("point_id"), r.getAs[Int]("depth_idx")) ->
      ((Option(r.getAs[Any]("water_temp")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("salinity")).map(_.asInstanceOf[Double]))))

  test("streaming profile == batch TrackProfile (IDW, both measures)") {
    val batchExpected = profileRows(TrackProfile.profile(track, grid, spec).collect().toSeq).toMap

    // stage the track as four files, one micro-batch each
    val dir = java.nio.file.Files.createTempDirectory("trackstream")
      .resolve("fixes").toString
    val cols = track.select($"point_id", $"ts", $"lat", $"lon")
    cols.repartitionByRange(4, $"point_id").write.parquet(dir)
    val fixes = spark.readStream.schema(cols.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    val batches = mutable.Map.empty[Long, Seq[Row]]
    val q = TrackStream.profile(fixes, grid, spec) { (df: DataFrame, id: Long) =>
      batches.synchronized(batches(id) = df.collect().toSeq)
    }.trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "stream did not finish")

    assert(batches.size >= 3, s"${batches.size} micro-batches")
    val got = profileRows(batches.values.flatten.toSeq)
    assert(got.size === 2000)
    assert(got.map(_._1).distinct.size === 2000, "duplicate (point_id, depth_idx)")
    assert(got.map(_._1).toSet === batchExpected.keySet)
    got.foreach { case (key, (gwt, gsal)) =>
      val (wt, sal) = batchExpected(key)
      assert(wt.isDefined === gwt.isDefined && sal.isDefined === gsal.isDefined, key)
      wt.zip(gwt).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, key) }
      sal.zip(gsal).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, key) }
    }
  }
}
