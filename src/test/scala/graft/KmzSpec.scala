package graft

import org.apache.spark.sql.functions._
import graft.io.{TrackIngest, TrackReader}

/** S2+S3+S5 golden round-trip: the committed reference input
  * (al092016_best_track.kmz) must ingest to exactly the committed
  * reference output (al092016_track.csv — produced by the reference's
  * own kmz2csv.py run).
  */
class KmzSpec extends SparkSpec {
  import spark.implicits._

  private val kmz = "data/al092016_best_track.kmz"
  private val goldenCsv = "data/al092016_track.csv"

  private lazy val ingested = TrackIngest.readKmz(spark, kmz)

  test("kmz → 80 placemarks, storm name from file name") {
    assert(ingested.count() === 80)
    assert(ingested.select($"storm").distinct().as[String].collect() === Array("al092016"))
  }

  test("round-trip equals the reference's own CSV output, including row order") {
    val golden = scala.io.Source.fromFile(goldenCsv).getLines().toSeq
    val out = java.nio.file.Files.createTempDirectory("kmzcsv").toString
    TrackIngest.writeCsv(ingested, out)
    val part = new java.io.File(out).listFiles()
      .find(_.getName.endsWith(".csv")).get
    val ours = scala.io.Source.fromFile(part).getLines().toSeq
    assert(ours.head === golden.head)          // header, reference order
    assert(ours.size === golden.size)
    ours.zip(golden).zipWithIndex.foreach { case ((o, g), i) =>
      assert(o === g, s"line $i differs")
    }
  }

  test("ingested placemarks feed TrackReader.readNhc unchanged (S3 → S1 contract)") {
    val out = java.nio.file.Files.createTempDirectory("kmzcsv2").toString
    TrackIngest.writeCsv(ingested, out)
    val track = TrackReader.readNhc(spark, out)
    assert(track.count() === 80)
    val first = track.orderBy($"point_id").limit(1)
      .select($"hour", $"lat", $"lon").as[(Long, Double, Double)].collect().head
    assert(first === ((145770L, 12.5, 340.6))) // hurrtimeconv(2016081718), wrapped lon
  }
}
