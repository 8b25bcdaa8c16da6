package graft

import org.apache.spark.sql.functions._
import graft.io.{GridIngest, TrackIngest, TrackReader}

/** Defensive behavior on malformed inputs: clear errors, no silent
  * garbage.
  */
class NegativePathSpec extends SparkSpec {
  import spark.implicits._

  test("ingestToParquet rejects a non-NetCDF file with a clear error") {
    val p = java.nio.file.Files.createTempFile("not", ".nc")
    java.nio.file.Files.write(p, Array.fill[Byte](64)(0x42))
    val out = java.nio.file.Files.createTempDirectory("notnc").toString
    val e = intercept[IllegalArgumentException] {
      GridIngest.ingestToParquet(spark, p.toString, out)
    }
    assert(e.getMessage.contains("not a NetCDF classic file"))
  }

  test("KMZ ingest of an archive without a .kml entry fails loudly") {
    val p = java.nio.file.Files.createTempFile("empty", ".kmz")
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(p.toFile))
    zos.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
    zos.write("no kml here".getBytes)
    zos.closeEntry(); zos.close()
    val e = intercept[org.apache.spark.SparkException] {
      TrackIngest.readKmz(spark, p.toString).count()
    }
    assert(e.getMessage.contains("no .kml entry") ||
      Option(e.getCause).exists(_.getMessage.contains("no .kml entry")))
  }

  test("NHC reader: malformed numeric fields become null, rows survive (PERMISSIVE)") {
    val dir = java.nio.file.Files.createTempDirectory("badcsv")
    val f = dir.resolve("bad.csv")
    java.nio.file.Files.writeString(f,
      """atcfdtg,stormnum,stormname,basin,stormtype,intensity,intensitymph,intensitykph,lat,lon,minsealevelpres,dtg
        |2016081718,09,TEST,AL,Low,20,23,37,12.5,-19.4,1010,x
        |2016081800,09,TEST,AL,Low,20,23,37,NOT_A_NUMBER,-21.1,1010,x
        |""".stripMargin)
    val track = TrackReader.readNhc(spark, f.toString)
    assert(track.count() === 2)             // no row silently dropped
    val lats = track.orderBy($"ts").select($"lat").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(lats(0) === Some(12.5))
    assert(lats(1) === None)                // malformed -> null, visible
  }

  test("curation operators reject malformed parameters with clear errors") {
    import graft.ext.{Corpus, TextOps, QualityModel}
    val docs = Seq((1L, "a b c", "s")).toDF("id", "text", "src")
    assert(intercept[IllegalArgumentException] {
      Corpus.hashSample(docs, "id", 1.5)
    }.getMessage.contains("frac"))
    assert(intercept[IllegalArgumentException] {
      Corpus.quotaSample(docs, "id", "src", quota = 0)
    }.getMessage.contains("quota"))
    assert(intercept[IllegalArgumentException] {
      Corpus.mixBySource(docs, "id", "src", Map("s" -> 2.0))
    }.getMessage.contains("weights"))
    assert(intercept[IllegalArgumentException] {
      Corpus.boilerplateGrams(docs, "id", "text", n = 2, minDocs = 0)
    }.getMessage.contains("minDocs"))
    assert(intercept[IllegalArgumentException] {
      TextOps.bm25(docs, "id", "text", Nil)
    }.getMessage.contains("query"))
    assert(intercept[IllegalArgumentException] {
      QualityModel.train(docs.select($"id",
        array(lit(1.0)).as("f"), lit(1).as("y")), "f", "y", iters = 0)
    }.getMessage.contains("iters"))
  }

  test("round-5 operators reject malformed parameters with clear errors") {
    import graft.ext.{Bpe, LangModel, SimJoin}
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    assert(intercept[IllegalArgumentException] {
      graft.fn.WinnowFingerprints(
        org.apache.spark.sql.graftbridge.expression($"text"), 0, 4)
    }.getMessage.contains("shingle"))
    assert(intercept[IllegalArgumentException] {
      graft.fn.KmvDistinct(
        org.apache.spark.sql.graftbridge.expression($"id"), 1, 100.0)
    }.getMessage.contains("k must be >= 2"))
    assert(intercept[IllegalArgumentException] {
      Bpe.train(Seq("a" -> 1L), -1)
    }.getMessage.contains("numMerges"))
    assert(intercept[IllegalArgumentException] {
      SimJoin.seedCentroids(docs.select($"id", array(lit(1.0)).as("v")),
        "id", "v", 0)
    }.getMessage.contains("seed"))
    assert(intercept[IllegalArgumentException] {
      graft.fn.UnigramNll(
        org.apache.spark.sql.graftbridge.expression($"text"),
        Map("a" -> 1L), 1L, 1L, alpha = 0.0)
    }.getMessage.contains("alpha"))
    // vocab guard fails FAST instead of collecting unbounded state
    val counts = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("tok", "cnt")
    assert(intercept[IllegalArgumentException] {
      LangModel.collectModel(counts, maxVocab = 2L)
    }.getMessage.contains("maxVocab"))
  }
}
