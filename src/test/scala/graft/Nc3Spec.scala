package graft

import java.io.{DataOutputStream, BufferedOutputStream, FileOutputStream}
import graft.io.{GridIngest, Nc3, SyntheticGrid, TrackReader}
import graft.pipeline.TrackProfile

/** NetCDF-3 classic ingestion (VERDICT r2 item 2): spec-level byte
  * fixture (written raw in the test, independent of Nc3.write), hostile
  * headers, the writer⇄reader round-trip in all four layout variants,
  * and flagship IDW parity between the NC3-ingested and the synthetic
  * grid.
  */
class Nc3Spec extends SparkSpec {

  private lazy val spec = SyntheticGrid.hermineSpec(step = 1.0)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("nc3").resolve(name).toString

  /** A CDF-1 file written byte-by-byte straight from the public spec —
    * NOT via Nc3.write — so the parser is tested against the format,
    * not against its own mirror image. Layout: dims time=2 (record),
    * depth=1, lat=2, lon=2; double axes; short-packed water_temp /
    * salinity (scale 0.5, offset 10, fill -9); values chosen so every
    * raw short and its unpacked double are hand-checkable.
    */
  private lazy val handWritten: String = cdf1("hand.nc") { o =>
    def name(s: String): Unit = ncName(o, s)
    o.writeInt(2)                             // numrecs = 2
    o.writeInt(0x0A); o.writeInt(4)           // dim_list
    name("time"); o.writeInt(0)               //   record dim
    name("depth"); o.writeInt(1)
    name("lat"); o.writeInt(2)
    name("lon"); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)              // no global atts
    o.writeInt(0x0B); o.writeInt(6)           // var_list
    // header is 576 bytes by hand-count (vars: time 88, depth 40,
    // lat 36, lon 36, water_temp 148, salinity 144). Fixed axes:
    //   depth @576(8B) lat @584(16B) lon @600(16B) → records @616
    // record layout: time(8) wt(4 cells×2B=8) sal(8) → recSize 24
    // time: double, dims(0), units att
    name("time"); o.writeInt(1); o.writeInt(0)
    o.writeInt(0x0C); o.writeInt(1)
    name("units"); o.writeInt(Nc3.NcChar)
    val units = "hours since 2000-01-01 00:00:00"
    o.writeInt(units.length); o.write(units.getBytes)
    (0 until (4 - units.length % 4) % 4).foreach(_ => o.writeByte(0))
    o.writeInt(Nc3.NcDouble); o.writeInt(8); o.writeInt(616)
    // depth: double, dims(1), no atts
    name("depth"); o.writeInt(1); o.writeInt(1)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(Nc3.NcDouble); o.writeInt(8); o.writeInt(576)
    // lat: double, dims(2)
    name("lat"); o.writeInt(1); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(Nc3.NcDouble); o.writeInt(16); o.writeInt(584)
    // lon: double, dims(3)
    name("lon"); o.writeInt(1); o.writeInt(3)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(Nc3.NcDouble); o.writeInt(16); o.writeInt(600)
    // water_temp: short-packed, dims(0,1,2,3), CF atts
    def dataVar(nm: String, begin: Int): Unit = {
      name(nm); o.writeInt(4)
      o.writeInt(0); o.writeInt(1); o.writeInt(2); o.writeInt(3)
      o.writeInt(0x0C); o.writeInt(3)
      name("_FillValue"); o.writeInt(Nc3.NcShort); o.writeInt(1)
      o.writeShort(-9); o.writeShort(0)       // value + pad to 4
      name("scale_factor"); o.writeInt(Nc3.NcDouble); o.writeInt(1); o.writeDouble(0.5)
      name("add_offset"); o.writeInt(Nc3.NcDouble); o.writeInt(1); o.writeDouble(10.0)
      o.writeInt(Nc3.NcShort); o.writeInt(8)  // vsize: 4 cells × 2B = 8 (already 4-aligned)
      o.writeInt(begin)
    }
    dataVar("water_temp", 624)
    dataVar("salinity", 632)
    // ---- data: fixed axes
    o.writeDouble(5.0)                        // depth
    o.writeDouble(20.0); o.writeDouble(21.0)  // lat
    o.writeDouble(250.0); o.writeDouble(251.0) // lon
    // ---- records (recSize = 8 + 8 + 8 = 24)
    // record 0: time=100; wt raw 1,2,3,-9 → 10.5,11,11.5,null; sal raw 0,0,0,0 → 10
    o.writeDouble(100.0)
    Seq(1, 2, 3, -9).foreach(o.writeShort)
    Seq(0, 0, 0, 0).foreach(o.writeShort)
    // record 1: time=106; wt raw 4,-9,6,7; sal raw -9,-9,-9,-9
    o.writeDouble(106.0)
    Seq(4, -9, 6, 7).foreach(o.writeShort)
    Seq(-9, -9, -9, -9).foreach(o.writeShort)
  }

  /** A file that starts with the CDF-1 magic, the rest written by `body`. */
  private def cdf1(file: String)(body: DataOutputStream => Unit): String = {
    val p = tmp(file)
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(p)))
    try { o.write("CDF".getBytes); o.writeByte(1); body(o) } finally o.close()
    p
  }

  private def ncName(o: DataOutputStream, s: String): Unit = {
    o.writeInt(s.length); o.write(s.getBytes)
    (0 until (4 - s.length % 4) % 4).foreach(_ => o.writeByte(0))
  }

  /** var_list entry of a 1-D double axis without attributes. */
  private def axisVar(o: DataOutputStream, nm: String, dimId: Int, n: Int, begin: Int): Unit = {
    ncName(o, nm); o.writeInt(1); o.writeInt(dimId)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(Nc3.NcDouble); o.writeInt(8 * n); o.writeInt(begin)
  }

  test("hand-written CDF-1 bytes parse: dims, record dim, CF attributes, begins") {
    val hdr = Nc3.readHeader(handWritten)
    assert(hdr.version === 1 && hdr.numRecs === 2)
    assert(hdr.dims.map(d => (d.name, d.length)) ===
      Seq(("time", 0), ("depth", 1), ("lat", 2), ("lon", 2)))
    assert(hdr.recDimId === 0)
    val wt = hdr.variable("water_temp")
    assert(wt.ncType === Nc3.NcShort && hdr.isRecordVar(wt))
    assert(wt.numAtt("_FillValue") === Some(-9.0))
    assert(wt.numAtt("scale_factor") === Some(0.5))
    assert(hdr.recSize === 24)
    assert(hdr.variable("time").att("units").map(_.str) ===
      Some("hours since 2000-01-01 00:00:00"))
  }

  test("hand-written file ingests to exact hand-computed cells") {
    val got = GridIngest.ingestNc(spark, handWritten)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getInt(5)) ->
        (Option(r.get(7)).map(_.asInstanceOf[Double]),
         Option(r.get(8)).map(_.asInstanceOf[Double]))).toMap
    assert(got.size === 8)
    // unpack = raw * 0.5 + 10; raw -9 = fill -> null
    assert(got((100L, 0, 0, 0)) === ((Some(10.5), Some(10.0))))
    assert(got((100L, 0, 0, 1)) === ((Some(11.0), Some(10.0))))
    assert(got((100L, 0, 1, 0)) === ((Some(11.5), Some(10.0))))
    assert(got((100L, 0, 1, 1)) === ((None, Some(10.0))))
    assert(got((106L, 0, 0, 0)) === ((Some(12.0), None)))
    assert(got((106L, 0, 0, 1)) === ((None, None)))
    assert(got((106L, 0, 1, 0)) === ((Some(13.0), None)))
    assert(got((106L, 0, 1, 1)) === ((Some(13.5), None)))
    // axis-derived spec
    val gs = Nc3.gridSpecOf(handWritten, Nc3.readHeader(handWritten))
    assert(gs.times === Seq(100L, 106L))
    assert(gs.latMin === 20.0 && gs.latStep === 1.0 && gs.nLat === 2)
    assert(gs.lonMin === 250.0 && gs.nLon === 2 && gs.depths === Seq(5.0))
  }

  test("hostile headers fail with a controlled IllegalArgumentException") {
    val M = 1 << 20 // 1 MiB against files of well under 300 bytes
    // (input, path, fragments the message must hold); each input but
    // the unknown nc_type threw something else (NegativeArraySize, EOF,
    // IndexOutOfBounds) or nothing before the header lengths, dim ids
    // and axes were checked
    val cases: Seq[(String, String, Seq[String])] = Seq(
      { val p = cdf1("negname.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(1); o.writeInt(-1)
          o.write(new Array[Byte](16))
        }
        ("negative name length", p, Seq(p, "name length -1")) },
      { val p = cdf1("longname.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(1); o.writeInt(M)
          o.write(new Array[Byte](20))
        }
        ("name length past EOF", p, Seq(p, s"name length $M")) },
      { val p = cdf1("manyatts.nc") { o =>
          o.writeInt(0); o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0C); o.writeInt(M)
          ncName(o, "a"); o.writeInt(Nc3.NcInt); o.writeInt(1); o.writeInt(7)
        }
        ("attribute count past EOF", p, Seq(p, s"attribute count $M")) },
      { val p = cdf1("negdim.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(1)
          ncName(o, "time"); o.writeInt(-5)
          o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0B); o.writeInt(1); axisVar(o, "time", 0, 0, 64)
        }
        ("negative dim length", p, Seq(p, "dim 'time' length -5")) },
      { val p = cdf1("negrecs.nc") { o =>
          o.writeInt(-1); o.write(new Array[Byte](16))
        }
        ("negative numrecs", p, Seq(p, "numrecs -1")) },
      { val p = cdf1("baddimid.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(1)
          ncName(o, "time"); o.writeInt(4)
          o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0B); o.writeInt(1); axisVar(o, "time", 5, 4, 80)
          (0 until 4).foreach(i => o.writeDouble(i))
        }
        ("dim id out of range", p, Seq(p, "variable 'time' dim id 5")) },
      { val p = cdf1("axispasteof.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(1)
          ncName(o, "time"); o.writeInt(4)
          o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0B); o.writeInt(1); axisVar(o, "time", 0, 4, 1000)
          (0 until 4).foreach(i => o.writeDouble(i))
        }
        ("axis data past EOF", p, Seq(p, "variable 'time' data")) },
      { // CDF-5 int64 attr (type code 11) in a CDF-1 file: a controlled
        // error like typeSize(), not a raw scala.MatchError
        val p = cdf1("badatt.nc") { o =>
          o.writeInt(0); o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0C); o.writeInt(1)
          ncName(o, "bogus"); o.writeInt(11); o.writeInt(1); o.writeLong(42L)
          o.writeInt(0); o.writeInt(0)
        }
        ("unknown attribute nc_type", p, Seq("unsupported nc_type 11")) },
      { // time as the record dim with 0 records; header is 232 bytes,
        // then depth @232, lat @240, lon @248
        val p = cdf1("emptytime.nc") { o =>
          o.writeInt(0); o.writeInt(0x0A); o.writeInt(4)
          Seq("time" -> 0, "depth" -> 1, "lat" -> 1, "lon" -> 1)
            .foreach { case (nm, n) => ncName(o, nm); o.writeInt(n) }
          o.writeInt(0); o.writeInt(0)
          o.writeInt(0x0B); o.writeInt(4)
          axisVar(o, "time", 0, 1, 256); axisVar(o, "depth", 1, 1, 232)
          axisVar(o, "lat", 2, 1, 240); axisVar(o, "lon", 3, 1, 248)
          Seq(5.0, 20.0, 250.0).foreach(o.writeDouble)
        }
        ("empty time axis", p, Seq("time axis is empty")) })
    cases.foreach { case (input, p, fragments) =>
      val e = intercept[IllegalArgumentException](Nc3.gridSpecOf(p, Nc3.readHeader(p)))
      fragments.foreach(f => assert(e.getMessage.contains(f), s"$input: ${e.getMessage}"))
    }
  }

  for (recordTime <- Seq(true, false); packShort <- Seq(true, false))
    test(s"writer/reader round-trip (recordTime=$recordTime, packShort=$packShort)") {
      val p = tmp(s"rt_${recordTime}_$packShort.nc")
      val grid = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
      Nc3.write(grid, spec, p, packShort = packShort, recordTime = recordTime)
      val gs = Nc3.gridSpecOf(p, Nc3.readHeader(p))
      assert(gs === spec)
      val back = GridIngest.ingestNc(spark, p)
      assert(back.count() ===
        spec.nLat.toLong * spec.nLon * spec.depths.size * spec.times.size)
      // join on cell key; packShort quantizes to 0.001 steps
      val tol = if (packShort) 5.01e-4 else 0.0
      val joined = back.as("a").join(grid.as("b"),
        Seq("time", "depth_idx", "lat_idx", "lon_idx"), "full")
      import org.apache.spark.sql.functions._
      val bad = joined.filter(
        (col("a.water_temp").isNull =!= col("b.water_temp").isNull) ||
        (col("a.salinity").isNull =!= col("b.salinity").isNull) ||
        abs(col("a.water_temp") - col("b.water_temp")) > tol ||
        abs(col("a.salinity") - col("b.salinity")) > tol).count()
      assert(bad === 0)
    }

  test("flagship over NC3-ingested grid == flagship over the synthetic grid") {
    val ncP = tmp("flag.nc")
    val grid = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
    Nc3.write(grid, spec, ncP, packShort = false, recordTime = true)
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
    def profile(df: org.apache.spark.sql.DataFrame) =
      TrackProfile.profile(track, df, spec).collect()
        .map(r => (r.getLong(0), r.getInt(3)) ->
          (Option(r.get(5)).map(_.asInstanceOf[Double]),
           Option(r.get(6)).map(_.asInstanceOf[Double]))).toMap
    val a = profile(GridIngest.ingestNc(spark, ncP))
    val b = profile(grid)
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

  test("ingestToParquet sniffs NetCDF magic and lands the partitioned layout") {
    val p = tmp("sniff.nc")
    Nc3.write(SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec)),
      spec, p, packShort = true, recordTime = true)
    val out = java.nio.file.Files.createTempDirectory("ncpq").toString
    val gs = GridIngest.ingestToParquet(spark, p, out)
    assert(gs === spec)
    import org.apache.spark.sql.functions.col
    val scan = spark.read.parquet(out).filter(col("time") === spec.times.head)
    assert(scan.count() === spec.nLat.toLong * spec.nLon * spec.depths.size)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("time"), plan)
    // writeGrid's layout: one file per core in every time slice
    for (t <- spec.times) {
      val files = new java.io.File(out, s"time=$t").list().filter(_.endsWith(".parquet"))
      assert(files.length === spark.sparkContext.defaultParallelism, files.toSeq)
    }
  }

  test("committed fixture ingests (a real .nc file in the repo)") {
    val fix = "data/hermine_subset.nc"
    val df = GridIngest.ingestNc(spark, fix)
    val gs = Nc3.gridSpecOf(fix, Nc3.readHeader(fix))
    assert(df.count() ===
      gs.nLat.toLong * gs.nLon * gs.depths.size * gs.times.size)
    assert(df.filter(org.apache.spark.sql.functions.col("water_temp").isNotNull).count() > 0)
  }
}
