package graft

import org.apache.spark.sql.functions._
import graft.ext.Multimodal

/** Multimodal binary-column plumbing over the committed KMZ's real
  * PNGs (9 embedded icons/legend).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val kmz = "data/al092016_best_track.kmz"

  private lazy val assets =
    Multimodal.readZipAssets(spark, kmz, Seq("png"))

  test("zip asset scan: 9 PNGs with payloads") {
    val rows = assets.select($"entry", length($"content")).as[(String, Int)]
      .collect().toMap
    assert(rows.size === 9)
    assert(rows("cat1_nhemi.png") === 3534)
    assert(rows("breakPoint_legend.png") === 4409)
  }

  test("PNG IHDR metadata decoded via pure built-ins (no UDF)") {
    val meta = Multimodal.withPngMeta(assets)
      .select($"entry", $"meta.width", $"meta.height", $"meta.bit_depth", $"meta.color_type")
      .as[(String, Long, Long, Int, Int)].collect()
      .map { case (k, w, h, b, c) => k -> ((w, h, b, c)) }.toMap
    // ground truth from independent struct.unpack of the same files
    assert(meta("breakPoint_legend.png") === ((400L, 65L, 8, 3)))
    assert(meta("cat1_nhemi.png") === ((32L, 32L, 8, 6)))
    assert(meta("ts_nhemi.png") === ((32L, 32L, 8, 6)))
    // plan stays UDF-free / codegen-friendly
    val plan = Multimodal.withPngMeta(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("feature stub: deterministic, schema array<double>, bounded values") {
    val f1 = Multimodal.withFeatureStub(assets, dim = 16)
      .select($"entry", $"features").as[(String, Seq[Double])].collect().toMap
    val f2 = Multimodal.withFeatureStub(assets, dim = 16)
      .select($"entry", $"features").as[(String, Seq[Double])].collect().toMap
    assert(f1 === f2) // deterministic
    assert(f1.values.forall(v => v.size == 16 && v.forall(x => x >= -1.0 && x < 1.0)))
    // distinct payloads -> distinct features
    assert(f1("cat1_nhemi.png") !== f1("cat2_nhemi.png"))
  }

  test("chunk sampling: every stride-th fixed-size chunk, content dropped") {
    val chunks = Multimodal.sampleChunks(assets.filter($"entry" === "cat1_nhemi.png"),
      chunkBytes = 1000, stride = 2)
    val got = chunks.select($"chunk_idx", length($"chunk")).as[(Int, Int)]
      .collect().sortBy(_._1)
    // 3534 bytes -> chunks 0..3; stride 2 -> 0 and 2, both full 1000B
    assert(got.map(_._1).toSeq === Seq(0, 2))
    assert(got.forall(_._2 === 1000))
    assert(!chunks.columns.contains("content"))
  }

  test("chunk sampling: zero-length payload emits zero rows (ADVICE r2)") {
    val empty = Seq(("empty.bin", Array.emptyByteArray)).toDF("entry", "content")
    assert(Multimodal.sampleChunks(empty, chunkBytes = 1000, stride = 2).count() === 0)
  }

  test("stub features flow into SimJoin (multimodal similarity plumbing)") {
    val feats = Multimodal.withFeatureStub(assets, dim = 16)
      .select(monotonically_increasing_id().as("vec_id"), $"features".as("v"))
    val out = graft.ext.SimJoin.bruteForceTopK(feats, feats.limit(2), "vec_id", "v", k = 3)
    assert(out.count() === 6) // 2 queries x top-3
  }

  test("REAL PNG pixel decode: features match an independent python decoder bit-for-bit-ish") {
    // ground truth computed with an independent pure-python decoder
    // (zlib.decompress + unfilter + Rec.601) over the same committed
    // files: [mean/255, std/255, hist bins 0..3, hist bin 15]
    val f = Multimodal.withPngFeatures(assets, nBins = 16)
      .select($"entry", $"features").as[(String, Seq[Double])].collect().toMap
    def check(entry: String, mean: Double, std: Double, h03: Seq[Double], h15: Double): Unit = {
      val v = f(entry)
      assert(v.size === 18)
      assert(math.abs(v(0) - mean) < 1e-9, s"$entry mean ${v(0)}")
      assert(math.abs(v(1) - std) < 1e-9, s"$entry std ${v(1)}")
      h03.zipWithIndex.foreach { case (x, i) =>
        assert(math.abs(v(2 + i) - x) < 1e-9, s"$entry bin$i ${v(2 + i)}") }
      assert(math.abs(v(17) - h15) < 1e-9, s"$entry bin15 ${v(17)}")
    }
    // RGBA (color type 6)
    check("cat1_nhemi.png", 0.726634858, 0.376114112,
      Seq(0.09375, 0.016601562, 0.010742188, 0.01171875), 0.629882812)
    check("td_nhemi.png", 0.740908088, 0.364221593,
      Seq(0.075195312, 0.009765625, 0.009765625, 0.009765625), 0.651367188)
    // palette (color type 3, PLTE lookup)
    check("breakPoint_legend.png", 0.882018489, 0.274737976,
      Seq(0.028576923, 0.005269231, 0.043769231, 0.005115385), 0.811576923)
  }

  test("PNG features: non-PNG payload -> null; plan stays codegen (no UDF)") {
    val mixed = Seq(("not_png.bin", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))).toDF("entry", "content")
    val out = Multimodal.withPngFeatures(mixed).select($"features").collect()
    assert(out.head.isNullAt(0))
    val plan = Multimodal.withPngFeatures(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    assert(plan.contains("png_gray_features"), plan)
  }

  // -------------------------------------------------------- WAV audio

  /** Canonical RIFF/WAVE writer (test-side ground truth): interleaved
    * integer frames, optional LIST chunk BEFORE fmt to exercise the
    * decoder's chunk walk.
    */
  private def wavBytes(channels: Int, sampleRate: Int, bits: Int,
                       frames: Seq[Seq[Long]], listChunk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit = (0 until n).foreach(i => bos.write(((v >> (8 * i)) & 0xff).toInt))
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val bytesPer = bits / 8
    val dataLen = frames.size * channels * bytesPer
    val listLen = if (listChunk) 8 + 4 else 0 // "LIST" + size + "INFO"
    ascii("RIFF"); le(4 + listLen + 24 + 8 + dataLen, 4); ascii("WAVE")
    if (listChunk) { ascii("LIST"); le(4, 4); ascii("INFO") }
    ascii("fmt "); le(16, 4)
    le(1, 2); le(channels, 2); le(sampleRate, 4)
    le(sampleRate.toLong * channels * bytesPer, 4); le(channels * bytesPer, 2); le(bits, 2)
    ascii("data"); le(dataLen, 4)
    frames.foreach(_.foreach { s =>
      if (bits == 8) bos.write((s + 128).toInt) else le(s, bytesPer)
    })
    bos.toByteArray
  }

  test("REAL WAV PCM decode: exact rms/mean/peak/zcr on a known square wave") {
    // 16-bit mono alternating +/-1000: rms = peak = 1000/32768,
    // mean = 0, every consecutive pair crosses zero -> zcr = 1
    val sq = (0 until 100).map(i => Seq(if (i % 2 == 0) 1000L else -1000L))
    val df = Seq(("sq.wav", wavBytes(1, 8000, 16, sq))).toDF("entry", "content")
    val f = Multimodal.withWavFeatures(df).select($"features").as[Seq[Double]].head()
    assert(f === Seq(1.0, 8000.0, 16.0, 100.0,
      1000.0 / 32768.0, 0.0, 1000.0 / 32768.0, 1.0))
  }

  test("WAV decode: stereo channel averaging + 8-bit unsigned + LIST chunk walk") {
    // stereo 8-bit frames (L, R) -> mono (L+R)/2/128: (64,-64)->0, (64,64)->0.5
    val st = Seq(Seq(64L, -64L), Seq(64L, 64L), Seq(-64L, -64L), Seq(64L, -64L))
    val df = Seq(("st.wav", wavBytes(2, 44100, 8, st, listChunk = true)))
      .toDF("entry", "content")
    val meta = Multimodal.withWavMeta(df)
      .select($"meta.channels", $"meta.sample_rate", $"meta.bits_per_sample",
        $"meta.n_frames", $"meta.duration_sec")
      .as[(Int, Long, Int, Long, Double)].head()
    assert(meta === ((2, 44100L, 8, 4L, 4.0 / 44100.0)))
    val f = Multimodal.withWavFeatures(df).select($"features").as[Seq[Double]].head()
    val mono = Seq(0.0, 0.5, -0.5, 0.0)
    assert(f(4) === math.sqrt(mono.map(x => x * x).sum / 4)) // rms
    assert(f(5) === 0.0 && f(6) === 0.5)                     // mean, peak
    assert(f(7) === 1.0 / 3.0)  // one crossing among 3 consecutive-nonzero gaps... sign pairs: (0,+),(+,-),(-,0)
  }

  test("WAV decode: 24-bit and 32-bit PCM, sign extension exact") {
    // 24-bit: full-scale divisor 2^23; value -2^22 -> -0.5 (sign-extended)
    val s24 = Seq(Seq(1L << 22), Seq(-(1L << 22)), Seq(1L << 22), Seq(-(1L << 22)))
    val f24 = Multimodal.withWavFeatures(
        Seq(("a.wav", wavBytes(1, 48000, 24, s24))).toDF("entry", "content"))
      .select($"features").as[Seq[Double]].head()
    assert(f24 === Seq(1.0, 48000.0, 24.0, 4.0, 0.5, 0.0, 0.5, 1.0))
    // 32-bit: divisor 2^31
    val s32 = Seq(Seq(1L << 30), Seq(1L << 30))
    val f32 = Multimodal.withWavFeatures(
        Seq(("b.wav", wavBytes(1, 48000, 32, s32))).toDF("entry", "content"))
      .select($"features").as[Seq[Double]].head()
    assert(f32(4) === 0.5 && f32(6) === 0.5 && f32(7) === 0.0)
  }

  test("WAV features: non-WAV payload -> null; plan stays codegen (no UDF)") {
    val mixed = Seq(("not_wav.bin", Array[Byte](82, 73, 70, 70, 1, 2, 3, 4)))
      .toDF("entry", "content")
    assert(Multimodal.withWavFeatures(mixed).select($"features").collect().head.isNullAt(0))
    // plan assert over the file-backed table (a local literal relation
    // constant-folds the whole projection into its LocalTableScan)
    val plan = Multimodal.withWavFeatures(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
    assert(plan.contains("wav_pcm_features"), plan)
  }

  test("modality router: PNG -> pixel features, WAV -> sample features, other -> stub") {
    val wav = wavBytes(1, 8000, 16, (0 until 10).map(_ => Seq(500L)))
    val png = assets.filter($"entry" === "cat1_nhemi.png")
      .select($"entry", $"content").as[(String, Array[Byte])].head()._2
    val rows = Seq(("a.png", png), ("b.wav", wav), ("c.mp4", Array[Byte](0, 1, 2)))
      .toDF("entry", "content")
    val got = Multimodal.withFeatures(rows, nBins = 16, stubDim = 12)
      .select($"entry", $"features").as[(String, Seq[Double])].collect().toMap
    assert(got("a.png").size === 18)          // 2 moments + 16 bins
    assert(got("b.wav").size === 8)           // wav feature vector
    assert(got("b.wav")(3) === 10.0)          // n_frames slot — real decode
    assert(got("c.mp4").size === 12)          // stub dim
    assert(got("c.mp4").forall(x => x >= -1.0 && x < 1.0))
  }

  // -------------------------------------------------------- MP4 video

  /** Minimal ISO BMFF writer: ftyp + moov(mvhd v0/v1, n empty traks),
    * big-endian box sizes — the container layout the walk must parse.
    */
  private def mp4Bytes(timescale: Long, duration: Long, nTracks: Int,
                       mvhdV1: Boolean = false): Array[Byte] = {
    def be(v: Long, n: Int): Seq[Byte] =
      (n - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def box(tp: String, payload: Seq[Byte]): Seq[Byte] =
      be(payload.size + 8L, 4) ++ tp.getBytes("US-ASCII") ++ payload
    val mvhd =
      if (mvhdV1) box("mvhd", Seq[Byte](1, 0, 0, 0) ++
        be(0, 8) ++ be(0, 8) ++ be(timescale, 4) ++ be(duration, 8))
      else box("mvhd", Seq[Byte](0, 0, 0, 0) ++
        be(0, 4) ++ be(0, 4) ++ be(timescale, 4) ++ be(duration, 4))
    val traks = (0 until nTracks).flatMap(_ => box("trak", Seq.empty))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII").toSeq ++ be(512, 4))
    (ftyp ++ box("moov", mvhd ++ traks)).toArray
  }

  test("REAL MP4 box walk: brand, timescale, duration, track count (v0 and v1 mvhd)") {
    val rows = Seq(
      ("a.mp4", mp4Bytes(timescale = 600, duration = 3000, nTracks = 2)),
      ("b.mp4", mp4Bytes(timescale = 90000, duration = 450000, nTracks = 3, mvhdV1 = true)),
      // timescale 0 must route to null, not a NaN duration struct
      ("ts0.mp4", mp4Bytes(timescale = 0, duration = 3000, nTracks = 1)),
      ("junk.bin", Array[Byte](0, 0, 0, 8, 1, 2, 3, 4)))
      .toDF("entry", "content")
    val got = Multimodal.withMp4Meta(rows)
      .select($"entry", $"meta.major_brand", $"meta.timescale",
        $"meta.duration_sec", $"meta.n_tracks")
      .as[(String, Option[String], Option[Long], Option[Double], Option[Int])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a.mp4") === ((Some("isom"), Some(600L), Some(5.0), Some(2))))
    assert(got("b.mp4") === ((Some("isom"), Some(90000L), Some(5.0), Some(3))))
    assert(got("junk.bin") === ((None, None, None, None)))
    assert(got("ts0.mp4") === ((None, None, None, None)))
    // codegen plan, no UDF (file-backed table for the plan assert)
    val plan = Multimodal.withMp4Meta(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && plan.contains("mp4_meta"), plan)
  }

  test("REAL features flow into SimJoin: visually-similar storm icons cluster") {
    // the 8 32x32 storm icons are variations of one glyph; the legend
    // is a different image entirely — nearest neighbor of an icon (by
    // cosine over real pixel features) must be another icon, not the legend
    val feats = Multimodal.withPngFeatures(assets)
      .filter($"features".isNotNull)
      .select($"entry", $"features".as("v"))
    val q = feats.filter($"entry" === "cat1_nhemi.png")
      .select($"entry".as("q_entry"), $"v")
    val scored = feats.filter($"entry" =!= "cat1_nhemi.png")
      .crossJoin(q.select($"v".as("qv")))
      .withColumn("cos", graft.ext.SimJoin.cosine($"v", $"qv"))
      .orderBy($"cos".desc)
    val best = scored.select($"entry").as[String].head()
    assert(best.endsWith("_nhemi.png"), s"nearest to cat1 was $best")
  }
}
