package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{graftbridge => gb}
import org.apache.spark.sql.types._

import graft.ext._
import graft.fn._

/** The kernel expressions of `graft.fn` have two evaluation paths:
  * `eval` (interpreted) and `doGenCode` (generated Java). This suite
  * runs every kernel expression with a static-call body over one
  * parquet-backed table (a local relation would be constant-folded on
  * the driver) of fixture payloads, texts and vectors, plus an all-null
  * row and a 3-byte junk row, once with whole-stage codegen and no
  * silent fallback to the interpreter, once fully interpreted, and
  * asserts equal rows.
  */
class KernelParitySpec extends SparkSpec {

  private def c(e: Expression): Column = gb.column(e)
  private def e(name: String): Expression = gb.expression(col(name))

  private def image(format: String): Array[Byte] = {
    val img = new BufferedImage(24, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24)
      img.setRGB(x, y, (x * 10) << 16 | (y * 15) << 8 | (x + y) * 5)
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  private val payloads: Seq[Array[Byte]] = Seq(
    VideoFixtures.multiRefGop(0), VideoFixtures.bGop(1), VideoFixtures.wGopMp4(2),
    VideoFixtures.multiRefGopFragmented(3), VideoFixtures.bGopPts(4), VideoFixtures.bGopElst(5),
    Av1Fixtures.doc(0), Av1Fixtures.doc(1), Av1Fixtures.doc(2), Av1Fixtures.avif(3),
    AudioFixtures.profileDoc(0), AudioFixtures.profileDoc(1),
    Mp3Fixtures.stream(0), OggFixtures.stream(0), OggFixtures.stream(1),
    OpusFixtures.stream(0), VorbisPcmFixtures.stream(0),
    PdfFixtures.pdf(0), PdfFixtures.pdf(1),
    SubtitleFixtures.wvttMp4(0), SubtitleFixtures.stppMp4(1), SubtitleFixtures.encodedDoc(1),
    WebmFixtures.subtitleWebm(0), WebmFixtures.blockWebm(0), Vp8WebmSynth.doc(0),
    image("png"), image("jpg"), image("gif"), image("bmp"),
    "<html><head><meta charset=\"windows-1252\"></head><body>café</body></html>".getBytes(UTF_8),
    "naïve résumé".getBytes("windows-1252"))

  private val texts: Seq[String] = Seq(
    BoilerplateFixtures.fixtureHtml(0), BoilerplateFixtures.fixtureHtml(1),
    SubtitleFixtures.doc(0), SubtitleFixtures.doc(1),
    ManifestFixtures.m3u8(0), ManifestFixtures.m3u8(1), ManifestFixtures.mpd(0),
    LangIdFixtures.doc("en", 1), LangIdFixtures.doc("de", 2),
    "mail a.b@example.com or call +1 (555) 123-4567 from 10.0.0.1 today",
    "<p>it&#8217;s &amp; &lt;b&gt; &#x1F600; &nbsp;done</p><script>x()</script>",
    "User-agent: graftbot\nDisallow: /private\nAllow: /private/ok\n",
    "the cat sat the cat sat the cat sat on the mat on the mat again and again")

  private lazy val table: DataFrame = {
    val rnd = new java.util.Random(14)
    def vec(n: Int) = Seq.fill(n)(rnd.nextDouble() * 2 - 1)
    val n = math.max(payloads.size, texts.size)
    val rows = (0 until n).map { k =>
      Row(k, (k % 6).toLong, payloads(k % payloads.size), texts(k % texts.size),
        Seq("", "utf-8", "text/html; charset=shift_jis", "graftbot")(k % 4),
        Seq("/", "/private/x", "/private/ok")(k % 3),
        vec(5), vec(5), Seq.fill(5)(rnd.nextInt(255) - 127), 0.01 * (k + 1),
        Seq(1L, 8L), Seq(4L, 12L))
    } ++ Seq(
      Row(n, null, null, null, null, null, null, null, null, null, null, null),
      Row(n + 1, 7L, Array[Byte](1, 2, 3), "\u0001a\u0002", "x\u0000y", "?",
        Seq(Double.NaN, 0.0, 1.0), Seq(0.0, 0.0, 0.0), Seq(1, 2, 3), 0.0,
        Seq(3L), Seq(2L)))
    val schema = StructType(Seq(
      StructField("k", IntegerType, nullable = false), StructField("id", LongType),
      StructField("bin", BinaryType), StructField("text", StringType),
      StructField("label", StringType), StructField("path", StringType),
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
      StructField("q", ArrayType(IntegerType)), StructField("s", DoubleType),
      StructField("st", ArrayType(LongType)), StructField("en", ArrayType(LongType))))
    val dir = java.nio.file.Files.createTempDirectory("kernelparity").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Binary-payload kernels. */
  private def binaryKernels: Seq[(String, Column)] = {
    val b = e("bin")
    Seq(
      "png_gray_features" -> c(PngGrayFeatures(b)),
      "jpeg_gray_features" -> c(JpegGrayFeatures(b)),
      "apng_frame_features" -> c(ApngFrameFeatures(b)),
      "gif_frame_features" -> c(GifFrameFeatures(b, 8, 1, 4)),
      "mjpeg_frame_features" -> c(MjpegFrameFeatures(b)),
      "mp4_meta" -> c(Mp4Meta(b)),
      "mp4_avc_meta" -> c(Mp4AvcMeta(b)),
      "mp4_hevc_meta" -> c(Mp4HevcMeta(b)),
      "mp4_sync_offsets" -> c(Mp4SyncOffsets(b, 4)),
      "mp4_keyframe_thumb" -> c(Mp4KeyframeThumb(b, 4, 3)),
      "mp4_keyframe_dhash64" -> c(Mp4KeyframeDhash64(b)),
      "mp4_keyframe_features" -> c(Mp4KeyframeFeatures(b, 8)),
      "mp4_keyframe_dhashes" -> c(Mp4KeyframeDhashes(b, 4)),
      "h264_keyframe_frames" -> c(H264KeyframeFrames(b, 8)),
      "h264_gop_frames" -> c(H264GopFrames(b, 8)),
      "h264_gop_dhashes" -> c(H264GopDhashes(b, 4)),
      "h264_clip_frames" -> c(H264ClipFrames(b, 8, 40.0, 3, 8)),
      "av1_meta" -> c(Av1Meta(b)),
      "audio_fingerprint64" -> c(AudioFingerprint64(b)),
      "audio_profile" -> c(AudioProfile(b)),
      "audio_meta" -> c(AudioMeta(b)),
      "wav_pcm_features" -> c(WavPcmFeatures(b)),
      "flac_pcm_features" -> c(FlacPcmFeatures(b)),
      "flac_meta" -> c(FlacMeta(b)),
      "webm_meta" -> c(WebmMeta(b)),
      "image_dims" -> c(ImageDims(b)),
      "image_codec_profile" -> c(ImageCodecProfile(b)),
      "gray_thumbnail" -> c(GrayThumbnail(b, 4, 3)),
      "image_dhash64" -> c(ImageDhash64(b)),
      "charset_sniff" -> c(CharsetSniff(b)),
      "charset_decode" -> c(CharsetDecode(e("label"), b)),
      "charset_detect" -> c(CharsetDetect(e("label"), b)),
      "mp3_side_stats" -> c(Mp3SideStats(b)),
      "ogg_stream_meta" -> c(OggStreamMeta(b)),
      "vorbis_setup_stats" -> c(VorbisSetupStats(b)),
      "vorbis_setup_full" -> c(VorbisSetupFull(b)),
      "vorbis_pcm_stats" -> c(VorbisPcmStats(b)),
      "opus_toc_stats" -> c(OpusTocStats(b)),
      "pdf_text" -> c(PdfTextStats(b)),
      "mp4_subtitle_cues" -> c(Mp4SubtitleCues(b)),
      "webm_subtitle_cues" -> c(WebmSubtitleCues(b)),
      "webm_block_index" -> c(WebmBlockIndex(b, 8)),
      "webm_vp8_dhashes" -> c(WebmVp8Dhashes(b, 4)),
      "video_kf_dhashes" -> c(VideoKeyframeDhashes(b, 4)),
      "video_gop_dhashes" -> c(VideoGopDhashes(b, 4)))
  }

  /** Text kernels. */
  private def textKernels: Seq[(String, Column)] = {
    val t = e("text")
    Seq(
      "justext_blocks" -> c(JustextBlocks(t)),
      "main_text" -> c(MainText(t)),
      "char_windows" -> c(CharWindowHashes(t, 8)),
      "char_windows_xx" -> c(CharWindowHashes(t, 8, xx = true)),
      "strip_char_spans" -> c(StripCharSpans(t, e("st"), e("en"))),
      "html_text" -> c(HtmlText(t)),
      "html_text_full" -> c(HtmlText(t, numericRefs = true)),
      "hls_variants" -> c(HlsVariants(t)),
      "hls_segments" -> c(HlsSegments(t)),
      "mpd_representations" -> c(MpdRepresentations(t)),
      "minhash_sig" -> c(MinhashSig(t, 3, 4)),
      "pii_scan" -> c(PiiScan(t)),
      "repetition_profile" -> c(RepetitionProfile(t)),
      "robots_allowed" -> c(RobotsAllowed(t, e("label"), e("path"))),
      "subtitle_cues" -> c(SubtitleCues(t)),
      "term_counts" -> c(TermCounts(t)),
      "ngram_counts" -> c(NgramCounts(t, 2)),
      "text_profile" -> c(TextProfile(t)),
      "winnow_fps" -> c(WinnowFingerprints(t, 3, 4)),
      "winnow_fps_xx" -> c(WinnowFingerprints(t, 3, 4, xx = true)),
      "word_shingles" -> c(WordShingles(t, 2)))
  }

  /** Vector kernels. */
  private def vectorKernels: Seq[(String, Column)] = {
    val (a, b) = (e("a"), e("b"))
    Seq(
      "dot_product" -> c(ArrayDotProduct(a, b)),
      "cosine_sim" -> c(CosineSim(a, b)),
      "cosine_sim_q8" -> c(CosineSimQ8(a, e("q"), e("s"))),
      "int8_scale" -> c(Int8Scale(a)),
      "quantize_int8" -> c(QuantizeInt8(a, e("s"))),
      "polyfit_solve" -> c(PolyfitSolve(a, gb.expression(slice(col("b"), 1, 3)))),
      "lang_id_predict" -> c(LangIdPredict(a)))
  }

  /** Fixture generators keyed by doc id. */
  private def idKernels: Seq[(String, Column)] = {
    val id = e("id")
    Seq(
      "mp4_multiref_synth" -> c(Mp4MultiRefSynth(id)),
      "mp4_bgop_synth" -> c(Mp4BGopSynth(id)),
      "mp4_wgop_synth" -> c(Mp4WGopSynth(id)),
      "mp4_fmp4_synth" -> c(Mp4Fmp4Synth(id)),
      "mp4_bgop_pts_synth" -> c(Mp4BGopPtsSynth(id)),
      "mp4_elst_synth" -> c(Mp4ElstSynth(id)),
      "av1_synth" -> c(Av1Synth(id)),
      "avif_synth" -> c(AvifSynth(id)),
      "audio_profile_synth" -> c(AudioProfileSynth(id)),
      "justext_synth" -> c(JustextSynth(id)),
      "m3u8_synth" -> c(M3u8Synth(id)),
      "mpd_synth" -> c(MpdSynth(id)),
      "mp3_synth" -> c(Mp3Synth(id)),
      "ogg_synth" -> c(OggSynth(id)),
      "opus_synth" -> c(OpusSynth(id)),
      "vorbis_pcm_synth" -> c(VorbisPcmSynth(id)),
      "vorbis_encode_synth" -> c(VorbisEncodeSynth(id)),
      "pdf_synth" -> c(PdfSynth(id)),
      "subtitle_synth" -> c(SubtitleSynth(id)),
      "mp4_subtitle_synth" -> c(Mp4SubtitleSynth(id)),
      "mp4_ttml_synth" -> c(Mp4TtmlSynth(id)),
      "subtitle_enc_synth" -> c(SubtitleEncSynth(id)),
      "webm_subtitle_synth" -> c(WebmSubtitleSynth(id)),
      "webm_block_synth" -> c(WebmBlockSynth(id)),
      "vp8_webm_synth" -> c(Vp8WebmSynth(id)),
      "webm_vorbis_agree" -> c(WebmVorbisAgree(id)))
  }

  private val codegenConf = Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpretedConf = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Per kernel, the rows' values ordered by row key. */
  private def run(kernels: Seq[(String, Column)], rows: DataFrame): Map[String, Seq[String]] = {
    val got = rows.select(col("k") +: kernels.map { case (n, k) => k.as(n) }: _*)
      .collect().sortBy(_.getInt(0))
    kernels.map(_._1).zipWithIndex.map { case (n, i) =>
      n -> got.map(r => canon(r.get(i + 1))).toSeq
    }.toMap
  }

  private def assertParity(kernels: Seq[(String, Column)], rows: DataFrame): Unit = {
    val generated = withConf(codegenConf)(run(kernels, rows))
    val interpreted = withConf(interpretedConf)(run(kernels, rows))
    val diffs = kernels.map(_._1).filter(n => generated(n) != interpreted(n)).map { n =>
      val at = generated(n).zip(interpreted(n)).indexWhere { case (g, i) => g != i }
      s"$n: row $at codegen=${generated(n)(at).take(200)} " +
        s"interpreted=${interpreted(n)(at).take(200)}"
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
    // the fixtures reach past the null branch of most kernels
    val live = kernels.map(_._1).count(n => generated(n).exists(_ != "null"))
    assert(live >= kernels.size / 2, s"only $live of ${kernels.size} kernels returned a value")
  }

  test("binary-payload kernels: codegen and interpreted rows agree") {
    assertParity(binaryKernels, table)
  }

  test("text kernels: codegen and interpreted rows agree") {
    assertParity(textKernels, table)
  }

  test("vector kernels: codegen and interpreted rows agree") {
    assertParity(vectorKernels, table)
  }

  test("fixture generators: codegen and interpreted rows agree") {
    assertParity(idKernels, table)
  }
}
