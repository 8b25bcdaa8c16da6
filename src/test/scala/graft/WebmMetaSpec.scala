package graft

import graft.ext.{Flac, Webm}

/** WebM/Matroska EBML metadata walk + FLAC STREAMINFO: hand-built byte
  * fixtures straight from RFC 8794 / the Matroska registry / the FLAC
  * format spec — never written by a media library.
  */
class WebmMetaSpec extends SparkSpec {

  // ---- EBML writer: id bytes verbatim, size as a minimal VINT
  private def vintSize(n: Long): Array[Byte] = {
    // encode in the fewest bytes where n < 2^(7*len) - 1
    var len = 1
    while (n >= (1L << (7 * len)) - 1) len += 1
    val out = new Array[Byte](len)
    var v = n | (1L << (7 * len)) // marker bit
    var i = len - 1
    while (i >= 0) { out(i) = (v & 0xFF).toByte; v >>= 8; i -= 1 }
    out
  }

  private def idBytes(id: Long): Array[Byte] = {
    var len = 1
    while ((id >> (8 * len)) != 0) len += 1
    val out = new Array[Byte](len)
    var v = id
    var i = len - 1
    while (i >= 0) { out(i) = (v & 0xFF).toByte; v >>= 8; i -= 1 }
    out
  }

  private def el(id: Long, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    idBytes(id) ++ vintSize(body.length.toLong) ++ body
  }

  private def uintBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte)

  private def f8(v: Double): Array[Byte] =
    uintBytes(java.lang.Double.doubleToLongBits(v), 8)

  private def webm(durationTicks: Double = 4500.0,
                   tsScale: Long = 1000000L): Array[Byte] = {
    val header = el(0x1A45DFA3L, el(0x4282L, "webm".getBytes("US-ASCII")))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintBytes(tsScale, 3)),
      el(0x4489L, f8(durationTicks)))
    val videoTrack = el(0xAEL,
      el(0x83L, uintBytes(1, 1)), // TrackType video
      el(0x86L, "V_VP9".getBytes("US-ASCII")),
      el(0xE0L, el(0xB0L, uintBytes(640, 2)), el(0xBAL, uintBytes(360, 2))))
    val audioTrack = el(0xAEL,
      el(0x83L, uintBytes(2, 1)),
      el(0x86L, "A_OPUS".getBytes("US-ASCII")),
      el(0xE1L, el(0xB5L, f8(48000.0)), el(0x9FL, uintBytes(2, 1))))
    val tracks = el(0x1654AE6BL, videoTrack, audioTrack)
    header ++ el(0x18538067L, info, tracks)
  }

  test("webm: doc type, duration, video dims, audio rate from a hand-built EBML tree") {
    val m = Webm.metaOrNull(webm())
    assert(m != null)
    assert(m._1 === "webm")
    assert(math.abs(m._2 - 4.5) < 1e-9) // 4500 ticks x 1ms
    assert(m._3 === "V_VP9" && m._4 === 640L && m._5 === 360L)
    assert(m._6 === "A_OPUS" && math.abs(m._7 - 48000.0) < 1e-9 && m._8 === 2L)
  }

  test("webm: unknown-size Segment (streamed form) still parses") {
    val header = el(0x1A45DFA3L, el(0x4282L, "matroska".getBytes("US-ASCII")))
    val info = el(0x1549A966L, el(0x4489L, f8(1000.0)))
    val tracks = el(0x1654AE6BL, el(0xAEL,
      el(0x83L, uintBytes(1, 1)),
      el(0x86L, "V_AV1".getBytes("US-ASCII")),
      el(0xE0L, el(0xB0L, uintBytes(1920, 2)), el(0xBAL, uintBytes(1080, 2)))))
    val segBody = info ++ tracks
    // size byte 0xFF = all-VINT_DATA-ones in 1 byte = unknown
    val seg = idBytes(0x18538067L) ++ Array(0xFF.toByte) ++ segBody
    val m = Webm.metaOrNull(header ++ seg)
    assert(m != null)
    assert(m._1 === "matroska" && m._3 === "V_AV1" && m._4 === 1920L && m._5 === 1080L)
    assert(math.abs(m._2 - 1.0) < 1e-9) // default 1ms scale
  }

  test("webm: prefix-fetched blob (known-size Segment cut mid-Cluster) still parses") {
    // the common corpus shape: a seekable WebM whose Segment size is
    // the full file length, fetched as a prefix holding Info+Tracks
    // but cut inside the first Cluster — metadata must still come out
    val header = el(0x1A45DFA3L, el(0x4282L, "webm".getBytes("US-ASCII")))
    val info = el(0x1549A966L, el(0x2AD7B1L, uintBytes(1000000L, 3)),
      el(0x4489L, f8(2000.0)))
    val tracks = el(0x1654AE6BL, el(0xAEL,
      el(0x83L, uintBytes(1, 1)),
      el(0x86L, "V_VP8".getBytes("US-ASCII")),
      el(0xE0L, el(0xB0L, uintBytes(320, 2)), el(0xBAL, uintBytes(240, 2)))))
    val cluster = el(0x1F43B675L, new Array[Byte](5000)) // payload to cut
    val segBody = info ++ tracks ++ cluster
    val seg = idBytes(0x18538067L) ++ vintSize(segBody.length.toLong) ++ segBody
    val full = header ++ seg
    val prefix = full.take(header.length + 10 + info.length + tracks.length + 40)
    val m = Webm.metaOrNull(prefix)
    assert(m != null, "prefix fetch must not null out present metadata")
    assert(m._3 === "V_VP8" && m._4 === 320L && m._5 === 240L)
    assert(math.abs(m._2 - 2.0) < 1e-9)
  }

  test("webm: malformed and non-EBML payloads null, never throw") {
    assert(Webm.metaOrNull(null) === null)
    assert(Webm.metaOrNull("RIFFjunk".getBytes) === null)
    val good = webm()
    for (cut <- Seq(2, 6, good.length / 2, good.length - 2))
      Webm.metaOrNull(good.take(cut)) // no throw
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 300) {
      val m = good.clone()
      for (_ <- 0 to rnd.nextInt(4)) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      Webm.metaOrNull(m)
    }
  }

  // ---- FLAC
  private def flac(rate: Long = 44100L, channels: Int = 2, bps: Int = 16,
                   total: Long = 441000L): Array[Byte] = {
    val si = new Array[Byte](34)
    // blocksizes/framesizes (10 bytes) left zero
    si(10) = ((rate >> 12) & 0xFF).toByte
    si(11) = ((rate >> 4) & 0xFF).toByte
    si(12) = (((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bps - 1) >> 4)).toByte
    si(13) = ((((bps - 1) & 0xF) << 4) | ((total >> 32) & 0xF)).toByte
    si(14) = ((total >> 24) & 0xFF).toByte
    si(15) = ((total >> 16) & 0xFF).toByte
    si(16) = ((total >> 8) & 0xFF).toByte
    si(17) = (total & 0xFF).toByte
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ si // last-block flag + type 0
  }

  test("flac: STREAMINFO fields and duration") {
    val m = Flac.metaOrNull(flac())
    assert(m != null)
    assert(m._1 === 44100L && m._2 === 2 && m._3 === 16 && m._4 === 441000L)
    assert(math.abs(m._5 - 10.0) < 1e-9)
    // 96kHz/24-bit/1ch variant exercises the cross-byte bit packing
    val hi = Flac.metaOrNull(flac(96000L, 1, 24, 96000L * 7))
    assert(hi._1 === 96000L && hi._2 === 1 && hi._3 === 24)
    assert(math.abs(hi._5 - 7.0) < 1e-9)
  }

  test("flac: malformed payloads null, never throw") {
    assert(Flac.metaOrNull(null) === null)
    assert(Flac.metaOrNull("fLaX1234".getBytes) === null)
    val good = flac()
    for (cut <- Seq(3, 7, 20)) Flac.metaOrNull(good.take(cut))
    val rnd = new scala.util.Random(9)
    for (_ <- 0 until 200) {
      val m = good.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      Flac.metaOrNull(m)
    }
  }

  test("SQL surface: webm_meta / flac_meta route by content") {
    graft.GraftExtensions.install(spark)
    val assets = spark.createDataFrame(Seq(
      (1L, webm()), (2L, flac()), (3L, "junk".getBytes))).toDF("id", "content")
    assets.createOrReplaceTempView("wassets")
    val v = spark.sql("SELECT id, webm_meta(content).video_codec vc, flac_meta(content).sample_rate sr FROM wassets ORDER BY id").collect()
    assert(v(0).getString(1) === "V_VP9" && v(0).isNullAt(2))
    assert(v(1).isNullAt(1) && v(1).getLong(2) === 44100L)
    assert(v(2).isNullAt(1) && v(2).isNullAt(2))
  }
}
