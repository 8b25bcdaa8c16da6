package graft

import org.apache.spark.sql.functions.sum

/** The round-10 media kernels (`mp3_synth`/`mp3_side_stats`,
  * `ogg_synth`/`ogg_stream_meta`) through their SQL surface: values
  * match the closed forms AND the whole chain stays a single
  * whole-stage-codegen span with no shuffle — the q137/q138 scale
  * shape (per-row narrow kernels; the only exchange in those queries
  * is their final presentation sort).
  */
class MediaSynthPlanSpec extends SparkSpec {

  test("mp3/ogg synth+walk kernels: one codegen span, no shuffle, exact sums") {
    GraftExtensions.install(spark)
    // spark.range keeps the plan lazy (the WebOpsSpec discipline: a
    // local Seq constant-folds and proves nothing)
    val df = spark.range(30)
      .selectExpr("mp3_side_stats(mp3_synth(id)) AS m",
        "ogg_stream_meta(ogg_synth(id)) AS o")
      .selectExpr("m.n_frames AS nf", "o.n_pages AS np")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan)
    val r = df.agg(sum("nf"), sum("np")).head
    // Σ_{id<30} (2 + id%3) = 10·(2+3+4) = 90
    assert(r.getLong(0) === 90L)
    // Σ_{id<30} (3 + 3 + id%4) = 30·6 + (7·6 + 0 + 1) = 223
    assert(r.getLong(1) === 223L)
  }

  test("vorbis decode kernel: one codegen span, no shuffle, closed-form sums") {
    GraftExtensions.install(spark)
    val df = spark.range(20)
      .selectExpr("vorbis_pcm_stats(vorbis_pcm_synth(id)) AS v")
      .selectExpr("v.n_packets AS np", "v.pcm_samples AS ps")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan)
    val r = df.agg(sum("np"), sum("ps")).head
    val expNp = (0L until 20L).map(d => graft.ext.VorbisPcmFixtures.nAudio(d).toLong).sum
    val expPs = (0L until 20L).map(d =>
      graft.ext.VorbisPcmFixtures.granuleAfter(d,
        graft.ext.VorbisPcmFixtures.nAudio(d) - 1)).sum
    assert(r.getLong(0) === expNp)
    assert(r.getLong(1) === expPs)
  }

  test("pdf synth+extract kernels: one codegen span, no shuffle, closed forms") {
    GraftExtensions.install(spark)
    val df = spark.range(40)
      .selectExpr("pdf_text(pdf_synth(id)) AS p")
      .selectExpr("p.n_pages AS np", "p.n_objects AS no", "p.n_chars AS nc")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan)
    val r = df.agg(sum("np"), sum("no"), sum("nc")).head
    val ids = 0L until 40L
    assert(r.getLong(0) === ids.map(graft.ext.PdfFixtures.expectedPages(_).toLong).sum)
    assert(r.getLong(1) === ids.map(graft.ext.PdfFixtures.expectedObjects(_).toLong).sum)
    assert(r.getLong(2) === ids.map { i =>
      val t = graft.ext.PdfFixtures.expectedText(i)
      t.codePointCount(0, t.length).toLong
    }.sum)
  }

  test("round-12 video synth+decode kernels: one codegen span, no shuffle, closed-form sums") {
    GraftExtensions.install(spark)
    // sum of per-GOP frame means through every round-12 synth family:
    // multi-ref (stbl), the same frames fragmented, B-slice, weighted
    val df = spark.range(24)
      .selectExpr(
        "aggregate(h264_gop_frames(mp4_multiref_synth(id), 4, 1, 4), " +
          "CAST(0.0 AS DOUBLE), (a, fr) -> a + fr[2]) AS mr",
        "aggregate(h264_gop_frames(mp4_fmp4_synth(id), 4, 1, 4), " +
          "CAST(0.0 AS DOUBLE), (a, fr) -> a + fr[2]) AS fm",
        "aggregate(h264_gop_frames(mp4_bgop_synth(id), 4, 1, 4), " +
          "CAST(0.0 AS DOUBLE), (a, fr) -> a + fr[2]) AS bg",
        "aggregate(h264_gop_frames(mp4_wgop_synth(id), 4, 1, 3), " +
          "CAST(0.0 AS DOUBLE), (a, fr) -> a + fr[2]) AS wg")
    val plan = df.queryExecution.executedPlan.toString
    // the fold is a higher-order function (interpreted Project by
    // Spark design); the scale property is NO shuffle anywhere
    // before the aggregate — the decode kernels stay per-row
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Range"), plan)
    val r = df.agg(sum("mr"), sum("fm"), sum("bg"), sum("wg")).head
    // the fragmented twin must sum EXACTLY like the stbl original
    assert(r.getDouble(0) === r.getDouble(1))
    // closed forms from the fixture contracts
    def meanRows(rows: Int => Int, n: Int): Double =
      (0 until n).map(k => (0 until 16).map(y => rows(k * 16 + y)).sum / 16.0 / 255.0).sum
    val expMr = (0L until 24L).map { id =>
      val base = (10 + id % 40).toInt; val d1 = (1 + id % 5).toInt
      val d2 = (2 + id % 7).toInt; val d3t = (id % 4).toInt
      val d3b = (1 + id % 3).toInt
      def v(y: Int) = base + 13 * y
      meanRows(i => {
        val k = i / 16; val y = i % 16
        k match {
          case 0 => v(y)
          case 1 => v(math.min(15, y + d1))
          case 2 => v(math.min(15, y + d2))
          case _ => if (y < 8) v(math.min(15, y + d3t))
            else v(math.min(15, math.min(15, y + d3b) + d1))
        }
      }, 4)
    }.sum
    assert(math.abs(r.getDouble(0) - expMr) < 1e-9 * expMr)
    val expBg = (0L until 24L).map { id =>
      val base = (10 + id % 40).toInt; val d1 = (2 + 2 * (id % 2)).toInt
      val a = (id % 5).toInt; val b = (1 + id % 3).toInt
      def v(y: Int) = base + 13 * y
      meanRows(i => {
        val k = i / 16; val y = i % 16
        k match {
          case 0 => v(y)
          case 1 => v(math.min(15, y + d1))
          case 2 => (v(math.min(15, y + a)) +
            v(math.min(15, math.min(15, y + b) + d1)) + 1) >> 1
          case _ => (v(math.min(15, y + d1 / 2)) +
            v(math.min(15, math.max(0, y - d1 / 2) + d1)) + 1) >> 1
        }
      }, 4)
    }.sum
    assert(math.abs(r.getDouble(2) - expBg) < 1e-9 * expBg)
    assert(r.getDouble(3) > 0.0) // weighted family pinned per-pixel in H264Spec
    // the subtitle/clip/elst/webm kernels evaluate inside whole-stage
    // codegen (a static-forwarder name collision in Mp4SubtitleCues
    // once knocked a kernel out of it)
    for (sql <- Seq(
      "SELECT size(subtitle_cues(subtitle_synth(id))) FROM range(50)",
      "SELECT size(mp4_subtitle_cues(mp4_subtitle_synth(id))) FROM range(50)",
      "SELECT size(h264_clip_frames(mp4_bgop_pts_synth(id), 4, 400.0, 8, 4)) FROM range(50)",
      "SELECT element_at(element_at(h264_gop_frames(mp4_fmp4_synth(id), 4, 1, 4), 1), 9) FROM range(50)",
      "SELECT element_at(element_at(h264_gop_frames(mp4_elst_synth(id), 4, 1, 4), 1), 9) FROM range(50)",
      "SELECT size(h264_clip_frames(mp4_elst_synth(id), 4, 400.0, 8, 4)) FROM range(50)",
      "SELECT size(mp4_subtitle_cues(mp4_ttml_synth(id))) FROM range(50)",
      "SELECT size(webm_subtitle_cues(webm_subtitle_synth(id))) FROM range(50)",
      "SELECT size(webm_block_index(webm_block_synth(id), 64)) FROM range(50)")) {
      val k = spark.sql(sql)
      val kPlan = k.queryExecution.executedPlan.toString
      assert(kPlan.contains("*(1)"), s"no codegen span for $sql:\n$kPlan")
      assert(k.collect().length === 50, sql)
    }
  }
}
