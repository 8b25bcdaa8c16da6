package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle corpus, batch 17 (round 13): MP4 edit-list semantics
  * (q163/q164), TTML/stpp subtitle carriage (q165).
  *
  * q163/q164 close the presentation-timeline gap the round-12 verdict
  * ranked first: `pts_ms` and `h264_clip_frames` were correct on
  * edit-list-free fixtures but real device-recorded and DASH-packaged
  * MP4s carry an `edts/elst` that shifts (empty edits) and trims
  * (media_time) the presentation timeline. The corpus plants BOTH
  * mechanisms at a movie timescale ≠ the media timescale, across both
  * container layouts and both elst versions; the oracles replay the
  * edit arithmetic from id — and q158/q159 stay green on their
  * edit-free twins, proving the default path is untouched.
  */
object Queries17 {

  // ---------- q163: edit-list presentation timestamps (round 13).
  // The q158 B GOP + ctts, PLUS an elst: a leading EMPTY edit of
  // 300·(id%3) movie units at movie timescale 600 (+500·(id%3) ms
  // delay — the reader must convert timescales) and a media edit at
  // media_time 500·(id%2) (−500·(id%2) ms — the classic B-delay
  // normalization, trimming frame 0 to pts −500 on odd ids with
  // id%3=0). Classic/fMP4 layouts and elst v0/v1 alternate by id. A
  // reader that ignores the elst, misreads either version's layout,
  // or converts with the wrong timescale breaks the hash.
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4ElstSynth(gb.expression(d.cast("long"))),
      nBins = 4, stride = 1, maxFrames = 4)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(gop)).as("__fr"))
      .select(d,
        element_at(col("__fr"), 1).cast("int").as("frame_idx"),
        element_at(col("__fr"), 2).as("t_ms"),
        element_at(col("__fr"), 9).as("pts_ms"),
        round(element_at(col("__fr"), 3), 6).as("mean_g"),
        round(element_at(col("__fr"), 4), 6).as("std_g"))
      .orderBy(d, col("frame_idx"))
  }

  private val q163Sql =
    """WITH ids AS (
      |  SELECT doc_id,
      |    10 + doc_id % 40 AS base, 2 + 2 * (doc_id % 2) AS d1,
      |    doc_id % 5 AS a, 1 + doc_id % 3 AS b
      |  FROM documents WHERE doc_id < 1000
      |), px AS (
      |  SELECT doc_id, k, y,
      |    CAST(CASE CAST(k AS INT)
      |      WHEN 0 THEN base + 13 * y
      |      WHEN 1 THEN base + 13 * LEAST(15, y + d1)
      |      WHEN 2 THEN (
      |        (base + 13 * LEAST(15, y + a)) +
      |        (base + 13 * LEAST(15, LEAST(15, y + b) + d1)) + 1) // 2
      |      ELSE (
      |        (base + 13 * LEAST(15, y + d1 // 2)) +
      |        (base + 13 * LEAST(15, GREATEST(0, y - d1 // 2) + d1)) + 1) // 2
      |    END AS DOUBLE) AS v
      |  FROM ids, UNNEST(range(0, 4)) AS f(k), UNNEST(range(0, 16)) AS t(y)
      |), st AS (
      |  SELECT doc_id, k, AVG(v) AS m, AVG(v * v) AS m2
      |  FROM px GROUP BY doc_id, k
      |)
      |SELECT doc_id, CAST(k AS INT) AS frame_idx, k * 500.0 AS t_ms,
      |  CAST(CASE CAST(k AS INT) WHEN 0 THEN 0.0 WHEN 1 THEN 1500.0
      |      WHEN 2 THEN 500.0 ELSE 1000.0 END
      |    - 500 * (doc_id % 2) + 500 * (doc_id % 3) AS DOUBLE) AS pts_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2 - m * m)) / 255.0, 6) + 0 AS std_g
      |FROM st ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q164: clip sampling under an edit list (round 13).
  // `h264_clip_frames` over the q163 corpus: the sampler must apply
  // the edit mapping AND exclude pre-roll frames the edit trims to
  // negative pts (they decode — later frames reference them — but
  // are never presented). The oracle replays the full sampler:
  // presented frames, instants k·400 ≤ max pts, nearest-pts pick
  // with ties to the earlier pts.
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val clip = graft.fn.H264ClipFrames(
      graft.fn.Mp4ElstSynth(gb.expression(d.cast("long"))),
      nBins = 4, everyMs = 400.0, maxN = 8, maxFrames = 4)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(clip)).as("__cs"))
      .select(d,
        element_at(col("__cs"), 1).as("sample_ms"),
        element_at(col("__cs"), 2).cast("int").as("frame_idx"),
        element_at(col("__cs"), 10).as("pts_ms"),
        round(element_at(col("__cs"), 4), 6).as("mean_g"),
        round(element_at(col("__cs"), 5), 6).as("std_g"))
      .orderBy(d, col("sample_ms"))
  }

  private val q164Sql =
    """WITH ids AS (
      |  SELECT doc_id,
      |    10 + doc_id % 40 AS base, 2 + 2 * (doc_id % 2) AS d1,
      |    doc_id % 5 AS a, 1 + doc_id % 3 AS b
      |  FROM documents WHERE doc_id < 1000
      |), px AS (
      |  SELECT doc_id, k, y,
      |    CAST(CASE CAST(k AS INT)
      |      WHEN 0 THEN base + 13 * y
      |      WHEN 1 THEN base + 13 * LEAST(15, y + d1)
      |      WHEN 2 THEN (
      |        (base + 13 * LEAST(15, y + a)) +
      |        (base + 13 * LEAST(15, LEAST(15, y + b) + d1)) + 1) // 2
      |      ELSE (
      |        (base + 13 * LEAST(15, y + d1 // 2)) +
      |        (base + 13 * LEAST(15, GREATEST(0, y - d1 // 2) + d1)) + 1) // 2
      |    END AS DOUBLE) AS v
      |  FROM ids, UNNEST(range(0, 4)) AS f(k), UNNEST(range(0, 16)) AS t(y)
      |), st AS (
      |  SELECT doc_id, k, AVG(v) AS m, AVG(v * v) AS m2v
      |  FROM px GROUP BY doc_id, k
      |), fr AS (
      |  SELECT st.doc_id, st.k, st.m, st.m2v,
      |    CAST(CASE CAST(st.k AS INT) WHEN 0 THEN 0.0 WHEN 1 THEN 1500.0
      |        WHEN 2 THEN 500.0 ELSE 1000.0 END
      |      - 500 * (st.doc_id % 2) + 500 * (st.doc_id % 3) AS DOUBLE) AS pts
      |  FROM st
      |), pres AS (
      |  SELECT * FROM fr WHERE pts >= 0
      |), mx AS (
      |  SELECT doc_id, MAX(pts) AS maxpts FROM pres GROUP BY doc_id
      |), inst AS (
      |  SELECT mx.doc_id, 400.0 * t.k AS sample_ms
      |  FROM mx, UNNEST(range(0, 8)) AS t(k)
      |  WHERE 400.0 * t.k <= mx.maxpts
      |), pick AS (
      |  SELECT i.doc_id, i.sample_ms, f.k, f.pts, f.m, f.m2v,
      |    ROW_NUMBER() OVER (PARTITION BY i.doc_id, i.sample_ms
      |      ORDER BY ABS(f.pts - i.sample_ms), f.pts) AS rn
      |  FROM inst i JOIN pres f ON f.doc_id = i.doc_id
      |)
      |SELECT doc_id, sample_ms, CAST(k AS INT) AS frame_idx, pts AS pts_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2v - m * m)) / 255.0, 6) + 0 AS std_g
      |FROM pick WHERE rn = 1 ORDER BY doc_id, sample_ms""".stripMargin

  // ---------- q165: TTML/stpp subtitle carriage (round 13) — ISO
  // 14496-30's OTHER half, what DASH/CMAF broadcast streams actually
  // carry. The q160 cue corpus as TTML documents inside stpp tracks:
  // per-cue samples in the classic layout (even ids — the live-DASH
  // ISD shape), one fragmented whole-document sample on odd. Cue
  // timing comes from the documents' begin/end attributes (clock AND
  // offset time forms), styling spans/<br/>/entities clean through
  // the q160 contract — so the oracle is q160's arithmetic UNCHANGED
  // (the q161 convention verbatim).
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val cues = gb.column(graft.fn.Mp4SubtitleCues(graft.fn.Mp4TtmlSynth(
      gb.expression(d.cast("long")))))
    // round 16: 4000 TTML walks ran in ONE task (single-row-group
    // scan, no spread) — the q137 docIds rule applies
    Tables.docIdsUnder(s, dir, 4000)
      .select(d, posexplode(cues).as(Seq("cue_idx", "__c")))
      .select(d, col("cue_idx"),
        col("__c.start_ms").as("start_ms"),
        col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      .orderBy(d, col("cue_idx"))
  }

  private val q165Sql =
    """WITH ids AS (
      |  SELECT doc_id, 2 + doc_id % 4 AS n
      |  FROM documents WHERE doc_id < 4000
      |)
      |SELECT doc_id, CAST(t.k AS INT) AS cue_idx,
      |  doc_id % 500 + 2000 * t.k AS start_ms,
      |  doc_id % 500 + 2000 * t.k + 1500 AS end_ms,
      |  CASE WHEN t.k % 2 = 1
      |      THEN 'cue ' || t.k || ' says word' || (doc_id + t.k) % 7
      |    WHEN t.k = 2
      |      THEN 'cue 2 says word' || (doc_id + 2) % 7 || chr(10) || 'line two'
      |    WHEN t.k % 3 = 0
      |      THEN 'cue ' || t.k || ' says word' || (doc_id + t.k) % 7 || ' & more'
      |    ELSE 'cue ' || t.k || ' says word' || (doc_id + t.k) % 7
      |  END AS text
      |FROM ids, UNNEST(range(0, n)) AS t(k)
      |ORDER BY doc_id, cue_idx""".stripMargin

  // ---------- q166: language-ID BREADTH (round 13, VERDICT item 3)
  // — the 9-language + none-floor classifier over a corpus planting
  // Cyrillic, Arabic, and CJK rows plus OUT-OF-SET rows (the Finnish-
  // shaped none pool): doc_id % 10 picks the class, texts build from
  // the documented word pools by the q152 id arithmetic. DuckDB
  // rebuilds every text, recomputes all 36 n-gram features, replays
  // all nine logistic heads AND the none floor, and predicts the
  // argmax — a defect in any new head, the floor, a CJK feature
  // count, or the 9-way tie chain breaks the hash.
  private def q166Text(s: SparkSession): org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val idx = ((d * 31 + col("k") * 7 + (d - d % 13) / 13) % 12 + 1).cast("int")
    val pools = graft.ext.LangIdFixtures.Pools
    val langs = graft.ext.LangId.Langs
    val chain = langs.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (acc, (l, i)) =>
        val v = element_at(array(pools(l).map(lit): _*), idx)
        Some(acc.fold(when(d % 10 === i, v))(_.when(d % 10 === i, v)))
    }.get.otherwise(
      element_at(array(graft.ext.LangIdFixtures.NonePool.map(lit): _*), idx))
    chain
  }

  private def q166(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val txt = Tables.docIdsUnder(s, dir, 4000)
      .select(d, explode(sequence(lit(0L), lit(13L))).as("k"))
      .select(d, col("k"), q166Text(s).as("w"))
      .groupBy(d)
      .agg(array_join(array_sort(collect_list(struct(col("k"), col("w"))))
        .getField("w"), " ").as("text"))
    val feats = graft.ext.LangId.features(col("text"))
    val sc = graft.ext.LangId.scores(col("__f"), graft.ext.LangId.PinnedW)
    txt.withColumn("__f", feats)
      .select(d,
        graft.ext.LangId.classify(col("__f"), graft.ext.LangId.PinnedW)
          .as("lang_pred"),
        round(sc(4), 6).as("s_ru"), round(sc(5), 6).as("s_ar"),
        round(sc(6), 6).as("s_zh"), round(sc(7), 6).as("s_ja"),
        round(sc(8), 6).as("s_ko"))
      .orderBy(d)
  }

  private val q166Sql: String = {
    val pools = graft.ext.LangIdFixtures.Pools
    val langs = graft.ext.LangId.Langs
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val featExprs = graft.ext.LangId.Ngrams.zipWithIndex.map { case (g, i) =>
      val ge = g.replace("'", "''")
      s"LEAST(1.0, CAST((LENGTH(p) - LENGTH(REPLACE(p, '$ge', ''))) / ${g.length} AS DOUBLE) * 8.0 / n) AS f$i"
    }.mkString(",\n    ")
    def head(w: Seq[Double]): String =
      "1.0 / (1.0 + EXP(-(" + w.head.toString +
        w.tail.zipWithIndex.map { case (v, i) => s" + ($v) * f$i" }.mkString +
        ")))"
    val scoreCols = langs.map(l => s"s_$l")
    val heads = graft.ext.LangId.PinnedW.zip(scoreCols)
      .map { case (w, c) => s"${head(w)} AS $c" }.mkString(",\n    ")
    val wordCase = langs.zipWithIndex.map { case (l, i) =>
      s"WHEN $i THEN list_extract(${lst(pools(l))}, idx + 1)"
    }.mkString("\n      ") +
      s"\n      ELSE list_extract(${lst(graft.ext.LangIdFixtures.NonePool)}, idx + 1)"
    s"""WITH base AS (
       |  SELECT doc_id FROM documents WHERE doc_id < 4000
       |), wk AS (
       |  SELECT b.doc_id, t.k,
       |    CAST((b.doc_id * 31 + t.k * 7 + b.doc_id // 13) % 12 AS INT) AS idx
       |  FROM base b, UNNEST(range(0, 14)) AS t(k)
       |), words AS (
       |  SELECT doc_id, k,
       |    CASE CAST(doc_id % 10 AS INT)
       |      $wordCase END AS w
       |  FROM wk
       |), txt AS (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY k) AS text
       |  FROM words GROUP BY doc_id
       |), pad AS (
       |  SELECT doc_id, ' ' || text || ' ' AS p,
       |    GREATEST(CAST(LENGTH(' ' || text || ' ') AS DOUBLE), 1.0) AS n
       |  FROM txt
       |), f AS (
       |  SELECT doc_id,
       |    $featExprs
       |  FROM pad
       |), sc AS (
       |  SELECT doc_id,
       |    $heads
       |  FROM f
       |)
       |SELECT doc_id,
       |  ${graft.ext.LangId.sqlClassifyCase(scoreCols)} AS lang_pred,
       |  ROUND(s_ru, 6) + 0 AS s_ru, ROUND(s_ar, 6) + 0 AS s_ar,
       |  ROUND(s_zh, 6) + 0 AS s_zh, ROUND(s_ja, 6) + 0 AS s_ja,
       |  ROUND(s_ko, 6) + 0 AS s_ko
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---------- q167: WebM/Matroska subtitle tracks (round 13) — the
  // q160 cue corpus inside S_TEXT tracks (the second-most-common
  // container in scraped corpora), rotating ALL THREE Matroska text
  // codecs by id % 3: S_TEXT/UTF8, S_TEXT/WEBVTT (the public
  // storage layout: settings / identifier / text lines), and
  // S_TEXT/ASS (Dialogue fields after Start/End — override blocks
  // and \\N hard breaks cleaned); per-cue clusters vs one cluster
  // with relative block timestamps by id/2. PURE TEXT — no codec
  // work — and the oracle is q160's arithmetic unchanged, so a
  // defect in the EBML walk, track selection, cluster/relative
  // timing, any codec's storage layout, or text cleaning breaks the
  // hash.
  private def q167(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val cues = gb.column(graft.fn.WebmSubtitleCues(graft.fn.WebmSubtitleSynth(
      gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 4000)
      .select(d, posexplode(cues).as(Seq("cue_idx", "__c")))
      .select(d, col("cue_idx"),
        col("__c.start_ms").as("start_ms"),
        col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      .orderBy(d, col("cue_idx"))
  }

  // ---------- q168: WebM block index (round 13) — container triage
  // parity with the MP4 side's stss/stsz walk: SimpleBlock
  // timestamps (cluster base + relative), keyframe flags, and frame
  // sizes with NO codec work. The fixture splits clusters every 3
  // blocks, so a reader that drops cluster bases or misreads the
  // signed relative timestamp breaks the hash.
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val blocks = gb.column(graft.fn.WebmBlockIndex(graft.fn.WebmBlockSynth(
      gb.expression(d.cast("long"))), maxN = 64))
    Tables.docIdsUnder(s, dir, 4000)
      .select(d, posexplode(blocks).as(Seq("block_idx", "__b")))
      .select(d, col("block_idx"),
        col("__b.track").as("track"),
        col("__b.t_ms").as("t_ms"),
        col("__b.keyframe").as("keyframe"),
        col("__b.size").as("size"))
      .orderBy(d, col("block_idx"))
  }

  private val q168Sql =
    """WITH ids AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS n
      |  FROM documents WHERE doc_id < 4000
      |)
      |SELECT doc_id, CAST(t.j AS INT) AS block_idx,
      |  CAST(1 AS BIGINT) AS track,
      |  250 * t.j AS t_ms,
      |  CAST(CASE WHEN t.j % 4 = 0 THEN 1 ELSE 0 END AS INT) AS keyframe,
      |  10 + (doc_id + t.j) % 17 AS size
      |FROM ids, UNNEST(range(0, n)) AS t(j)
      |ORDER BY doc_id, block_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_video_elst_pts" -> (q163 _),
    "q164_clip_elst" -> (q164 _),
    "q165_mp4_ttml" -> (q165 _),
    "q166_lang_breadth" -> (q166 _),
    "q167_webm_subtitles" -> (q167 _),
    "q168_webm_blocks" -> (q168 _))

  val oracles: Map[String, String] = Map(
    "q163_video_elst_pts" -> q163Sql,
    "q164_clip_elst" -> q164Sql,
    // stpp/WebM carriage twins: SAME arithmetic as the standalone corpus
    "q165_mp4_ttml" -> q165Sql,
    "q166_lang_breadth" -> q166Sql,
    "q167_webm_subtitles" -> q165Sql,
    "q168_webm_blocks" -> q168Sql)
}
