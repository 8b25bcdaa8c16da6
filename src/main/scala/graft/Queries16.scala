package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle corpus, batch 16 (round 12): PDF text extraction (q151),
  * trained language-ID (q152), multi-reference H.264 GOP decode
  * (q153).
  *
  * q151 closes the synthesize-your-own-fixture loop for PDFs (the
  * q132 WARC / q148 Vorbis pattern, VERDICT r11 item 1): the engine
  * WRITES a crawl corpus whose payloads are [[graft.ext.PdfFixtures]]
  * documents — classic xref / Flate+TJ / xref-stream+ObjStm+CMap /
  * Contents-array+quote-ops variants — plus decoy HTML responses,
  * ships it through the real WARC container (gzip members, wire
  * variants), reads it back, and runs the full extraction chain in
  * ONE plan: readWarc → response filter → `pdf_text` → text_profile.
  * DuckDB predicts every surviving row's page count, object count,
  * title, extracted text, and profile from `documents` alone, so a
  * defect in the container, the xref walk (either kind), inflate,
  * the predictor, ObjStm, the content interpreter, an encoding
  * table, a CMap, or the profile kernel breaks the hash.
  */
object Queries16 {

  // bounded corpus (the media-gate convention, q146/q150): this entry
  // gates EXTRACTION semantics; WARC-at-scale throughput is
  // q133/q136/q144's ledger. The bound is mirrored in the oracle.
  private val Q151Dir = "/tmp/graft_fixtures/q151_warc"

  private def q151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val id = d.cast("string")
    val isHtml = d % 10 === 9 // decoys the response filter must drop
    val payload = when(isHtml,
        encode(concat(lit("<html><body>skip "), id, lit("</body></html>")), "UTF-8"))
      .otherwise(gb.column(graft.fn.PdfSynth(gb.expression(d.cast("long")))))
    val ctype = when(isHtml, lit("text/html")).otherwise(lit("application/pdf"))
    val rows = Tables.docIdsUnder(s, dir, 2000)
      .select(
        concat(lit("https://pdf.test/doc/"), id),
        lit("2026-08-15T00:00:00Z"),
        ctype,
        payload)
      .as[(String, String, String, Array[Byte])]
    val hp = new org.apache.hadoop.fs.Path(Q151Dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val nSeg = math.max(8, s.sparkContext.defaultParallelism)
    graft.io.Warc.writeWarcGz(rows.repartition(nSeg), Q151Dir, wireVariants = true)

    val extracted = graft.io.Warc.responses(graft.io.Warc.readWarc(s, Q151Dir))
      .where(col("http_status") === 200 &&
             col("http_content_type") === "application/pdf")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        explode(array(gb.column(graft.fn.PdfTextStats(
          gb.expression(col("payload")))))).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("doc_id"),
        col("__p.n_pages").as("n_pages"),
        col("__p.n_objects").as("n_objects"),
        col("__p.title").as("title"),
        col("__p.text").as("text_out"),
        col("__p.n_chars").as("n_chars"))
    val p = gb.column(graft.fn.TextProfile(gb.expression(col("text_out"))))
    extracted.select(col("doc_id"), col("n_pages"), col("n_objects"),
        col("title"), col("text_out"), col("n_chars"),
        explode(array(p)).as("__t"))
      .filter(col("__t").isNotNull)
      .select(col("doc_id"), col("n_pages"), col("n_objects"), col("title"),
        col("text_out"), col("n_chars"),
        col("__t.n_tokens").as("n_tokens"),
        col("__t.lang_id").as("lang_id"),
        round(col("__t.quality"), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val q151Sql =
    s"""WITH ext AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 'Doc ' || doc_id || ' page 0' || chr(10) ||
       |        'café ' ||
       |        -- doc_id % 16 = 4: the /Differences remap arm (round 14)
       |        CASE WHEN doc_id % 16 = 4 THEN '•☃' ELSE '€' END ||
       |        (doc_id % 7) ||
       |        CASE WHEN (doc_id // 4) % 2 = 1
       |          THEN chr(10) || 'Doc ' || doc_id || ' page 1' || chr(10) ||
       |            'café ' ||
       |            CASE WHEN doc_id % 16 = 4 THEN '•☃' ELSE '€' END ||
       |            (doc_id % 7)
       |          ELSE '' END
       |      WHEN 1 THEN 'Doc ' || doc_id || ' (A)' || chr(10) ||
       |        'kerned text ' || (doc_id % 5)
       |      WHEN 2 THEN '中文 ' || chr(65296 + CAST(doc_id % 10 AS INT))
       |      ELSE 'Part ' || (doc_id % 6) || chr(10) || 'alpha' || chr(10) ||
       |        'beta ' || (doc_id % 4) || chr(10) || 'gamma ' || (doc_id % 3)
       |    END AS text_out,
       |    CAST(CASE WHEN doc_id % 4 = 0
       |      THEN 1 + (doc_id // 4) % 2 ELSE 1 END AS INT) AS n_pages,
       |    CAST(CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 5 + 2 * ((doc_id // 4) % 2)
       |      WHEN 1 THEN 5
       |      WHEN 2 THEN 8
       |      ELSE 7 END
       |      -- the round-14 encryption axis adds the Encrypt dict
       |      + CASE WHEN doc_id % 16 IN (0, 1, 3) THEN 1 ELSE 0 END
       |      AS INT) AS n_objects,
       |    CASE WHEN doc_id % 4 = 3 THEN 'Graft Doc ' || doc_id
       |         ELSE '' END AS title
       |  FROM documents
       |  WHERE doc_id < 2000 AND doc_id % 10 <> 9
       |),
       |${TextProfileSql.ctes("ext", "doc_id", "text_out")},
       |prof AS (
       |${TextProfileSql.select("doc_id")}
       |)
       |SELECT e.doc_id, e.n_pages, e.n_objects, e.title, e.text_out,
       |  CAST(length(e.text_out) AS INT) AS n_chars,
       |  p.n_tokens, p.lang_id, p.quality
       |FROM ext e JOIN prof p USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin

  // ------------- q152: trained language-ID scoring pass (the q98
  // convention: [[graft.ext.LangId.PinnedW]] is a genuinely trained
  // one-vs-rest model — tools/LangIdTrain — pinned as literals so the
  // whole featurize → K·σ(w·x) → argmax path is oracle-checkable).
  // The corpus is a deterministic 4-language text built from per-
  // language word pools by id arithmetic; DuckDB rebuilds the texts,
  // recomputes every n-gram feature with the same replace/length
  // identity, replays all four logistic heads, and predicts the
  // argmax — so a defect in the feature kernel, a weight, or the
  // tie-break chain breaks the hash.
  private def q152Text(s: SparkSession): org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val idx = (d * 31 + col("k") * 7 + (d - d % 13) / 13) % 12
    val pools = graft.ext.LangIdFixtures.Pools
    val word = when(d % 4 === 0,
        element_at(array(pools("en").map(lit): _*), (idx + 1).cast("int")))
      .when(d % 4 === 1,
        element_at(array(pools("de").map(lit): _*), (idx + 1).cast("int")))
      .when(d % 4 === 2,
        element_at(array(pools("fr").map(lit): _*), (idx + 1).cast("int")))
      .otherwise(
        element_at(array(pools("es").map(lit): _*), (idx + 1).cast("int")))
    word
  }

  private def q152(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val txt = Tables.docIdsUnder(s, dir, 4000)
      .select(d, explode(sequence(lit(0L), lit(13L))).as("k"))
      .select(d, col("k"), q152Text(s).as("w"))
      .groupBy(d)
      .agg(array_join(array_sort(collect_list(struct(col("k"), col("w"))))
        .getField("w"), " ").as("text"))
    val feats = graft.ext.LangId.features(col("text"))
    val sc = graft.ext.LangId.scores(col("__f"), graft.ext.LangId.PinnedW)
    txt.withColumn("__f", feats)
      .select(d,
        graft.ext.LangId.classify(col("__f"), graft.ext.LangId.PinnedW)
          .as("lang_pred"),
        round(sc(0), 6).as("s_en"), round(sc(1), 6).as("s_de"),
        round(sc(2), 6).as("s_fr"), round(sc(3), 6).as("s_es"))
      .orderBy(d)
  }

  private val q152Sql: String = {
    val pools = graft.ext.LangIdFixtures.Pools
    def lst(l: String) = pools(l).map(w => s"'$w'").mkString("[", ", ", "]")
    val featExprs = graft.ext.LangId.Ngrams.zipWithIndex.map { case (g, i) =>
      val ge = g.replace("'", "''")
      s"LEAST(1.0, CAST((LENGTH(p) - LENGTH(REPLACE(p, '$ge', ''))) / ${g.length} AS DOUBLE) * 8.0 / n) AS f$i"
    }.mkString(",\n    ")
    def head(w: Seq[Double]): String =
      "1.0 / (1.0 + EXP(-(" + w.head.toString +
        w.tail.zipWithIndex.map { case (v, i) => s" + ($v) * f$i" }.mkString +
        ")))"
    // round 13: the model is 9-language + none floor; the chain and
    // all heads regenerate from the pinned matrix (the corpus stays
    // the Latin 4 — breadth is q166's corpus)
    val scoreCols = graft.ext.LangId.Langs.map(l => s"s_$l")
    val heads = graft.ext.LangId.PinnedW.zip(scoreCols)
      .map { case (w, c) => s"${head(w)} AS $c" }.mkString(",\n    ")
    s"""WITH base AS (
       |  SELECT doc_id FROM documents WHERE doc_id < 4000
       |), wk AS (
       |  SELECT b.doc_id, t.k,
       |    CAST((b.doc_id * 31 + t.k * 7 + b.doc_id // 13) % 12 AS INT) AS idx
       |  FROM base b, UNNEST(range(0, 14)) AS t(k)
       |), words AS (
       |  SELECT doc_id, k,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN list_extract(${lst("en")}, idx + 1)
       |      WHEN 1 THEN list_extract(${lst("de")}, idx + 1)
       |      WHEN 2 THEN list_extract(${lst("fr")}, idx + 1)
       |      ELSE list_extract(${lst("es")}, idx + 1) END AS w
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
       |  ROUND(s_en, 6) + 0 AS s_en, ROUND(s_de, 6) + 0 AS s_de,
       |  ROUND(s_fr, 6) + 0 AS s_fr, ROUND(s_es, 6) + 0 AS s_es
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---------- q153: multi-reference P-frame GOP decode (round 12,
  // the H.264 inter-prediction extension). Corpus: per-doc 4-frame
  // MP4s from [[graft.ext.VideoFixtures.multiRefGop]] — constant-row
  // luma, every P frame a pure integer-pel vertical shift from a
  // ref_idx-SELECTED reference over a 3-deep sliding-window DPB (te
  // inverted-bit AND ue branches, 16x16 and 16x8 partitions). The
  // decode runs the real chain (avcC → NAL split → slice decode →
  // DPB/L0 ordering → MC) per row; DuckDB predicts every frame's
  // mean/std/histogram from doc_id arithmetic because the decoded
  // rows are closed-form. A decoder that picks the wrong reference,
  // mis-orders L0, or drops the window decodes different pixels and
  // breaks the hash.
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4MultiRefSynth(gb.expression(d.cast("long"))),
      nBins = 4, stride = 1, maxFrames = 4)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(gop)).as("__fr"))
      .select(d,
        element_at(col("__fr"), 1).cast("int").as("frame_idx"),
        element_at(col("__fr"), 2).as("t_ms"),
        round(element_at(col("__fr"), 3), 6).as("mean_g"),
        round(element_at(col("__fr"), 4), 6).as("std_g"),
        round(element_at(col("__fr"), 5), 6).as("h0"),
        round(element_at(col("__fr"), 6), 6).as("h1"),
        round(element_at(col("__fr"), 7), 6).as("h2"),
        round(element_at(col("__fr"), 8), 6).as("h3"))
      .orderBy(d, col("frame_idx"))
  }

  private val q153Sql =
    """WITH ids AS (
      |  SELECT doc_id,
      |    10 + doc_id % 40 AS base, 1 + doc_id % 5 AS d1,
      |    2 + doc_id % 7 AS d2, doc_id % 4 AS d3t, 1 + doc_id % 3 AS d3b
      |  FROM documents WHERE doc_id < 1000
      |), px AS (
      |  SELECT doc_id, k, y,
      |    CAST(CASE CAST(k AS INT)
      |      WHEN 0 THEN base + 13 * y
      |      WHEN 1 THEN base + 13 * LEAST(15, y + d1)
      |      WHEN 2 THEN base + 13 * LEAST(15, y + d2)
      |      ELSE CASE WHEN y < 8 THEN base + 13 * LEAST(15, y + d3t)
      |        ELSE base + 13 * LEAST(15, LEAST(15, y + d3b) + d1) END
      |    END AS DOUBLE) AS v
      |  FROM ids, UNNEST(range(0, 4)) AS f(k), UNNEST(range(0, 16)) AS t(y)
      |), st AS (
      |  SELECT doc_id, k,
      |    AVG(v) AS m, AVG(v * v) AS m2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 0 THEN 1.0 ELSE 0.0 END) AS h0,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 1 THEN 1.0 ELSE 0.0 END) AS h1,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 2 THEN 1.0 ELSE 0.0 END) AS h2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 3 THEN 1.0 ELSE 0.0 END) AS h3
      |  FROM px GROUP BY doc_id, k
      |)
      |SELECT doc_id, CAST(k AS INT) AS frame_idx, k * 500.0 AS t_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2 - m * m)) / 255.0, 6) + 0 AS std_g,
      |  ROUND(h0, 6) + 0 AS h0, ROUND(h1, 6) + 0 AS h1,
      |  ROUND(h2, 6) + 0 AS h2, ROUND(h3, 6) + 0 AS h3
      |FROM st ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q154: B-slice GOP decode (round 12 — bi-prediction,
  // POC-ordered reference lists, temporal direct). Corpus:
  // [[graft.ext.VideoFixtures.bGop]] — frame 2 is an EXPLICIT
  // B_Bi_16x16 averaging a past (L0) and future (L1) reference;
  // frame 3 is a TEMPORAL-DIRECT B_Skip whose motion is the
  // colocated P MV scaled by POC distances (distScaleFactor = 128
  // by construction, so the scaled MVs land integer-pel and DuckDB
  // replays the shifts). A decoder that mis-orders either list,
  // breaks POC, averages wrong, or mis-scales direct motion decodes
  // different pixels and breaks the hash.
  private def q154(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4BGopSynth(gb.expression(d.cast("long"))),
      nBins = 4, stride = 1, maxFrames = 4)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(gop)).as("__fr"))
      .select(d,
        element_at(col("__fr"), 1).cast("int").as("frame_idx"),
        element_at(col("__fr"), 2).as("t_ms"),
        round(element_at(col("__fr"), 3), 6).as("mean_g"),
        round(element_at(col("__fr"), 4), 6).as("std_g"),
        round(element_at(col("__fr"), 5), 6).as("h0"),
        round(element_at(col("__fr"), 6), 6).as("h1"),
        round(element_at(col("__fr"), 7), 6).as("h2"),
        round(element_at(col("__fr"), 8), 6).as("h3"))
      .orderBy(d, col("frame_idx"))
  }

  private val q154Sql =
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
      |  SELECT doc_id, k,
      |    AVG(v) AS m, AVG(v * v) AS m2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 0 THEN 1.0 ELSE 0.0 END) AS h0,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 1 THEN 1.0 ELSE 0.0 END) AS h1,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 2 THEN 1.0 ELSE 0.0 END) AS h2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 3 THEN 1.0 ELSE 0.0 END) AS h3
      |  FROM px GROUP BY doc_id, k
      |)
      |SELECT doc_id, CAST(k AS INT) AS frame_idx, k * 500.0 AS t_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2 - m * m)) / 255.0, 6) + 0 AS std_g,
      |  ROUND(h0, 6) + 0 AS h0, ROUND(h1, 6) + 0 AS h1,
      |  ROUND(h2, 6) + 0 AS h2, ROUND(h3, 6) + 0 AS h3
      |FROM st ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q155: weighted prediction (round 12 — explicit P/Bi
  // weights on even ids, implicit POC-derived bi weights on odd).
  // DuckDB replays the exact 8.4.2.3.2 integer arithmetic: the
  // per-ref (w,o) scaling of the P frame, the pooled-offset bi
  // combine, and the implicit w1 = 8·tb weights — any defect in the
  // pred_weight_table parse, the rounding, the clip, or the implicit
  // DistScaleFactor derivation breaks the hash.
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4WGopSynth(gb.expression(d.cast("long"))),
      nBins = 4, stride = 1, maxFrames = 3)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(gop)).as("__fr"))
      .select(d,
        element_at(col("__fr"), 1).cast("int").as("frame_idx"),
        element_at(col("__fr"), 2).as("t_ms"),
        round(element_at(col("__fr"), 3), 6).as("mean_g"),
        round(element_at(col("__fr"), 4), 6).as("std_g"),
        round(element_at(col("__fr"), 5), 6).as("h0"),
        round(element_at(col("__fr"), 6), 6).as("h1"),
        round(element_at(col("__fr"), 7), 6).as("h2"),
        round(element_at(col("__fr"), 8), 6).as("h3"))
      .orderBy(d, col("frame_idx"))
  }

  private val q155Sql =
    """WITH ids AS (
      |  SELECT doc_id,
      |    10 + doc_id % 40 AS base, 1 + doc_id % 3 AS d1,
      |    doc_id % 5 AS a, 1 + doc_id % 4 AS b,
      |    2 + doc_id % 3 AS wl, doc_id % 7 - 3 AS ol,
      |    1 + doc_id % 4 AS w0, doc_id % 5 - 2 AS o0,
      |    2 + doc_id % 3 AS w1, doc_id % 3 - 1 AS o1,
      |    doc_id % 2 AS odd
      |  FROM documents WHERE doc_id < 1000
      |), px AS (
      |  SELECT doc_id, k, y,
      |    CAST(CASE CAST(k AS INT)
      |      WHEN 0 THEN base + 13 * y
      |      WHEN 1 THEN CASE WHEN odd = 0
      |        THEN LEAST(255, GREATEST(0,
      |          ((base + 13 * LEAST(15, y + d1)) * wl + 1) // 2 + ol))
      |        ELSE base + 13 * LEAST(15, y + d1) END
      |      ELSE CASE WHEN odd = 0
      |        THEN LEAST(255, GREATEST(0,
      |          ((base + 13 * LEAST(15, y + a)) * w0 +
      |           LEAST(255, GREATEST(0,
      |             ((base + 13 * LEAST(15, LEAST(15, y + b) + d1)) * wl + 1) // 2 + ol)) * w1 +
      |           4) // 8 + CAST(FLOOR((o0 + o1 + 1) / 2.0) AS BIGINT)))
      |        ELSE LEAST(255, GREATEST(0,
      |          ((base + 13 * LEAST(15, y + a)) * (64 - 16 * d1) +
      |           (base + 13 * LEAST(15, LEAST(15, y + b) + d1)) * (16 * d1) +
      |           32) // 64)) END
      |    END AS DOUBLE) AS v
      |  FROM ids, UNNEST(range(0, 3)) AS f(k), UNNEST(range(0, 16)) AS t(y)
      |), st AS (
      |  SELECT doc_id, k,
      |    AVG(v) AS m, AVG(v * v) AS m2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 0 THEN 1.0 ELSE 0.0 END) AS h0,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 1 THEN 1.0 ELSE 0.0 END) AS h1,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 2 THEN 1.0 ELSE 0.0 END) AS h2,
      |    AVG(CASE WHEN CAST(v AS INT) // 64 = 3 THEN 1.0 ELSE 0.0 END) AS h3
      |  FROM px GROUP BY doc_id, k
      |)
      |SELECT doc_id, CAST(k AS INT) AS frame_idx, k * 500.0 AS t_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2 - m * m)) / 255.0, 6) + 0 AS std_g,
      |  ROUND(h0, 6) + 0 AS h0, ROUND(h1, 6) + 0 AS h1,
      |  ROUND(h2, 6) + 0 AS h2, ROUND(h3, 6) + 0 AS h3
      |FROM st ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q156: FRAGMENTED MP4 (fMP4/CMAF/DASH) sample walk
  // (round 12). The q153 multi-ref GOP frames repacked as moof/traf/
  // trun — container layout cycling by id over default-base-is-moof
  // + per-sample fields, explicit base_data_offset, and tfhd-default
  // size/duration with first_sample_flags. The decoded features (and
  // the trun-derived timeline) must equal q153's closed forms, so
  // the oracle IS q153's SQL: a defect anywhere in the §8.8 walk —
  // trex/tfhd defaults, data offsets, sync flags, durations —
  // breaks the hash.
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4Fmp4Synth(gb.expression(d.cast("long"))),
      nBins = 4, stride = 1, maxFrames = 4)
    // round 16: CPU-bound synth+decode kernel over a single-row-group
    // scan — spread to the core count (the q137 docIds rule; this ran
    // the whole GOP decode in ONE task)
    Tables.docIdsUnder(s, dir, 1000)
      .select(d, explode(gb.column(gop)).as("__fr"))
      .select(d,
        element_at(col("__fr"), 1).cast("int").as("frame_idx"),
        element_at(col("__fr"), 2).as("t_ms"),
        round(element_at(col("__fr"), 3), 6).as("mean_g"),
        round(element_at(col("__fr"), 4), 6).as("std_g"),
        round(element_at(col("__fr"), 5), 6).as("h0"),
        round(element_at(col("__fr"), 6), 6).as("h1"),
        round(element_at(col("__fr"), 7), 6).as("h2"),
        round(element_at(col("__fr"), 8), 6).as("h3"))
      .orderBy(d, col("frame_idx"))
  }

  // ---------- q157/q157p: ANY-FRAME video near-dup (round 12). The
  // re-encode shape keyframe matching cannot catch: originals are
  // I/P/B GOPs (frame 1 an 8-px shift, frame 2 the Bi average);
  // re-cuts are single-keyframe videos whose content IS a decoded
  // NON-keyframe frame of their source, bit-exact by the fixture's
  // closed forms. Keyframe-vs-keyframe hashes differ (the shift is
  // half the frame), so only frame-level indexing — running the full
  // P/B decode chain per asset — recovers the planted (i, 1000+i) /
  // (i, 2000+i) pairs. q157 is rows-only by the media convention
  // (the self-check column carries the evidence); q157p hash-gates
  // the pair stage over the persisted fingerprint fixture (the
  // q125p/q84p convention).
  private def q157Scene(seed: Int)(x: Int, y: Int): Int = {
    val h = seed * 2654435761L
    val fu = 2 + (h % 5).toInt.abs
    val fv = 1 + ((h >> 8) % 5).toInt.abs
    val p1 = ((h >> 16) % 628).toInt / 100.0
    (127 + 110 * math.sin(fu * x / 1.9 + fv * y / 2.3 + p1)).toInt & 0xFF
  }
  private def q157F1(sc: (Int, Int) => Int)(x: Int, y: Int): Int =
    sc(math.min(15, x + 8), y)
  private def q157F2(sc: (Int, Int) => Int)(x: Int, y: Int): Int =
    (sc(x, y) + q157F1(sc)(x, y) + 1) >> 1

  private def q157Assets(s: SparkSession): DataFrame = {
    val originals = (0 until 60).map(i =>
      (i.toLong, graft.ext.VideoFixtures.gopSceneMp4(q157Scene(i), 8)))
    val recutP = (0 until 8).map(i =>
      (1000L + i, graft.ext.VideoFixtures.pcmKeyframeMp4(q157F1(q157Scene(i)))))
    val recutB = (0 until 6).map(i =>
      (2000L + i, graft.ext.VideoFixtures.pcmKeyframeMp4(q157F2(q157Scene(i)))))
    s.createDataFrame(originals ++ recutP ++ recutB)
      .toDF("vid_id", "content")
      .repartition(8)
  }

  private def q157(s: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.nearDupVideoPairsAnyFrame(
        q157Assets(s), "vid_id", maxHamming = 3, maxFrames = 4)
      .withColumn("planted",
        ((col("b_id") - col("a_id") === 1000L) ||
          (col("b_id") - col("a_id") === 2000L)).cast("int"))
      .orderBy(col("a_id"), col("b_id"))

  private val Q157HashFixture = "/tmp/graft_fixtures/q157_gop_dhash.parquet"

  private def q157p(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    q157Assets(s).select(col("vid_id").as("id"),
        explode(gb.column(graft.fn.H264GopDhashes(
          gb.expression(col("content")), 4))).as("dhash"))
      .distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(Q157HashFixture)
    graft.ext.Multimodal.nearDupPairsFromMultiHashes(
        s.read.parquet(Q157HashFixture), maxHamming = 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  private val q157pSql =
    s"""WITH h AS (
       |  SELECT id, dhash FROM read_parquet('$Q157HashFixture/*.parquet')
       |), eq AS (
       |  SELECT x.id AS a_id, y.id AS b_id, 0 AS hamming
       |  FROM h x JOIN h y ON x.dhash = y.dhash AND x.id < y.id
       |), uniq AS (
       |  SELECT DISTINCT dhash FROM h
       |), banded AS (
       |  SELECT dhash, i AS band_idx, (dhash >> CAST(16 * i AS INT)) & 65535 AS band_val
       |  FROM uniq, UNNEST(range(0, 4)) AS t(i)
       |), near AS (
       |  SELECT DISTINCT a.dhash AS ha, b.dhash AS hb
       |  FROM banded a
       |  JOIN banded b ON a.band_idx = b.band_idx
       |    AND a.band_val = b.band_val AND a.dhash < b.dhash
       |), nearh AS (
       |  SELECT ha, hb, bit_count(xor(ha, hb)) AS hamming
       |  FROM near WHERE bit_count(xor(ha, hb)) <= 3
       |), neq AS (
       |  SELECT LEAST(x.id, y.id) AS a_id, GREATEST(x.id, y.id) AS b_id, hamming
       |  FROM nearh JOIN h x ON ha = x.dhash JOIN h y ON hb = y.dhash
       |)
       |SELECT a_id, b_id, CAST(MIN(hamming) AS INT) AS hamming
       |FROM (SELECT * FROM eq UNION ALL SELECT * FROM neq)
       |WHERE a_id <> b_id
       |GROUP BY a_id, b_id
       |ORDER BY a_id, b_id""".stripMargin

  // ---------- q158: presentation timestamps (ctts) over the B GOP
  // (round 12). Same decode as q154 plus a VERSION-1 ctts box
  // carrying the GOP's real display reordering; the pts_ms feature
  // (appended last in the row) must read the DISPLAY timeline
  // (0/1500/500/1000 by frame) while t_ms stays the decode timeline
  // (0/500/1000/1500) — a reader that drops the signed composition
  // offsets, mis-runs the run-length decode, or confuses the two
  // timelines breaks the hash.
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val gop = graft.fn.H264GopFrames(
      graft.fn.Mp4BGopPtsSynth(gb.expression(d.cast("long"))),
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

  private val q158Sql =
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
      |    WHEN 2 THEN 500.0 ELSE 1000.0 END AS DOUBLE) AS pts_ms,
      |  ROUND(m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, m2 - m * m)) / 255.0, 6) + 0 AS std_g
      |FROM st ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- q159: presentation-order clip sampling (round 12).
  // `h264_clip_frames` over the ctts B GOP: instants k·400 ms pick
  // the pts-NEAREST decoded frame (display timeline 0/1500/500/1000),
  // so the sampled frame sequence is 0, 2, 3, 3 — out of decode
  // order, impossible to produce from t_ms. DuckDB predicts the
  // instant→frame mapping and each sampled frame's stats.
  private def q159(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val clip = graft.fn.H264ClipFrames(
      graft.fn.Mp4BGopPtsSynth(gb.expression(d.cast("long"))),
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

  private val q159Sql =
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
      |), samp AS (
      |  -- pts timeline 0/1500/500/1000 by frame; instants k*400 pick
      |  -- the pts-nearest frame (ties to the earlier pts): 0,2,3,3
      |  SELECT * FROM (VALUES
      |    (0.0, 0, 0.0), (400.0, 2, 500.0),
      |    (800.0, 3, 1000.0), (1200.0, 3, 1000.0))
      |    AS s(sample_ms, fk, pts_ms)
      |)
      |SELECT st.doc_id, samp.sample_ms, CAST(st.k AS INT) AS frame_idx,
      |  samp.pts_ms,
      |  ROUND(st.m / 255.0, 6) + 0 AS mean_g,
      |  ROUND(SQRT(GREATEST(0.0, st.m2 - st.m * st.m)) / 255.0, 6) + 0 AS std_g
      |FROM st JOIN samp ON st.k = samp.fk
      |ORDER BY st.doc_id, samp.sample_ms""".stripMargin

  // ---------- q160: subtitle extraction (WebVTT + SRT, round 12) —
  // the path by which video corpora become training TEXT. Every
  // third doc is SRT (comma timings, numeric indices); the rest are
  // WebVTT with a NOTE block, optional cue-id lines, settings after
  // the end stamp, inline <v>-tags, the entity subset, and a
  // two-line cue. DuckDB replays every cue's timing and CLEANED text
  // from id arithmetic — a defect in signature detection, block
  // skipping, timestamp math (either decimal convention), tag
  // stripping, or entity decoding breaks the hash.
  private def q160(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val cues = gb.column(graft.fn.SubtitleCues(graft.fn.SubtitleSynth(
      gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 4000)
      .select(d, posexplode(cues).as(Seq("cue_idx", "__c")))
      .select(d, col("cue_idx"),
        col("__c.start_ms").as("start_ms"),
        col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      .orderBy(d, col("cue_idx"))
  }

  private val q160Sql =
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

  // ---------- q161: wvtt subtitle tracks INSIDE MP4 (ISO 14496-30,
  // round 12). The q160 cue corpus carried as container samples —
  // vtte gap samples + vttc/payl cue samples whose TIMING is the
  // sample timeline (stts on even ids; trun durations in fragmented
  // CMAF segments on odd ids). The oracle is q160's arithmetic
  // UNCHANGED: a defect in track selection, either sample walk, the
  // timeline prefix sums, or the payl/text cleaning breaks the hash.
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val cues = gb.column(graft.fn.Mp4SubtitleCues(graft.fn.Mp4SubtitleSynth(
      gb.expression(d.cast("long")))))
    // round 16: 4000 container walks ran in ONE task (single-row-group
    // scan, no spread) — the q137 docIds rule applies
    Tables.docIdsUnder(s, dir, 4000)
      .select(d, posexplode(cues).as(Seq("cue_idx", "__c")))
      .select(d, col("cue_idx"),
        col("__c.start_ms").as("start_ms"),
        col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      .orderBy(d, col("cue_idx"))
  }

  // ---------- q162: subtitles in LEGACY ENCODINGS (round 12) — the
  // crawl reality: WebVTT bytes arrive in rotating charsets (utf-8 /
  // shift_jis / windows-1252). charset_decode (the round-11 family
  // machinery) feeds subtitle_cues in ONE plan; DuckDB predicts the
  // canonical charset AND every cue's DECODED unicode text from id
  // arithmetic — a defect in either subsystem or their composition
  // breaks the hash.
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val d = col("doc_id")
    val label = when(d % 3 === 0, lit("utf-8"))
      .when(d % 3 === 1, lit("shift_jis"))
      .otherwise(lit("windows-1252"))
    val dec = gb.column(graft.fn.CharsetDecode(gb.expression(label),
      graft.fn.SubtitleEncSynth(gb.expression(d.cast("long")))))
    Tables.docIdsUnder(s, dir, 3000)
      .select(d, explode(array(dec)).as("__d"))
      .filter(col("__d").isNotNull)
      .select(d, col("__d.charset").as("charset"),
        gb.column(graft.fn.SubtitleCues(
          gb.expression(col("__d.text")))).as("__cues"))
      .select(d, col("charset"), posexplode(col("__cues")).as(Seq("cue_idx", "__c")))
      .select(d, col("charset"), col("cue_idx"),
        col("__c.start_ms").as("start_ms"),
        col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      .orderBy(d, col("cue_idx"))
  }

  private val q162Sql =
    """WITH ids AS (
      |  SELECT doc_id, 2 + doc_id % 4 AS n,
      |    CASE CAST(doc_id % 3 AS INT)
      |      WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
      |      ELSE 'windows-1252' END AS charset,
      |    CASE CAST(doc_id % 3 AS INT)
      |      WHEN 0 THEN 'mañana' WHEN 1 THEN '字幕'
      |      ELSE 'café' END AS w
      |  FROM documents WHERE doc_id < 3000
      |)
      |SELECT doc_id, charset, CAST(t.k AS INT) AS cue_idx,
      |  doc_id % 500 + 2000 * t.k AS start_ms,
      |  doc_id % 500 + 2000 * t.k + 1500 AS end_ms,
      |  'cue ' || t.k || ' ' || w || ' ' || (doc_id + t.k) % 7 AS text
      |FROM ids, UNNEST(range(0, n)) AS t(k)
      |ORDER BY doc_id, cue_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_subtitle_charsets" -> (q162 _),
    "q161_mp4_subtitles" -> (q161 _),
    "q160_subtitle_cues" -> (q160 _),
    "q159_video_clip_sample" -> (q159 _),
    "q158_video_pts" -> (q158 _),
    "q157_video_anyframe" -> (q157 _),
    "q157p_gop_dhash_pairs" -> (q157p _),
    "q151_pdf_text" -> (q151 _),
    "q152_lang_id" -> (q152 _),
    "q153_video_multiref" -> (q153 _),
    "q154_video_bslice" -> (q154 _),
    "q155_video_weighted" -> (q155 _),
    "q156_video_fmp4" -> (q156 _))

  val oracles: Map[String, String] = Map(
    // q157: rows-only by the media convention (DuckDB cannot decode
    // video); the pair stage is hash-gated by q157p
    "q157p_gop_dhash_pairs" -> q157pSql,
    "q158_video_pts" -> q158Sql,
    "q159_video_clip_sample" -> q159Sql,
    "q160_subtitle_cues" -> q160Sql,
    "q161_mp4_subtitles" -> q160Sql, // in-container twin: SAME arithmetic
    "q162_subtitle_charsets" -> q162Sql,
    "q151_pdf_text" -> q151Sql,
    "q152_lang_id" -> q152Sql,
    "q153_video_multiref" -> q153Sql,
    "q154_video_bslice" -> q154Sql,
    "q155_video_weighted" -> q155Sql,
    "q156_video_fmp4" -> q153Sql) // fragmented twin: SAME closed forms
}
