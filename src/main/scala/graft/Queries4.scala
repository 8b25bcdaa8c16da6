package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{SimJoin, TextOps}

/** Oracle corpus, batch 4: ext/TextOps profile (q69), bucketed
  * embedding similarity pairs (q74), and inherited-surface breadth —
  * exact percentiles (q34), statistical moments (q35), Levenshtein
  * (q75), RANGE window frames (q76), nearest as-of through the
  * AsofJoin operator (q77). All DuckDB-parity differential queries.
  */
object Queries4 extends ColumnSyntax {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.tbl(s, dir, name)

  /** Text profile over the corpus: token counts, quality signals,
    * stopword-frequency language id — via the NARROW `text_profile`
    * codegen kernel (round 4; bit-identical to the aggregate
    * `TextOps.profile`, asserted in TextOpsSpec, and shuffle-free).
    * The corpus's `lang` column is a synthetic label (texts share one
    * vocabulary), so the interesting assertion is cross-engine
    * determinism of the heuristic, not label recovery — real-language
    * behavior is unit-tested in TextOpsSpec.
    */
  private def q69(s: SparkSession, dir: String): DataFrame =
    TextOps.profileNarrow(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"n_distinct",
        round($"mean_tok_len", 6).as("mean_tok_len"),
        round($"stop_ratio", 6).as("stop_ratio"),
        round($"alpha_ratio", 6).as("alpha_ratio"),
        round($"punct_ratio", 6).as("punct_ratio"),
        $"lang_id",
        round($"quality", 6).as("quality"))
      .orderBy($"doc_id")

  private val q69Sql =
    s"""WITH ${TextProfileSql.ctes("documents", "doc_id", "text")}
       |${TextProfileSql.select("doc_id")}
       |ORDER BY doc_id""".stripMargin

  /** Embedding near-dup / similar pairs, bucketed: vector pairs
    * sharing an LSH band bucket, exact-cosine scored, kept above
    * threshold — the embedding-side analog of q67's text near-dup
    * (same candidate-then-verify shape, never all-pairs).
    *
    * Regime note: LSH pair-mining pays off when the target pairs are
    * HIGH-similarity (near-dups, cos ≥ 0.9 → long r prunes ~100×).
    * This corpus's top pairs sit at cos ≈ 0.35-0.4, the adversarial
    * regime — r=4 bands give a deterministic ~4× candidate reduction
    * here (vs ~none at r=2), and the query pins a bounded vector slice
    * (like q70's 5 queries / q62's doc_id < 100) so the differential
    * stays cheap at every SF while exercising the full
    * bucket-candidate-verify plan.
    */
  private val SimPlanes = SimJoin.planes(nPlanes = 16, dim = 64)
  private val SimBands = 4
  private val SimThreshold = 0.35

  private def q74(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .filter($"vec_id" < 1000)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    SimJoin.embeddingNearDupPairs(emb, "vec_id", "v", SimPlanes, SimBands,
        SimThreshold)
      .select($"a_id", $"b_id", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"a_id", $"b_id")
  }

  private val q74Sql = {
    s"""WITH ${OracleSqlGen.annBucketCtes(SimPlanes, SimBands, " WHERE vec_id < 1000")}, cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bkt a JOIN bkt b
       |    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
       |), scored AS (
       |  SELECT cand.a_id, cand.b_id,
       |    LIST_DOT_PRODUCT(ea.v, eb.v) /
       |      (SQRT(LIST_DOT_PRODUCT(ea.v, ea.v)) * SQRT(LIST_DOT_PRODUCT(eb.v, eb.v))) AS cos
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = cand.a_id
       |  JOIN e eb ON eb.vec_id = cand.b_id
       |)
       |SELECT a_id, b_id, ROUND(cos, 6) + 0 AS cos_sim
       |FROM scored WHERE cos >= $SimThreshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Exact percentiles per group (inherited aggregate surface):
    * Spark `percentile` and DuckDB `quantile_cont` both use linear
    * interpolation over the sorted values — identical doubles after
    * rounding.
    */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
        round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"))
      .orderBy($"l_returnflag")

  private val q34Sql =
    """SELECT l_returnflag,
      |  ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS p50_qty,
      |  ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 6) AS p90_price,
      |  ROUND(QUANTILE_CONT(l_extendedprice, 0.99), 6) AS p99_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Statistical moments (population variance/stddev, correlation,
    * covariance — the A5/OLS building blocks as first-class surface).
    * Rounded: multi-partition summation order differs between engines.
    */
  private def q35(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy($"l_linestatus")
      .agg(
        round(var_pop($"l_quantity"), 4).as("var_qty"),
        round(stddev_pop($"l_extendedprice"), 2).as("sd_price"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
        round(covar_pop($"l_quantity", $"l_discount"), 6).as("cov_qd"))
      .orderBy($"l_linestatus")

  private val q35Sql =
    """SELECT l_linestatus,
      |  ROUND(VAR_POP(l_quantity), 4) AS var_qty,
      |  ROUND(STDDEV_POP(l_extendedprice), 2) AS sd_price,
      |  ROUND(CORR(l_quantity, l_extendedprice), 6) + 0 AS corr_qp,
      |  ROUND(COVAR_POP(l_quantity, l_discount), 6) + 0 AS cov_qd
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Levenshtein edit distance between adjacent docs' 40-char
    * prefixes — the character-level near-dup primitive alongside q64's
    * token Jaccard (both engines implement the classic DP, exact
    * ints). Prefix-bounded: edit distance is O(len²) per pair.
    */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select($"doc_id", substring($"text", 1, 40).as("p"))
    val a = d.filter($"doc_id" % 2 === 0).select($"doc_id".as("a_id"), $"p".as("pa"))
    val b = d.select(($"doc_id" - 1).as("a_id"), $"doc_id".as("b_id"), $"p".as("pb"))
      .filter($"b_id" % 2 === 1)
    a.join(b, "a_id")
      .select($"a_id", $"b_id", levenshtein($"pa", $"pb").as("edit_dist"))
      .orderBy($"a_id")
  }

  private val q75Sql =
    """WITH d AS (SELECT doc_id, SUBSTR(text, 1, 40) AS p FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  LEVENSHTEIN(a.p, b.p) AS edit_dist
      |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id % 2 = 0
      |ORDER BY a_id""".stripMargin

  /** RANGE window frames (value-based, vs the ROWS frames of q21):
    * running revenue over orders within a 30-day trailing window per
    * customer — the distinct window surface Spark/DuckDB both define
    * identically on ordered numeric frames.
    */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter($"o_custkey" <= 200)
      .select($"o_orderkey", $"o_custkey",
        ($"o_orderdate".cast("timestamp").cast("long") / 86400L).cast("long").as("day"),
        $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"day")
      .rangeBetween(-30, 0)
    o.select($"o_orderkey", $"o_custkey",
        sum($"price").over(w).cast("double").as("rev_30d"),
        count(lit(1)).over(w).as("n_30d"))
      .orderBy($"o_orderkey")
  }

  private val q76Sql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_30d,
      |  COUNT(*) OVER w AS n_30d
      |FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400 AS BIGINT) AS day
      |  FROM orders WHERE o_custkey <= 200
      |)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** J2 NEAREST (not backward) as-of against a small axis — the
    * reference's exact `find_time_index` semantics
    * (trackplot_hycom.py:186-197) through the actual library operator
    * (AsofJoin.nearestBroadcast: the axis read at plan time, a
    * per-row binary search, first-index ties), q52 being the backward
    * variant. Axis = 10 fixed 3-day marks over the events month; the
    * oracle mirrors the argmin with a deterministic (distance, idx) rank.
    */
  private val AsofAxis: Seq[Long] =
    (0 until 10).map(k => 1704067200000000000L + k * 259200000000000L)

  private def q77(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AsofJoin
    val ev = Tables.events(s, dir).select($"event_id", $"ts")
    val axis = s.createDataFrame(AsofAxis.zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("idx", "t")
    AsofJoin.nearestBroadcast(ev, Seq("event_id"), "ts", axis, "idx", "t", "g")
      .select($"event_id", $"g_idx", $"g_t")
      .orderBy($"event_id")
  }

  private val q77Sql = {
    val axisRows = AsofAxis.zipWithIndex
      .map { case (t, i) => s"($i, ${t}::BIGINT)" }.mkString(", ")
    s"""WITH axis(idx, t) AS (VALUES $axisRows),
       |r AS (
       |  SELECT e.event_id, a.idx AS g_idx, a.t AS g_t,
       |    ROW_NUMBER() OVER (PARTITION BY e.event_id
       |      ORDER BY ABS(epoch_ns(e.ts) - a.t), a.idx) AS rk
       |  FROM events e CROSS JOIN axis a
       |)
       |SELECT event_id, g_idx, g_t FROM r WHERE rk = 1
       |ORDER BY event_id""".stripMargin
  }

  /** Array-function surface over real array data (embeddings): sort,
    * slice, containment, set overlap — Spark array_* vs DuckDB list_*
    * (element order and int semantics identical).
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .filter($"vec_id" < 50)
      .select($"vec_id",
        // integer-quantized prefix: exact cross-engine arithmetic
        transform(slice($"embedding", 1, 8),
          x => round(x.cast("double") * 100).cast("long")).as("q"))
    // scalar outputs only: the driver's hash comparator cannot digest
    // array-typed result columns, so every array op collapses to a
    // scalar (min of sorted = element 1, join of sorted, etc.)
    e.select($"vec_id",
        element_at(sort_array($"q"), 1).as("min_q"),
        element_at(sort_array($"q", asc = false), 1).as("max_q"),
        concat_ws(",", transform(sort_array($"q"), _.cast("string"))).as("sorted_csv"),
        array_contains($"q", 0L).cast("int").as("has_zero"),
        size(array_distinct($"q")).as("n_distinct"),
        arrays_overlap($"q", array(lit(1L), lit(2L), lit(3L))).cast("int").as("overlaps_123"))
      .orderBy($"vec_id")
  }

  private val q78Sql =
    """WITH e AS (
      |  SELECT vec_id,
      |    LIST_TRANSFORM(embedding[1:8], x -> CAST(ROUND(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
      |  FROM embeddings WHERE vec_id < 50
      |)
      |SELECT vec_id,
      |  LIST_SORT(q)[1] AS min_q,
      |  LIST_REVERSE_SORT(q)[1] AS max_q,
      |  ARRAY_TO_STRING(LIST_SORT(q), ',') AS sorted_csv,
      |  CAST(LIST_CONTAINS(q, 0) AS INTEGER) AS has_zero,
      |  LENGTH(LIST_DISTINCT(q)) AS n_distinct,
      |  CAST(LEN(LIST_INTERSECT(q, [1, 2, 3])) > 0 AS INTEGER) AS overlaps_123
      |FROM e ORDER BY vec_id""".stripMargin

  /** A5 multi-degree OLS (ops.Polyfit): deg-2 fit of scaled
    * extendedprice against scaled quantity per returnflag. Both
    * engines compute the same power moments (x scaled into [0, 1] so
    * the Hankel system is well-conditioned and the two solve
    * algorithms — Gaussian elimination here, Cramer's rule in the
    * oracle — agree far beyond the 6-decimal round).
    */
  private def q79(s: SparkSession, dir: String): DataFrame =
    graft.ops.Polyfit.fit(t(s, dir, "lineitem"), Seq("l_returnflag"),
        $"l_quantity" / 50.0, $"l_extendedprice" / 100000.0, deg = 2)
      .select($"l_returnflag",
        round(element_at($"coeffs", 1), 6).as("c0"),
        round(element_at($"coeffs", 2), 6).as("c1"),
        round(element_at($"coeffs", 3), 6).as("c2"))
      .orderBy($"l_returnflag")

  private val q79Sql =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    SUM(POW(l_quantity / 50.0, 0)) AS s0,
      |    SUM(POW(l_quantity / 50.0, 1)) AS s1,
      |    SUM(POW(l_quantity / 50.0, 2)) AS s2,
      |    SUM(POW(l_quantity / 50.0, 3)) AS s3,
      |    SUM(POW(l_quantity / 50.0, 4)) AS s4,
      |    SUM(l_extendedprice / 100000.0 * POW(l_quantity / 50.0, 0)) AS t0,
      |    SUM(l_extendedprice / 100000.0 * POW(l_quantity / 50.0, 1)) AS t1,
      |    SUM(l_extendedprice / 100000.0 * POW(l_quantity / 50.0, 2)) AS t2
      |  FROM lineitem GROUP BY l_returnflag
      |), d AS (
      |  SELECT *,
      |    s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2) AS det
      |  FROM m
      |)
      |SELECT l_returnflag,
      |  ROUND((t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2)) / det, 6) + 0 AS c0,
      |  ROUND((s0*(t1*s4 - s3*t2) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - t1*s2)) / det, 6) + 0 AS c1,
      |  ROUND((s0*(s2*t2 - t1*s3) - s1*(s1*t2 - t1*s2) + t0*(s1*s3 - s2*s2)) / det, 6) + 0 AS c2
      |FROM d ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------- registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_percentiles" -> (q34 _),
    "q35_stat_moments" -> (q35 _),
    "q69_text_profile" -> (q69 _),
    "q74_embed_simpairs" -> (q74 _),
    "q75_levenshtein" -> (q75 _),
    "q76_range_frames" -> (q76 _),
    "q77_asof_nearest" -> (q77 _),
    "q78_array_fns" -> (q78 _),
    "q79_polyfit2" -> (q79 _)
  )

  val oracles: Map[String, String] = Map(
    "q34_percentiles" -> q34Sql,
    "q35_stat_moments" -> q35Sql,
    "q69_text_profile" -> q69Sql,
    "q74_embed_simpairs" -> q74Sql,
    "q75_levenshtein" -> q75Sql,
    "q76_range_frames" -> q76Sql,
    "q77_asof_nearest" -> q77Sql,
    "q78_array_fns" -> q78Sql,
    "q79_polyfit2" -> q79Sql
  )

}

/** DuckDB replay of the `text_profile` kernel, parameterized over the
  * relation it profiles — defined ONCE so q69 (raw `documents.text`)
  * and the WET-extraction composition (q136, profiling the
  * `html_text` output of a WARC read-back) share one transcription of
  * the [[graft.fn.TextKernels.profile]] contract. [[ctes]] emits the
  * tokenize + aggregate CTE fragments (names prefixed `tp_` so they
  * can be appended to an existing WITH chain); [[select]] emits the
  * final projection (rounded ratios, stopword-vote language id, the
  * quality blend) with NO ORDER BY, reading FROM `tp_agg`.
  */
private[graft] object TextProfileSql {
  import graft.ext.TextOps

  private val langCases = {
    val langs = TextOps.Stopwords.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val laterGe = langs.drop(i + 1).map(l2 => s"hits_$lang >= hits_$l2")
      val conds = (s"hits_$lang > 0" +: laterGe).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    cases.mkString("CASE ", " ", " ELSE 'und' END")
  }
  private val hitSums = TextOps.Stopwords.map { case (lang, words) =>
    val list = words.map(w => s"'$w'").mkString(", ")
    s"SUM(CASE WHEN tok IN ($list) THEN 1 ELSE 0 END) AS hits_$lang"
  }.mkString(",\n    ")
  private val enList = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")

  def ctes(src: String, idCol: String, textCol: String): String =
    s"""tp_toks AS (
       |  SELECT $idCol, tok FROM (
       |    SELECT $idCol, UNNEST(STRING_SPLIT($textCol, ' ')) AS tok FROM $src)
       |  WHERE tok <> ''
       |), tp_agg AS (
       |  SELECT $idCol,
       |    COUNT(*) AS n_tokens,
       |    COUNT(DISTINCT tok) AS n_distinct,
       |    CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*) AS mean_tok_len,
       |    CAST(SUM(CASE WHEN tok IN ($enList) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS stop_ratio,
       |    CAST(SUM(LENGTH(REGEXP_REPLACE(tok, '[^a-zA-Z]', '', 'g'))) AS DOUBLE) / SUM(LENGTH(tok)) AS alpha_ratio,
       |    CAST(SUM(LENGTH(REGEXP_REPLACE(tok, '[a-zA-Z0-9]', '', 'g'))) AS DOUBLE) / SUM(LENGTH(tok)) AS punct_ratio,
       |    SUM(LENGTH(REGEXP_REPLACE(tok, '[^一-鿿]', '', 'g'))) AS cjk_chars,
       |    $hitSums
       |  FROM tp_toks GROUP BY $idCol
       |)""".stripMargin

  def select(idCol: String): String =
    s"""SELECT $idCol, n_tokens, n_distinct,
       |  ROUND(mean_tok_len, 6) AS mean_tok_len,
       |  ROUND(stop_ratio, 6) AS stop_ratio,
       |  ROUND(alpha_ratio, 6) AS alpha_ratio,
       |  ROUND(punct_ratio, 6) AS punct_ratio,
       |  CASE WHEN cjk_chars > 0 THEN 'zh' ELSE $langCases END AS lang_id,
       |  ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0) + 0.3 * LEAST(stop_ratio * 5.0, 1.0)
       |        + 0.3 * alpha_ratio, 6) AS quality
       |FROM tp_agg""".stripMargin
}
