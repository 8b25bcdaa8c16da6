package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.ops.{AsofJoin, NearestJoin, Stencil, Idw}
import graft.fn.TimeFns

/** The oracle-checked query corpus (driver t2 contract): one entry per
  * operator family of SURVEY.md §2, each with DuckDB-equivalent SQL in
  * [[oracles]].
  *
  * Determinism rules (hash-match across two engines):
  *  - money/quantity sums go through exact DECIMAL arithmetic and are
  *    cast to DOUBLE only at the end (bit-identical in both engines;
  *    double summation order is engine-dependent, decimal is exact);
  *  - floating aggregates that cannot be decimal (IDW weights, OLS
  *    moments) are rounded to a tolerance far above ulp-error scale;
  *  - every query ends in a total ORDER BY;
  *  - window frames always carry a unique tie-break key;
  *  - NULLS FIRST is spelled explicitly (Spark's ASC default) since
  *    DuckDB defaults to NULLS LAST.
  */
object Queries extends ColumnSyntax {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.tbl(s, dir, name)

  /** Exact decimal sum of a double column, surfaced as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  // ---------------------------------------------------------------- A: aggs

  /** TPC-H Q1-style pricing summary (A1-family basic aggs; SURVEY §2.4). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
             (lit(BigDecimal(1)) - $"l_discount".cast(DecimalType(18, 2)))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P-family filter + projection + row arithmetic (SURVEY §2.2). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
              $"l_discount" > 0.05 && $"l_quantity" < 10)
      .select($"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * $"l_discount").as("disc_revenue"))
      .orderBy($"l_orderkey", $"l_linenumber")

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice * l_discount AS disc_revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount > 0.05 AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Multi-measure single-pass agg (SURVEY §3.2 — notebook runs the
    * pipeline once per variable; the engine aggregates all measures in
    * one pass).
    */
  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        dsum($"l_quantity").as("m_qty"),
        dsum($"l_extendedprice").as("m_price"),
        dsum($"l_discount").as("m_disc"),
        dsum($"l_tax").as("m_tax"),
        min($"l_shipdate").as("first_ship"),
        max($"l_shipdate").as("last_ship"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")

  private val q03Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS m_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS m_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS m_disc,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS m_tax,
      |  MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A2 bounding-box min/max (trackplot_hycom.py:236-237). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(
        min($"o_totalprice").as("min_price"), max($"o_totalprice").as("max_price"),
        min($"o_orderdate").as("min_date"), max($"o_orderdate").as("max_date"),
        count(lit(1)).as("n"))

  private val q04Sql =
    """SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date, COUNT(*) AS n
      |FROM orders""".stripMargin

  /** Distinct aggregation (inherited surface; SURVEY §2.4 note). */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
           countDistinct($"l_suppkey").as("n_supps"),
           count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")

  private val q05Sql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP hierarchy agg (inherited surface). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup($"r_name", $"n_name")
      .agg(dsum($"c_acctbal").as("bal"), count(lit(1)).as("n"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  private val q06Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal, COUNT(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** CUBE agg (inherited surface). */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)

  private val q07Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- J: joins

  /** Inner equi-join chain + agg (J4 family; TPC-H Q5 shape). */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    // Staged partial-aggregation pushdown (round 3): aggregate BELOW
    // each join — lineitem collapses to one row per order BEFORE
    // touching orders (parquet is order-clustered, so the map-side
    // combine does most of it pre-shuffle), then to one row per
    // customer before the customer join; the fact table's rows never
    // ride through the join chain. Decimal sums re-aggregate exactly
    // (associative), so results are bit-identical to the naive chain
    // Catalyst would otherwise run — Spark has no automatic
    // aggregate-through-join rule, which makes this THE join+agg
    // technique that survives a 100× fact table.
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    q10Chain(l, o, c, n)
  }

  /** The q10 chain over caller-supplied lineitem/orders relations —
    * shared by q10 (plain scans) and q10b (orderkey-bucketed scans,
    * where the per-order aggregate and the orders join plan with NO
    * exchange on the bucket key).
    */
  private def q10Chain(l: DataFrame, o: DataFrame,
                       c: DataFrame, n: DataFrame): DataFrame = {
    val perOrder = l.groupBy($"l_orderkey")
      .agg(sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
             (lit(BigDecimal(1)) - $"l_discount".cast(DecimalType(18, 2)))))
          .as("__rev"),
        count(lit(1)).as("__n"))
    val perCust = perOrder
      .join(o.select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"__rev").as("__rev"), sum($"__n").as("__n"))
    perCust
      .join(c.select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(n, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"__rev").cast("double").as("revenue"),
        sum($"__n").as("n_items"))
      .orderBy($"n_name")
  }

  /** q10b — the SAME chain on lineitem/orders BUCKETED 32-way by
    * orderkey ([[graft.io.BucketedLayout]]): the graded form of the
    * exchange-free plan tools/Q10Bucketed (at commit ea0c763)
    * demonstrated (VERDICT r6 item 4). The one-time bucketed write
    * happens at DataFrame construction (the layout cost a warehouse
    * pays once); execution then plans zero orderkey-keyed exchanges
    * — the per-order aggregate and the orders join both ride the
    * bucket spec (BucketedJoinSpec asserts). Same oracle SQL as q10:
    * bucketing must be answer-invariant.
    */
  private def q10b(s: SparkSession, dir: String): DataFrame = {
    val l = graft.io.BucketedLayout.table(s, dir, "lineitem", "l_orderkey")
    val o = graft.io.BucketedLayout.table(s, dir, "orders", "o_orderkey")
    q10Chain(l, o, t(s, dir, "customer"), t(s, dir, "nation"))
  }

  private val q10Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Left outer join preserving unmatched rows. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
           coalesce(dsum($"o_totalprice"), lit(0.0)).as("total_spent"))
      .orderBy($"c_custkey")
  }

  private val q11Sql =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Left-semi join (EXISTS). */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    o.join(l.filter($"l_quantity" >= 48).select($"l_orderkey"),
        o("o_orderkey") === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q12Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS) — against big-ticket orders so the
    * anti side is non-empty at every SF.
    */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o.filter($"o_totalprice" > 250000.0).select($"o_custkey"),
        c("c_custkey") === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  private val q13Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
      |ORDER BY c_custkey""".stripMargin

  /** J5 interval-containment / range join (find_hycom_dir analog,
    * trackplot_hycom.py:173-184): static band catalog × fact table on
    * BETWEEN — broadcast on the Spark side (the catalog is tiny; the
    * fact side never shuffles).
    */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      (0, -99999.0, 0.0), (1, 0.0, 2500.0), (2, 2500.0, 5000.0),
      (3, 5000.0, 7500.0), (4, 7500.0, 99999.0)))
      .toDF("band_id", "lo", "hi")
    t(s, dir, "customer")
      .join(broadcast(bands), $"c_acctbal" >= $"lo" && $"c_acctbal" < $"hi")
      .groupBy($"band_id")
      .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"))
      .orderBy($"band_id")
  }

  private val q14Sql =
    """SELECT band_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer
      |JOIN (VALUES (0, -99999.0, 0.0), (1, 0.0, 2500.0), (2, 2500.0, 5000.0),
      |             (3, 5000.0, 7500.0), (4, 7500.0, 99999.0)) AS bands(band_id, lo, hi)
      |  ON c_acctbal >= lo AND c_acctbal < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  /** J1 general 1-D nearest-neighbor join via broadcast + min_by
    * (location_to_index analog, trackplot_hycom.py:67-86): each customer
    * snaps to the supplier with the nearest acctbal; first-key tie-break
    * (strict `<` argmin semantics, SURVEY §7.4 trap 2).
    */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    // broadcast sorted-axis binary search (ops.NearestJoin.nearest1d):
    // O(N log m), fact side never shuffled — replaces the cross-join
    // min_by argmin that went quadratic in the sf1 scale probe (45 s
    // at 150k × 10k). Same (dist, key) argmin semantics as the oracle.
    val c = t(s, dir, "customer").select($"c_custkey", $"c_acctbal")
    val sup = t(s, dir, "supplier").select($"s_suppkey", $"s_acctbal")
    graft.ops.NearestJoin.nearest1d(c, $"c_acctbal", sup,
        "s_suppkey", "s_acctbal", "nearest_supp")
      .select($"c_custkey", $"c_acctbal", $"nearest_supp")
      .orderBy($"c_custkey")
  }

  private val q15Sql =
    """WITH d AS (
      |  SELECT c_custkey, c_acctbal, s_suppkey, ABS(c_acctbal - s_acctbal) AS dist
      |  FROM customer CROSS JOIN supplier
      |), m AS (
      |  SELECT c_custkey, MIN(dist) AS md FROM d GROUP BY c_custkey
      |)
      |SELECT d.c_custkey, ANY_VALUE(d.c_acctbal) AS c_acctbal,
      |  MIN(d.s_suppkey) AS nearest_supp
      |FROM d JOIN m ON d.c_custkey = m.c_custkey AND d.dist = m.md
      |GROUP BY d.c_custkey
      |ORDER BY d.c_custkey""".stripMargin

  // ------------------------------------------------------------ W: windows

  /** Ranking window: top-3 orders per customer (row_number). */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  private val q20Sql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) x
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Running (cumulative) sum window — exact via decimal. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running_total",
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"running_total")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q21Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag/lead analytic window. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    t(s, dir, "orders")
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_date", lead($"o_orderdate", 1).over(w))
      .select($"o_custkey", $"o_orderkey", $"prev_price", $"next_date")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q22Sql =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
      |  LEAD(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_date
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** P6 top-k by time (`locations[-30:]` tail-slice analog,
    * trackplot_hycom.py:241): a real ORDER BY + LIMIT top-k.
    */
  private def q23(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_totalprice")

  private val q23Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ------------------------------------------------------- S: set ops

  /** UNION / INTERSECT / EXCEPT in one result (inherited surface). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val cn = t(s, dir, "customer").select($"c_nationkey".as("nk")).distinct()
    val sn = t(s, dir, "supplier").select($"s_nationkey".as("nk")).distinct()
    val u = cn.union(sn).distinct().withColumn("op", lit("union"))
    val i = cn.intersect(sn).withColumn("op", lit("intersect"))
    val e = cn.except(sn).withColumn("op", lit("except"))
    u.union(i).union(e).select($"op", $"nk").orderBy($"op", $"nk")
  }

  private val q25Sql =
    """SELECT 'union' AS op, nk FROM (
      |  SELECT DISTINCT c_nationkey AS nk FROM customer
      |  UNION SELECT DISTINCT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'intersect', nk FROM (
      |  SELECT DISTINCT c_nationkey AS nk FROM customer
      |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'except', nk FROM (
      |  SELECT DISTINCT c_nationkey AS nk FROM customer
      |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
      |ORDER BY op, nk""".stripMargin

  /** DISTINCT projection. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus").distinct()
      .orderBy($"l_returnflag", $"l_linestatus")

  private val q26Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------- F: scalar functions

  /** String functions (F7-family: split/substring/case). */
  private def q30(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter($"p_partkey" <= 200)
      .select(
        $"p_partkey",
        upper($"p_name").as("uname"),
        substring($"p_type", 1, 6).as("type6"),
        length($"p_name").as("name_len"),
        concat_ws("|", $"p_brand", $"p_type").as("brand_type"))
      .orderBy($"p_partkey")

  private val q30Sql =
    """SELECT p_partkey, UPPER(p_name) AS uname, SUBSTR(p_type, 1, 6) AS type6,
      |  LENGTH(p_name) AS name_len, CONCAT_WS('|', p_brand, p_type) AS brand_type
      |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin

  /** Date/time functions incl. F1 hours-since-2000 (`hurrtimeconv`,
    * trackplot_hycom.py:150-156 — floor semantics like Python-2 int
    * division) and F2 inverse formatting (`ymdh`, :45-50).
    */
  private def q31(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter($"o_orderkey" <= 500)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("yr"),
        month($"o_orderdate").as("mo"),
        dayofmonth($"o_orderdate").as("dom"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        TimeFns.hoursSince2000($"o_orderdate").as("hours_since_2000"),
        date_format($"o_orderdate", "yyyyMMddHH").as("ymdh"))
      .orderBy($"o_orderkey")

  private val q31Sql =
    """SELECT o_orderkey,
      |  EXTRACT(YEAR FROM o_orderdate) AS yr,
      |  EXTRACT(MONTH FROM o_orderdate) AS mo,
      |  EXTRACT(DAY FROM o_orderdate) AS dom,
      |  DATE_TRUNC('month', o_orderdate) AS month_start,
      |  CAST(FLOOR((EPOCH(o_orderdate) - 946684800) / 3600) AS BIGINT) AS hours_since_2000,
      |  STRFTIME(o_orderdate, '%Y%m%d%H') AS ymdh
      |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin

  /** Math functions (F5/F6 building blocks) — only operations that are
    * bit-exact across engines (sqrt, multiply, abs, floor/ceil/round).
    */
  private def q32(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter($"l_orderkey" <= 100)
      .select(
        $"l_orderkey", $"l_linenumber",
        sqrt($"l_extendedprice").as("sqrt_price"),
        ($"l_discount" * $"l_discount").as("disc_sq"),
        abs($"l_quantity" - lit(25.0)).as("qty_dev"),
        floor($"l_extendedprice" / 100.0).as("price_h"),
        round($"l_tax" * 100.0).cast("long").as("tax_pct"))
      .orderBy($"l_orderkey", $"l_linenumber")

  private val q32Sql =
    """SELECT l_orderkey, l_linenumber,
      |  SQRT(l_extendedprice) AS sqrt_price,
      |  l_discount * l_discount AS disc_sq,
      |  ABS(l_quantity - 25.0) AS qty_dev,
      |  CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS price_h,
      |  CAST(ROUND(l_tax * 100.0) AS BIGINT) AS tax_pct
      |FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** F9/P3 conditional rewrite (lon-wrap `when/otherwise` shape,
    * trackplot_hycom.py:167-170) + CASE bucketing.
    */
  private def q33(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        $"c_custkey",
        when($"c_acctbal" < 0, $"c_acctbal" + 360.0)
          .otherwise($"c_acctbal").as("wrapped"),
        when($"c_acctbal" < 0, lit("neg"))
          .when($"c_acctbal" < 5000, lit("mid"))
          .otherwise(lit("high")).as("bucket"))
      .orderBy($"c_custkey")

  private val q33Sql =
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN c_acctbal + 360.0 ELSE c_acctbal END AS wrapped,
      |  CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ----------------------------------------- R: reshapes / flagship analogs

  /** R1 explode/unnest (zip_variable3D flatten analog,
    * trackplot_hycom.py:199-223): split text → explode → per-doc token
    * count. Single-space split keeps tokenization engine-identical.
    */
  private def q40(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct($"tok").as("n_distinct"))
      .orderBy($"doc_id")

  private val q40Sql =
    """SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
      |FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
      |WHERE tok <> ''
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** J3 stencil expansion (nearest_neighbors, trackplot_hycom.py:59-65):
    * derive 2-D cell indices, explode the 3×3 offset array, drop
    * out-of-bounds — oracle is a VALUES cross join.
    */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val ni = 10; val nj = 25
    val pts = t(s, dir, "customer")
      .filter($"c_custkey" <= 50)
      .select($"c_custkey",
        ($"c_custkey" % ni).cast("int").as("i"),
        $"c_nationkey".cast("int").as("j"))
    Stencil.expand(pts, "i", "j", ni, nj)
      .select($"c_custkey", $"n_i", $"n_j")
      .orderBy($"c_custkey", $"n_i", $"n_j")
  }

  private val q41Sql =
    """SELECT c_custkey, c_custkey % 10 + di AS n_i, c_nationkey + dj AS n_j
      |FROM customer
      |CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS o(di, dj)
      |WHERE c_custkey <= 50
      |  AND c_custkey % 10 + di >= 0 AND c_custkey % 10 + di < 10
      |  AND c_nationkey + dj >= 0 AND c_nationkey + dj < 25
      |ORDER BY c_custkey, n_i, n_j""".stripMargin

  /** A1 IDW weighted mean over testdata (IDW_interp,
    * trackplot_hycom.py:28-37 / nb:37-48): per order, neighbors = its
    * lineitems, distance = l_linenumber, value nulled above a quantity
    * threshold — exercises the nansum normalizer semantics (null
    * neighbors contribute neither value nor weight). Rounded to 4
    * decimals (sum order across engines differs at ~1e-10 relative).
    */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").filter($"l_orderkey" <= 2000)
      .select($"l_orderkey",
        when($"l_quantity" <= 45, $"l_extendedprice").as("v"),
        $"l_linenumber".cast("double").as("d"))
    l.groupBy($"l_orderkey")
      .agg(round(Idw.idw($"v", $"d"), 4).as("idw_price"),
           count(lit(1)).as("n_neighbors"))
      .orderBy($"l_orderkey")
  }

  private val q42Sql =
    """SELECT l_orderkey,
      |  ROUND(SUM(CASE WHEN v IS NOT NULL THEN v / ((d + 0.000001) * (d + 0.000001)) END)
      |      / SUM(CASE WHEN v IS NOT NULL THEN 1.0 / ((d + 0.000001) * (d + 0.000001)) END), 4) AS idw_price,
      |  COUNT(*) AS n_neighbors
      |FROM (SELECT l_orderkey,
      |        CASE WHEN l_quantity <= 45 THEN l_extendedprice END AS v,
      |        CAST(l_linenumber AS DOUBLE) AS d
      |      FROM lineitem WHERE l_orderkey <= 2000)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** A5 deg-1 OLS (np.polyfit(x, y, 1), nb:427-429) via population
    * moments — slope/intercept of totalprice against order epoch-days.
    */
  private def q43(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(($"o_orderdate".cast("timestamp").cast("long") / lit(86400.0)).as("x"),
              $"o_totalprice".as("y"))
      .agg(
        round(Idw.olsSlope($"x", $"y"), 6).as("slope"),
        round(Idw.olsIntercept($"x", $"y"), 2).as("intercept"),
        count(lit(1)).as("n"))

  private val q43Sql =
    """SELECT
      |  ROUND(COVAR_POP(x, y) / VAR_POP(x), 6) + 0 AS slope,
      |  ROUND(AVG(y) - (COVAR_POP(x, y) / VAR_POP(x)) * AVG(x), 2) + 0 AS intercept,
      |  COUNT(*) AS n
      |FROM (SELECT EPOCH(o_orderdate) / 86400.0 AS x, o_totalprice AS y FROM orders)""".stripMargin

  // ------------------------------------------------------------- registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_multi_measure" -> (q03 _),
    "q04_minmax_bbox" -> (q04 _),
    "q05_count_distinct" -> (q05 _),
    "q06_rollup" -> (q06 _),
    "q07_cube" -> (q07 _),
    "q10_join_agg_chain" -> (q10 _),
    "q10b_join_agg_bucketed" -> (q10b _),
    "q11_left_join" -> (q11 _),
    "q12_semi_join" -> (q12 _),
    "q13_anti_join" -> (q13 _),
    "q14_range_join" -> (q14 _),
    "q15_nn_join_1d" -> (q15 _),
    "q20_window_rank" -> (q20 _),
    "q21_window_running" -> (q21 _),
    "q22_window_lag_lead" -> (q22 _),
    "q23_topk_limit" -> (q23 _),
    "q25_set_ops" -> (q25 _),
    "q26_distinct" -> (q26 _),
    "q30_string_fns" -> (q30 _),
    "q31_date_fns" -> (q31 _),
    "q32_math_fns" -> (q32 _),
    "q33_case_when" -> (q33 _),
    "q40_explode_tokens" -> (q40 _),
    "q41_stencil_3x3" -> (q41 _),
    "q42_idw" -> (q42 _),
    "q43_ols_fit" -> (q43 _)
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_multi_measure" -> q03Sql,
    "q04_minmax_bbox" -> q04Sql,
    "q05_count_distinct" -> q05Sql,
    "q06_rollup" -> q06Sql,
    "q07_cube" -> q07Sql,
    "q10_join_agg_chain" -> q10Sql,
    "q10b_join_agg_bucketed" -> q10Sql,
    "q11_left_join" -> q11Sql,
    "q12_semi_join" -> q12Sql,
    "q13_anti_join" -> q13Sql,
    "q14_range_join" -> q14Sql,
    "q15_nn_join_1d" -> q15Sql,
    "q20_window_rank" -> q20Sql,
    "q21_window_running" -> q21Sql,
    "q22_window_lag_lead" -> q22Sql,
    "q23_topk_limit" -> q23Sql,
    "q25_set_ops" -> q25Sql,
    "q26_distinct" -> q26Sql,
    "q30_string_fns" -> q30Sql,
    "q31_date_fns" -> q31Sql,
    "q32_math_fns" -> q32Sql,
    "q33_case_when" -> q33Sql,
    "q40_explode_tokens" -> q40Sql,
    "q41_stencil_3x3" -> q41Sql,
    "q42_idw" -> q42Sql,
    "q43_ols_fit" -> q43Sql
  )

}
