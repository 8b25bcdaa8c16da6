package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Schemas
import graft.fn.{TimeFns, GeoFns}

/** S1 track sources (SURVEY.md §2.1): both track CSV schemas present in
  * the reference repo, normalized to one canonical shape:
  *
  *   (point_id, ts, hour, lat, lon, stormname)
  *
  * with lon wrapped to [0,360) (P3, trackplot_hycom.py:167-170) and
  * `hour` = integer hours since 2000-01-01T00Z (F1).
  */
object TrackReader {

  /** NHC best-track CSV (header row; `hurricane_track`,
    * trackplot_hycom.py:158-171). Declared schema → CSV reader prunes to
    * the consumed columns only (the reference materializes 3 of 12).
    */
  def readNhc(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .schema(Schemas.nhcTrackSchema)
      .csv(path)
    normalize(
      raw.select(
        to_timestamp(col("atcfdtg"), "yyyyMMddHH").as("ts"),
        col("lat"), col("lon"), col("stormname"),
        // the ATCF storm number is the stable per-storm key — stormname
        // changes over a storm's life (INVEST → NINE → HERMINE in the
        // committed fixture)
        col("stormnum").as("storm_id")))
  }

  /** IBTrACS-style headerless CSV (Hermine_track.csv / Sandy_track.csv,
    * FIXTURES.md §1b — a second schema `hurricane_track` silently
    * misreads; supported explicitly here). Handles both lon conventions
    * (Hermine already [0,360), Sandy signed).
    */
  def readIbtracs(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "false")
      .option("mode", "PERMISSIVE")   // Hermine rows lack the 6 Sandy tail cols
      .schema(Schemas.ibtracsTrackSchema)
      .csv(path)
    normalize(
      raw.select(
        to_timestamp(trim(col("iso_time")), "M/d/yy H:mm").as("ts"),
        col("lat"), col("lon"), trim(col("name")).as("stormname"),
        // IBTrACS names are constant per storm (unlike NHC's mutating
        // stormname), and the committed fixtures reuse one serial
        // across two storms — key on both for robustness
        concat_ws("/", col("serial"), trim(col("name"))).as("storm_id")))
  }

  /** Shared canonicalization: lon wrap, hour offset, deterministic
    * point_id by time order within each storm (the reference relies on
    * file order of a single-storm file). The id window is partitioned by
    * `storm_id` — the stable ATCF number / IBTrACS serial, NOT the name,
    * which mutates over a storm's life — so ids restart at 0 per storm,
    * also when one read spans several storm files. point_id is unique per
    * (storm_id, ts); single-storm fixtures get the same 0..N-1 ids the
    * reference's file order implies.
    *
    * The window runs over the feed coalesced to one partition. Its
    * `SinglePartition` output already meets the window's clustering by
    * `storm_id`, so the plan has no exchange and the numbering costs no
    * job of its own: in the flagship it runs inside the track side's
    * broadcast build. A track feed is at most ~10⁵ fixes, which one task
    * numbers at once.
    */
  private def normalize(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("storm_id")).orderBy(col("ts"))
    df.coalesce(1)
      .withColumn("lon", GeoFns.wrapLon360(col("lon")))
      .withColumn("hour", TimeFns.hoursSince2000(col("ts")))
      .withColumn("point_id", row_number().over(w).cast("long") - 1)
      .select("point_id", "ts", "hour", "lat", "lon", "stormname")
  }
}
