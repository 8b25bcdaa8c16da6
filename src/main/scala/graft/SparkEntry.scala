package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.{SyntheticGrid, TrackReader}
import graft.pipeline.TrackProfile

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.tbl(spark, dir, name)

  /** Flagship query (SURVEY.md §3.1): the Hermine track-profile pipeline
    * over a deterministic synthetic grid (coarse axes for smoke speed).
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val track = TrackReader.readNhc(spark, "data/al092016_track.csv")
    val spec = SyntheticGrid.hermineSpec(step = 0.4)
    val grid = SyntheticGrid.cleanSentinels(SyntheticGrid.generate(spark, spec))
    TrackProfile.profile(track, grid, spec)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all ++ Queries2.all ++ Queries3.all ++ Queries4.all ++ Queries5.all ++
      Queries6.all ++ Queries7.all ++ Queries8.all ++ Queries9.all ++
      Queries10.all ++ Queries11.all ++ Queries12.all ++ Queries13.all ++
      Queries14.all ++ Queries15.all ++ Queries16.all ++ Queries17.all ++
      Queries18.all ++ Queries19.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Queries.oracles ++ Queries2.oracles ++ Queries3.oracles ++ Queries4.oracles ++
      Queries5.oracles ++ Queries6.oracles ++ Queries7.oracles ++ Queries8.oracles ++
      Queries9.oracles ++ Queries10.oracles ++ Queries11.oracles ++
      Queries12.oracles ++ Queries13.oracles ++ Queries14.oracles ++
      Queries15.oracles ++ Queries16.oracles ++ Queries17.oracles ++
      Queries18.oracles ++ Queries19.oracles
}
