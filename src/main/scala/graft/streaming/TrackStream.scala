package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.fn.TimeFns
import graft.io.SyntheticGrid.GridSpec
import graft.pipeline.TrackProfile

/** The flagship track-profile pipeline on a STREAM of track fixes
  * (SURVEY.md §2.8 north-star). Each micro-batch of fixes runs the batch
  * [[TrackProfile.profile]] itself — one implementation of as-of time
  * snap → NN snap → 3×3 stencil → Vincenty → gather → IDW, not a second
  * copy of it. Inside a batch the IDW groupBy is an ordinary batch
  * aggregate, so the stream keeps no state across batches and needs no
  * watermark: a fix is profiled in the batch it arrives in.
  */
object TrackStream {

  /** Profile every micro-batch of `fixes` against `grid` and hand the
    * result to `write` with the batch id.
    *
    * @param fixes (point_id, ts, lat, lon) with lon already wrapped
    * @param grid  long-format grid, sentinels cleaned, as for
    *              [[TrackProfile.profile]]
    * @return the stream's writer; the caller sets the trigger and starts it
    */
  def profile(fixes: DataFrame, grid: DataFrame, spec: GridSpec)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    fixes.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val track = batch.withColumn("hour", TimeFns.hoursSince2000(col("ts")))
      write(TrackProfile.profile(track, grid, spec), id)
    }
}
