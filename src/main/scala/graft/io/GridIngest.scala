package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.SyntheticGrid.GridSpec

/** S4: real grid ingestion — a NetCDF-3 classic 4-D model array →
  * long-format time-partitioned parquet (SURVEY.md §2.1 S4, §7.2
  * phase 3).
  *
  * The reference reads a remote netCDF 4-D array via OPeNDAP hyperslab
  * requests (`trackplot_hycom.py:144,244`). graft reads the same
  * container from a file: [[Nc3]] parses the NetCDF Classic header
  * (CDF-1/CDF-2) JDK-only, and [[ingestNc]] decodes CF short-packing
  * (scale/offset) and `_FillValue` per cell. Missing cells become SQL
  * null at ingest — NaN never enters the engine (SURVEY.md §7.4 trap 1).
  *
  * ==Scale design==
  * The file is NOT read as one blob: [[ingestNc]] reads the KB-scale
  * header and axes driver-side, then `spark.range` over (t, d) slabs
  * fans the byte ranges out across the cluster — each task seeks
  * directly to its planes (one contiguous read per variable), the
  * distributed analog of the reference's per-point hyperslab requests
  * but issued once per slab instead of 9× per track point. On a
  * cluster the `RandomAccessFile` becomes any seekable stream (HDFS/S3
  * ranged GET); the slab math is unchanged. [[ingestToParquet]] writes
  * the result through [[SyntheticGrid.writeGrid]] → parquet partitioned
  * by `time`, so downstream queries prune partitions instead of
  * re-touching the dense array.
  */
object GridIngest {

  /** Upper bound on the ingest's slab tasks. */
  private val Partitions = 32

  /** Ingest a NetCDF-3 classic file (the reference's container —
    * trackplot_hycom.py:144) into the long-format grid schema
    * (Schemas.gridSchema). Slab-parallel: each task seeks straight to
    * its (t, d) planes via [[Nc3.SlabReader]].
    */
  def ingestNc(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val hdr = Nc3.readHeader(path)
    val spec = Nc3.gridSpecOf(path, hdr)
    val nD = spec.depths.size
    val planeCells = spec.nLat * spec.nLon
    val tempR = Nc3.slabReaderOf(hdr, hdr.variable("water_temp"), nD, planeCells)
    val salR = Nc3.slabReaderOf(hdr, hdr.variable("salinity"), nD, planeCells)
    val times = spec.times; val depths = spec.depths
    val nLon = spec.nLon
    val (latMin, latStep, lonMin, lonStep) =
      (spec.latMin, spec.latStep, spec.lonMin, spec.lonStep)
    val nSlabs = times.size * nD
    spark.range(0, nSlabs, 1, math.min(Partitions, nSlabs))
      .as[Long]
      .mapPartitions { slabIds =>
        val raf = new java.io.RandomAccessFile(path, "r")
        // one fd per task — close it when the task ends (success OR
        // failure); without this, fds leak until executor GC and long
        // sessions eventually hit the open-file limit
        org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](
          _ => raf.close())
        val tBuf = new Array[Byte](tempR.planeBytes)
        val sBuf = new Array[Byte](salR.planeBytes)
        slabIds.flatMap { slab =>
          val t = (slab / nD).toInt
          val d = (slab % nD).toInt
          val tb = tempR.readPlane(raf, t, d, tBuf)
          val sb = salR.readPlane(raf, t, d, sBuf)
          (0 until planeCells).iterator.map { c =>
            val y = c / nLon
            val x = c % nLon
            (times(t), d, depths(d),
              y, latMin + y * latStep,
              x, lonMin + x * lonStep,
              tempR.dec.decode(tb, c),
              salR.dec.decode(sb, c))
          }
        }
      }
      .toDF("time", "depth_idx", "depth", "lat_idx", "lat",
        "lon_idx", "lon", "water_temp", "salinity")
  }

  /** Full ingestion job: NetCDF-3 classic file → sentinel cleanup →
    * canonical time-partitioned parquet grid (ready for TrackProfile).
    * A file without the `CDF` magic fails in [[Nc3.readHeader]] with
    * "not a NetCDF classic file".
    */
  def ingestToParquet(spark: SparkSession, gridPath: String,
                      parquetPath: String): GridSpec = {
    val spec = Nc3.gridSpecOf(gridPath, Nc3.readHeader(gridPath))
    // every slice holds the whole lat × lon × depth box: the header gives
    // the row count, so the cells are not decoded a second time to count
    SyntheticGrid.writeGrid(SyntheticGrid.cleanSentinels(ingestNc(spark, gridPath)), parquetPath,
      spec.nLat.toLong * spec.nLon * spec.depths.size)
    spec
  }
}
