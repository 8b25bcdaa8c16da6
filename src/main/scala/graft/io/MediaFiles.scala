package graft.io

import org.apache.spark.sql.Dataset

/** Per-asset binary file sink — the generic half of the media-sink
  * story: [[graft.ext.VorbisEncode]] (or any producer of container
  * bytes) emits one file per row, named `<id>.<ext>`, the layout a
  * media corpus on object storage actually has and the shape
  * `spark.read.format("binaryFile")` ingests back.
  *
  * Write discipline: each task writes its rows to attempt-unique
  * temp objects and renames into place (the WARC sink rule), so
  * a speculative duplicate can never leave a torn file; a rename
  * refused because the winner already committed is verified, never
  * silently dropped. Scale shape: embarrassingly parallel, one
  * stream per row, no driver involvement beyond the directory
  * create.
  */
object MediaFiles {

  def write(rows: Dataset[(Long, Array[Byte])], dir: String, ext: String): Unit = {
    val spark = rows.sparkSession
    val box = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fsDriver = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsDriver.mkdirs(dirPath)
    rows.foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val fs = dirPath.getFileSystem(box.value)
        it.foreach { case (id, bytes) =>
          val finalPath = new org.apache.hadoop.fs.Path(dir, s"$id.$ext")
          val tmpPath = new org.apache.hadoop.fs.Path(dir,
            s".$id.$ext.attempt-${tc.taskAttemptId()}")
          val out = fs.create(tmpPath, true)
          try out.write(bytes) finally out.close()
          if (!fs.rename(tmpPath, finalPath)) {
            require(fs.exists(finalPath),
              s"MediaFiles: rename $tmpPath -> $finalPath failed with no committed twin")
            fs.delete(tmpPath, false)
          }
        }
      }
      ()
    }
  }
}
