package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, the dev tools
  * and the test suites all take their session from here, so the plans
  * the oracle checks are the plans the bench times.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. It must be a
    * positive integer: it is also the shuffle partition count, so
    * `local[*]`-style values are rejected here rather than deep in
    * Spark's config parsing.
    */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** A `local[cpus]` session with shuffle partitions = cpus. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS), which Spark
      // cannot represent: read it as Long nanos (Tables.events
      // normalizes either physical type to Long nanos)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Let AQE size post-shuffle partitions by the advisory target
      // instead of pinning them to default parallelism — Spark's own
      // recommendation for this knob. At sf0.1 a KB-scale shuffle
      // coalesces to 1 task instead of 32 (pure scheduling overhead);
      // at 100 TB the advisory target governs either way. AQE off
      // was 17% slower (OPTIMIZATION_r16.md).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ...but the 64 MB default advisory is a NETWORK-bound number.
      // On a CPU-bound local box it coalesced q10's 15M-group
      // exchange to ~4 tasks (round-7 probe: 10.3 s vs 2.9 s at sf10
      // — a 3.5× penalty on every multi-MB CPU-heavy exchange); 8 MB
      // keeps KB-scale shuffles at 1 task while giving aggregate
      // stages full width. 4 MB was a wash (OPTIMIZATION_r16.md). A
      // real cluster re-tunes this per its shuffle fabric.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // Shuffle files on the fastest local medium (round 16). Thread
      // dumps during 32-task stages showed the tasks in shuffle-file
      // syscalls (FileChannel map/unmap, open, write) on the virtio
      // disk behind /tmp — ~0.25 s of a 0.58 s exchange+agg stage was
      // file I/O, not compute. tmpfs removes it (0.58 → 0.31 s per
      // exchange stage). Falls back to the JVM default when tmpfs is
      // absent.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
        else System.getProperty("java.io.tmpdir")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
