package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session-cached bucketed copies of the testdata tables — the
  * co-located-join layout (SURVEY §6 / PLANS round-5/6: hash-bucket
  * the fact tables on their join key ONCE, and every key-grained
  * join/aggregate afterwards runs with ZERO exchanges on that key).
  * At 100 TB this is the difference between re-shuffling the fact
  * table per query and paying one write; locally it lets the graded
  * q10b exercise the exchange-free plan the tools/Q10Bucketed probe
  * (at commit ea0c763) demonstrated.
  *
  * The write repartitions on the bucket key FIRST (same Murmur3 hash
  * as the bucket spec) so each writer task holds exactly one bucket —
  * one file per bucket instead of writers×buckets small files (the
  * round-6 `repartition-before-bucketBy` rule; the small-file tax
  * would otherwise be charged to every later scan).
  *
  * Tables land in a process-temp warehouse path and a session-unique
  * catalog name keyed by (dir, table, key, buckets), created at most
  * once per JVM per key (concurrent callers coordinate on the
  * `creating` latch map). Callers get back `spark.table(name)` — the
  * catalog relation that carries the bucket spec into planning.
  */
object BucketedLayout {

  private val created = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val baseDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_bucketed")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The bucketed relation for `dir/table.parquet` on `bucketKey`,
    * creating it on first use (one bucketed write per JVM per
    * layout). `sortKey` defaults to the bucket key — bucket-local
    * sort makes the scan-side sort for SMJ free.
    */
  def table(spark: SparkSession, dir: String, name: String,
            bucketKey: String, buckets: Int = 32): DataFrame = {
    // keyed per-session: saveAsTable registers in the calling
    // session's catalog, so a cache hit from a DIFFERENT session
    // would resolve to a missing table
    val layoutKey =
      s"${System.identityHashCode(spark)}/$dir/$name/$bucketKey/$buckets"
    val tblName = created.computeIfAbsent(layoutKey, { _ =>
      val tbl = "graft_b_" + name + "_" +
        java.lang.Integer.toHexString(layoutKey.hashCode).replace('-', 'n')
      graft.Tables.tbl(spark, dir, name)
        .repartition(buckets, col(bucketKey))
        .write.mode("overwrite")
        .option("path", s"$baseDir/$tbl")
        .bucketBy(buckets, bucketKey).sortBy(bucketKey)
        .saveAsTable(tbl)
      tbl
    })
    spark.table(tblName)
  }
}
