package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped catalog relation cache for the testdata tables.
  *
  * `spark.read.parquet(path)` re-creates the relation on EVERY call:
  * DataSource resolution, file listing (InMemoryFileIndex), footer
  * schema read — measured ~90 ms of driver-side work per call on this
  * box (tools/FloorProbe at commit ea0c763: fresh read+agg 283 ms vs
  * cached relation 178 ms; fresh count 193 ms vs 105 ms). A catalogued table in
  * production Spark pays this ONCE — `spark.table` resolves to a
  * relation whose FileIndex the session catalog retains — so a bench
  * that re-reads by path per query measures relation-creation floor,
  * not query execution. This object restores the catalog behavior for
  * the path-addressed testdata layout: one analyzed DataFrame per
  * (session, file), reused across queries.
  *
  * Scale note: at 100 TB the equivalent is a metastore table (or
  * Delta/Iceberg log) whose file listing is likewise cached/managed —
  * per-query re-listing of a large table's file set is an
  * anti-pattern there too, just with a much larger constant.
  *
  * Keyed strongly by session in a bounded LRU (a WEAK session key
  * cannot work here: the cached DataFrames strongly reference their
  * owning session, so a value→key cycle would pin every entry
  * forever and the "collectable" claim would be false). Memory is bounded
  * instead: at most [[Tables.maxSessions]] sessions are retained,
  * least-recently-used evicted first — a hard bound that holds
  * regardless of GC behavior. Keyed by absolute path within a session
  * so distinct sf dirs coexist. Content-change invalidation is out of
  * scope (testdata is immutable within a run) — tests that rewrite a
  * path they already read must call [[Tables.invalidate]].
  */
object Tables {

  /** Hard cap on retained sessions (LRU beyond this). */
  val maxSessions = 8

  private val bySession =
    new java.util.LinkedHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]])
        : Boolean = size() > maxSessions
    }

  private def sessionMap(spark: SparkSession) = bySession.synchronized {
    var m = bySession.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
      bySession.put(spark, m)
    }
    m
  }

  /** The cached relation for `dir/name.parquet` (created on first use). */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    sessionMap(spark).computeIfAbsent(s"$dir/$name.parquet",
      path => spark.read.parquet(path))

  /** `events` with `ts` normalized to Long epoch-nanoseconds.
    *
    * The driver's testdata has shipped `ts` under two physical types
    * across rounds: TIMESTAMP(NANOS) (reads as LongType under
    * `nanosAsLong`) and TIMESTAMP(MICROS) (reads as timestamp_ntz).
    * Engine arithmetic and every oracle (`epoch_ns(ts)` — valid on
    * both TIMESTAMP_NS and TIMESTAMP in DuckDB) are defined on exact
    * integer nanoseconds, so this accessor absorbs the physical-type
    * difference at scan time with a zero-shuffle projection; nothing
    * round-trips through double or loses sub-microsecond precision.
    * (NTZ casts straight to long throw in Spark 4 — route through
    * `cast("timestamp")` + `unix_micros`, exact under the UTC session
    * timezone every entry point here sets.)
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTsNanos(tbl(spark, dir, "events"))

  /** Same normalization for an externally-loaded events frame (works
    * on streaming DataFrames too — it is a plain projection).
    */
  def normalizeTsNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        import org.apache.spark.sql.functions.{col, unix_micros}
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }

  /** Size-aware spread for single-file scans feeding hash-heavy
    * per-row kernels (minhash/winnow/LM/BPE…): a one-row-group
    * testdata file yields ONE input split, so the kernel would run
    * serially without a repartition — but a fixed
    * `repartition(defaultParallelism)` overpays at small inputs,
    * where 32-task wave scheduling costs more than the kernel itself
    * (measured round 7: q102 at sf1 0.94 s at width 32 vs 0.70 s at
    * width 8; same ordering at sf10). Width therefore scales with the
    * relation's file bytes (~one partition per `targetBytes`),
    * clamped to [minParts, defaultParallelism]: small corpora pay few
    * waves, large corpora still fan out to every core, and on a real
    * cluster a 100 TB table has thousands of row groups so the
    * repartition is a no-op-sized safety net, not the parallelism
    * source. Plan-stats based — no job runs to pick the width.
    */
  def spread(spark: SparkSession, df: DataFrame,
             minParts: Int = 8, targetBytes: Long = 4L << 20): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes / targetBytes).min(BigInt(1 << 24)).toInt + 1
    val width = math.max(minParts,
      math.min(spark.sparkContext.defaultParallelism, want))
    df.repartition(width)
  }

  /** The `documents` relation spread for hash-heavy stages — the
    * shared definition behind every query batch's `docsPar`. */
  def docsPar(spark: SparkSession, dir: String): DataFrame =
    spread(spark, tbl(spark, dir, "documents"))

  /** `doc_id < n` over the documents table, spread to the full core
    * count — the shared base of the synth+walk/decode query family
    * (round 16). The testdata file is one row group, so without the
    * spread every one of these CPU-bound kernels ran in a SINGLE task
    * (q178 measured 2.5 s single-task vs 0.14 s spread); the spread
    * moves 8 bytes/row, nothing next to the kernel cost. On a real
    * many-row-group table the repartition is a no-op-sized safety
    * net, not the parallelism source (the docIds rule of Queries14).
    */
  def docIdsUnder(spark: SparkSession, dir: String, n: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    spread(spark,
      tbl(spark, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < n),
      minParts = spark.sparkContext.defaultParallelism)
  }

  /** Drop every cached relation for this session (e.g. after a test
    * rewrites a path it already read through the cache). */
  def invalidate(spark: SparkSession): Unit =
    bySession.synchronized { bySession.remove(spark) }
}
