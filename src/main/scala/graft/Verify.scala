package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.cpus(4))
    new java.io.File(outDir).mkdirs()
    // per-query wall time -> timings.json (round 15, verdict item 10):
    // the suite is big enough that a judge needs to separate hypervisor
    // steal from real drift without re-deriving it from bench tails
    val timings = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings += ((name, (System.nanoTime() - t0) / 1e9))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        timings += ((name, -1.0))
      }
    }
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.sortBy(_._1)
        .map { case (n, s) => f""""$n": $s%.3f""" }
        .mkString("{", ", ", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
