package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of a workload. */
final case class Op(name: String, run: () => Unit)

trait Workload {
  def name: String
  /** Fixes profiled per op; 0 when the op is not a profile. */
  def fixes: Long
  /** Generates and writes the inputs; returns write-layer counters. */
  def setup(): Map[String, Double]
  /** One pass, in order. */
  def ops: Seq[Op]
  /** One traced pass: spans into `tracer`, per-layer values out. */
  def traced(tracer: Tracer, probe: Probe, opId: Int, parent: Int): Map[String, Double]
  /** Runs every op once with its output collected, outside the timed
    * window; (op name, problem) for every output that fails its check.
    * Sets `probe.plans.current` so each op's executed plan is dumped.
    */
  def check(seed: Long, probe: Probe): Seq[(String, String)]
}

object Sink {
  /** Materializes every row through the noop sink: unlike `count()`,
    * no projected column can be pruned away.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Benchmark driver. One run = one workload, one seed, one mode:
  * untraced (end-to-end metrics) or traced (per-layer metrics).
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *             --t0-ms EPOCH_MS
  */
object Main {
  /** Spark task slots. At 4 on the 4-core box the task threads competed
    * with the JIT, GC and steal, and op times spread 2.5× wider.
    */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)
  /** Input set-ups per run; setup_s takes their median. */
  val SetupReps = 3
  /** Noop passes before timing, after the set-ups and the check pass
    * have already run every op once.
    */
  val WarmSeconds = 4.0
  /** Percentile reported as op_tail_s. */
  val TailPct = 75

  def main(args: Array[String]): Unit =
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        // Spark's non-daemon threads would otherwise keep the JVM alive
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    val t0Ms = a("t0-ms").toLong
    val work = out.resolve("work")
    Files.createDirectories(work)

    val cpu0 = Box.cpu()
    val load0 = Box.loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val launchS = (System.currentTimeMillis() - t0Ms) / 1e3

    val wl: Workload = workloadName match {
      case "profile_fine" => ProfileWorkload.fine(spark, work, seed)
      case "profile_dense" => ProfileWorkload.dense(spark, work, seed)
      case "corpus_kernels" =>
        new CorpusWorkload(spark, work, Paths.get("perfbench/expectations/corpus_kernels.json"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, repeated; the write-layer counters are medians across reps
    val reps = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      val m = wl.setup()
      ((System.nanoTime() - t) / 1e9, m)
    }
    val setupRepS = median(reps.map(_._1))
    val writeLayer = reps.head._2.keys.map(k => k -> median(reps.map(_._2(k)))).toMap

    // untimed warm-up: the output checks (every op runs once with its
    // output collected and checked, and the plan listener dumps its
    // plan), then noop passes until the JIT has settled
    val probe = new Probe(spark, out.resolve("plans"))
    val warmT = System.nanoTime()
    probe.attach(true)
    val problems = try wl.check(seed, probe) catch { case e: Throwable => Seq("check" -> e.toString) }
    probe.attach(false)
    val noopT = System.nanoTime()
    while (System.nanoTime() - noopT < WarmSeconds * 1e9) wl.ops.foreach(op => safely(op.run()))
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = launchS + setupRepS + warmS

    val samples = mutable.ArrayBuffer[(String, Double)]()
    val passes = mutable.ArrayBuffer[Double]()
    val failedOps = mutable.Set[String]()
    var threw = 0
    def pass(): Unit = {
      val p0 = System.nanoTime()
      wl.ops.foreach { op =>
        val t = System.nanoTime()
        if (!safely(op.run())) { threw += 1; failedOps += op.name }
        samples += (op.name -> (System.nanoTime() - t) / 1e9)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }

    val tracer = new Tracer
    val tracedPasses = mutable.ArrayBuffer[Map[String, Double]]()
    val cpuW = Box.cpu()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def more = elapsed < seconds
    if (!trace) {
      while (more) pass()
    } else {
      // untraced and traced passes alternate, so the overhead ratio
      // compares ops taken under the same box conditions
      var opId = 0
      while (more || tracedPasses.isEmpty) {
        pass()
        probe.attach(true)
        val (m, _) = tracer.span(s"op.${wl.name}", -1, opId)(id => wl.traced(tracer, probe, opId, id))
        probe.attach(false)
        tracedPasses += m
        opId += 1
      }
    }
    val cpu1 = Box.cpu()
    val load1 = Box.loadavg()

    val badOps = failedOps ++ problems.map(_._1).flatMap { n =>
      if (wl.ops.exists(_.name == n)) Seq(n) else wl.ops.map(_.name)
    }
    val attempted = samples.size
    val failed = samples.count { case (n, _) => badOps.contains(n) }

    val times = samples.map(_._2).toSeq.sorted
    val opMedian = wl.ops.map(op => op.name -> median(samples.collect { case (op.name, t) => t }.toSeq))
    val e2e = Map(
      "op_p50_s" -> percentile(times, 50),
      "op_tail_s" -> percentile(times, TailPct),
      // a window holds only a few passes of the corpus list, so a pass is
      // the sum of each op's median rather than the median of few passes
      "pass_s" -> opMedian.map(_._2).sum,
      "setup_s" -> setupS,
      "peak_rss_mb" -> Box.peakRssMb())
    val box = Map(
      "box.steal_pct" -> Box.stealPct(cpu0, cpu1),
      "box.loadavg" -> math.max(load0, load1))
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = tracedPasses.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(tracedPasses.flatMap(_.get(k)).toSeq)).toMap
        val wall = med("op_s")
        val untraced = median(if (wl.ops.size == 1) samples.map(_._2).toSeq else passes.toSeq)
        (med - "op_s") ++ writeLayer ++ box ++ Map(
          "spark.idle_core_s" -> math.max(0.0, wall * Cores - med.getOrElse("spark.executor_run_s", 0.0)),
          "trace.overhead_ratio" -> (wall / untraced - 1.0))
      }
    tracer.write(out.resolve("spans.jsonl"))

    val info = Map[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "cores" -> Cores,
      "ops_timed" -> samples.size, "passes" -> passes.size, "tail_percentile" -> TailPct,
      // fixes ÷ median op: a restatement of op_p50_s, so not a bounded metric
      "fixes_per_s" -> (if (wl.fixes > 0) wl.fixes / percentile(times, 50) else 0.0),
      "op_median_s" -> opMedian.toMap,
      "op_samples_s" -> samples.map(_._2).toList,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "threw" -> threw, "problems" -> problems.map { case (n, p) => s"$n: $p" }.toList,
      "window_steal_pct" -> Box.stealPct(cpuW, cpu1),
      "launch_s" -> launchS, "setup_rep_s" -> reps.map(_._1).toList, "warm_s" -> warmS,
      "busy_box" -> (box("box.steal_pct") > 5.0 ||
        box("box.loadavg") > Runtime.getRuntime.availableProcessors)) ++ box
    val result = Map(
      "correct" -> (problems.isEmpty && threw == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> (if (trace) layers else e2e), "info" -> info)
    Files.write(out.resolve("result.json"), Json.writeValueAsBytes(result))
    spark.stop()
  }

  private def safely(body: => Unit): Boolean =
    try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op failed: $e")
        false
    }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 50)

  /** Nearest-rank percentile of sorted values. */
  def percentile(sorted: Seq[Double], p: Int): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
