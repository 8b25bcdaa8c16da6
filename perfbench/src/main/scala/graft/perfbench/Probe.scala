package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters summed over every task, job and stage the
  * listener bus reports while attached. Read them as deltas around an op.
  */
final class EngineCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val executorRunMs, gcMs, shuffleWriteBytes, spillBytes = new AtomicLong
  /** Wall intervals of finished jobs, (start ms, end ms). */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    jobIntervals.add((s, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executor_run_s" -> executorRunMs.get / 1e3,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble)

  /** Milliseconds of [from, to] covered by at least one finished job. */
  def jobCoverMs(from: Long, to: Long): Long = {
    val iv = jobIntervals.toArray(Array.empty[(Long, Long)])
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Operator metrics of the last executed query, read from the
  * QueryExecution the listener receives. The noop write runs its own
  * execution, so the DataFrame's own `queryExecution` never sees them.
  */
final class PlanMetrics(planDir: Path) extends QueryExecutionListener {
  @volatile var current: String = ""
  @volatile var last: Map[String, Double] = Map.empty
  private val dumped = mutable.Set[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val tag = current
    last = PlanMetrics.read(qe.executedPlan)
    if (tag.nonEmpty && dumped.synchronized(dumped.add(tag))) {
      Files.createDirectories(planDir)
      val metrics = PlanMetrics.nodes(qe.executedPlan).map { n =>
        n.nodeName + n.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.value}" }.mkString(" ", " ", "")
      }
      Files.write(planDir.resolve(s"$tag.txt"),
        (qe.explainString(FormattedMode) + "\n== Operator metrics ==\n" + metrics.mkString("\n"))
          .getBytes(StandardCharsets.UTF_8))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    last = Map.empty
}

object PlanMetrics {
  /** Every node of an executed plan, through AQE stages, reused
    * exchanges and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(n: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(n)) Nil
      else n +: (n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children ++ o.subqueries
      }).flatMap(walk)
    walk(p)
  }

  private def m(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  def read(plan: SparkPlan): Map[String, Double] = {
    val all = nodes(plan)
    val scans = all.filter(_.nodeName.startsWith("Scan parquet"))
    val bcasts = all.filter(_.nodeName == "BroadcastExchange")
    val joins = all.filter(_.nodeName == "BroadcastHashJoin")
    // the IDW aggregate: the final-mode aggregate above the grid scan.
    // Its output rows count each execution: the orderBy's range
    // partitioner samples it once before the exchange runs it again.
    val idw = all.collect {
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Final) &&
          nodes(h).exists(_.nodeName.startsWith("Scan parquet")) => h
    }
    val rowsScanned = scans.map(m(_, "numOutputRows")).sum
    val joined = joins.map(m(_, "numOutputRows")).sum
    Map(
      "io.grid_rows_scanned" -> rowsScanned,
      // scan time is summed over tasks (ms → s), not wall time
      "io.grid_scan_s" -> scans.map(m(_, "scanTime")).sum / 1e3,
      // bytes of the files the scan opened after partition pruning
      "io.grid_bytes_read" -> scans.map(m(_, "filesSize")).sum,
      "io.scan_useful_ratio" -> (if (rowsScanned > 0) joined / rowsScanned else 0.0),
      "pipeline.broadcast_bytes" -> bcasts.map(m(_, "dataSize")).sum,
      "ops.Stencil.rows" -> (if (bcasts.isEmpty) 0.0 else bcasts.map(m(_, "numOutputRows")).max),
      "ops.Idw.groups" -> idw.map(m(_, "numOutputRows")).sum)
  }
}

/** One traced interval. `parent` is the id of the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written out once when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()

  def span[T](name: String, parent: Int, op: Int)(body: Int => T): (T, Span) = {
    val id = spans.size
    spans += null // reserve the id so children get later ids
    val t0 = System.nanoTime()
    val r = body(id)
    val s = Span(id, name, t0, System.nanoTime(), parent, op)
    spans(id) = s
    (r, s)
  }

  /** One JSON object per line. */
  def write(path: Path): Unit =
    Files.write(path, spans.map(Main.Json.writeValueAsString(_) + "\n").mkString
      .getBytes(StandardCharsets.UTF_8))
}

/** Host health read from /proc: hypervisor steal, load and peak RSS. */
object Box {
  final case class Cpu(steal: Long, total: Long)

  private def read(p: String): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get(p)), StandardCharsets.UTF_8)
    catch { case _: java.io.IOException => "" }

  def cpu(): Cpu = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    Cpu(if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def stealPct(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0

  def loadavg(): Double =
    read("/proc/loadavg").trim.split("\\s+").headOption.map(_.toDouble).getOrElse(0.0)

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** Listener wiring. Untraced ops run with both listeners detached, so
  * the end-to-end numbers carry no instrumentation.
  */
final class Probe(spark: SparkSession, planDir: Path) {
  val counters = new EngineCounters
  val plans = new PlanMetrics(planDir)
  private var attached = false

  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(plans)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(plans)
    }
    attached = on
  }

  /** Wait until every posted event has been delivered; the plan
    * listener's callbacks travel on the same bus.
    */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
