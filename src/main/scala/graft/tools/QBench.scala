package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}

/** Round-16 optimization instrument: isolated per-query timing with the
  * noop sink (guide §1.4 — computes every column of every row, no
  * count()-side pruning) plus `.explain("formatted")` dumps for the
  * plans/r16 evidence files. NOT the driver bench — Bench.scala keeps
  * the count()-timed contract; this tool exists so a change can be
  * measured on one query without re-running the 170-query suite.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.QBench [--plans DIR] [--suffix S] [--reps N] q117_dup_spans ..."
  *
  * Prints one line per query: name, min/median of N reps (seconds).
  * With --plans DIR, writes DIR/<name>_<suffix>.txt containing
  * explain("formatted") of the exact DataFrame the bench times.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    var plansDir: Option[String] = None
    var suffix = "before"
    var reps = 3
    var stages = false
    var countMode = false // time d.count() like Bench instead of the noop sink
    var cold = false      // skip the untimed warm run (JIT-decay measurement)
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--stages" => stages = true; i += 1
        case "--count" => countMode = true; i += 1
        case "--cold" => cold = true; i += 1
        case n => names += n; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus(32))
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    // per-stage wall/task-time/shuffle metrics for the LAST timed rep
    // (guide §7.1 empirics without the UI: find where the time goes)
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Long, Long, Long, Int)]()
    if (stages) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stageLog.add((si.stageId,
          si.name.linesIterator.next().take(60), wall,
          m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          si.numTasks))
      }
    })
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      plansDir.foreach { d =>
        // capture the formatted physical plan of the timed DataFrame
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$d/${name}_$suffix.txt"), txt)
      }
      spark.sparkContext.setJobDescription(s"qbench:$name")
      def run(): Unit =
        if (countMode) df.count()
        else df.write.format("noop").mode("overwrite").save()
      // warm once (JIT/codegen/broadcast), then reps timed runs
      if (!cold) run()
      val raw = (0 until reps).map { r =>
        if (r == reps - 1) stageLog.clear()
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }
      val times = raw.sorted
      val min = times.head
      val med = times(times.length / 2)
      println(f"[qbench] $name%-34s min=$min%7.3f med=$med%7.3f reps=$reps " +
        raw.map(t => f"$t%.3f").mkString("[", " ", "]"))
      if (stages) {
        import scala.jdk.CollectionConverters._
        stageLog.asScala.toSeq.sortBy(-_._3).take(12).foreach {
          case (id, nm, wall, run, gc, sr, sw, nt) =>
            println(f"[stage] $id%4d wall=${wall}%6d ms run=${run}%7d ms " +
              f"gc=${gc}%5d ms sr=${sr / 1024}%7d KB sw=${sw / 1024}%7d KB " +
              f"tasks=$nt%3d  $nm")
        }
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
