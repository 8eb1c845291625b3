package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Per-stage breakdown of one catalog query at one scale dir — where does
  * the wall time actually go? For each stage: task-time sum, input bytes,
  * shuffle read/write bytes and records, and memory/disk spill. The tool
  * behind superlinear-scaling triage: a query whose 10× ratio exceeds 10
  * has either a stage whose record counts grow faster than the data (plan
  * problem) or spill columns lighting up (memory cliff) — this prints
  * which, instead of leaving it to guesswork.
  *
  * Usage: `StageDiag <queryName> <sfDir>` — warm pass first (same protocol
  * as [[ScaleProbe]]), then a fresh instance traced.
  */
object StageDiag {
  private final case class StageAgg(
      var name: String = "",
      var taskTimeMs: Long = 0L,
      var taskCpuNs: Long = 0L,
      var inputBytes: Long = 0L,
      var shuffleReadBytes: Long = 0L,
      var shuffleReadRecords: Long = 0L,
      var shuffleWriteBytes: Long = 0L,
      var shuffleWriteRecords: Long = 0L,
      var memorySpill: Long = 0L,
      var diskSpill: Long = 0L,
      var outputRecords: Long = 0L,
      var wallMs: Long = 0L,
      var numTasks: Int = 0,
      var firstLaunch: Long = Long.MaxValue,
      var lastFinish: Long = 0L)

  def main(args: Array[String]): Unit = {
    val Array(name, sfDir) = args.take(2)
    graft.Bench.pickScratch() // same scratch placement as Bench, so I/O-bound
    // stages (fixture writes, streaming state) trace under bench conditions
    if (sys.env.getOrElse("SPARK_GRAFT_PRETOUCH", "1") != "0") graft.Bench.preTouchHeap()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fn = graft.SparkEntry.queries(name)
    // SPARK_GRAFT_DIAG_WARM=0 skips the warm pass: wall times then include
    // JIT/first-touch noise, but record counts and spill are exact — the
    // right trade when one pass of the query runs for minutes.
    if (sys.env.getOrElse("SPARK_GRAFT_DIAG_WARM", "1") != "0")
      fn(spark, sfDir).queryExecution.toRdd.count() // warm
    // match Bench methodology: the measured pass must re-pay comparison
    // construction, not read the warm pass's memoized result
    graft.Queries.clearComparisonCache()

    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    // stageId -> the submitting job's callsite (the AQE shuffle-stage jobs
    // all report "withThreadLocalCaptured at CompletableFuture" as their
    // stage name; the JOB-level callsite still names the driving action)
    val stageSite = mutable.HashMap.empty[Int, String]
    val tracing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (tracing.get) {
        val p = Option(j.properties)
        val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse("-")
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
        val site = s"exec=$exec${if (desc.nonEmpty) s" $desc" else ""}"
        stageSite.synchronized(j.stageIds.foreach(id => stageSite.getOrElseUpdate(id, site)))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (tracing.get) {
        val a = stages.synchronized(stages.getOrElseUpdate(t.stageId, StageAgg()))
        val m = t.taskMetrics
        if (m != null) a.synchronized {
          a.numTasks += 1
          if (t.taskInfo != null) {
            a.firstLaunch = math.min(a.firstLaunch, t.taskInfo.launchTime)
            a.lastFinish = math.max(a.lastFinish, t.taskInfo.finishTime)
          }
          a.taskTimeMs += m.executorRunTime
          a.taskCpuNs += m.executorCpuTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          a.memorySpill += m.memoryBytesSpilled
          a.diskSpill += m.diskBytesSpilled
          a.outputRecords += m.outputMetrics.recordsWritten
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (tracing.get) {
        val a = stages.synchronized(stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg()))
        a.name = s.stageInfo.name.takeWhile(_ != '\n')
        a.wallMs = (for {
          c <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
        } yield c - b).getOrElse(0L)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    tracing.set(true)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    tracing.set(false)
    // drain the listener bus so late TaskEnd events land before printing
    // (the bus's waitUntilEmpty is private[spark]; a beat is enough here)
    Thread.sleep(1500)

    def mb(b: Long): String = f"${b / 1e6}%9.1f"
    println(f"== $name @ $sfDir: $wall%.2f s wall, $n rows ==")
    println(f"${"stage"}%-7s${"t0_s"}%7s${"wall_s"}%8s${"tasks"}%6s${"task_s"}%8s${"cpu_s"}%8s${"input_MB"}%10s" +
      f"${"shR_MB"}%10s${"shR_rec"}%12s${"shW_MB"}%10s${"shW_rec"}%12s${"spill_MB"}%10s  name")
    val tBase = stages.valuesIterator.map(_.firstLaunch).foldLeft(Long.MaxValue)(math.min)
    stages.toSeq.sortBy(_._1).foreach { case (id, a) =>
      val site = stageSite.getOrElse(id, "")
      val label = if (site.nonEmpty) s"[$site] ${a.name}" else a.name
      val t0 = if (a.firstLaunch == Long.MaxValue) -1.0 else (a.firstLaunch - tBase) / 1e3
      println(f"$id%-7d$t0%7.2f${a.wallMs / 1e3}%8.2f${a.numTasks}%6d${a.taskTimeMs / 1e3}%8.1f${a.taskCpuNs / 1e9}%8.1f${mb(a.inputBytes)}%10s" +
        f"${mb(a.shuffleReadBytes)}%10s${a.shuffleReadRecords}%12d${mb(a.shuffleWriteBytes)}%10s" +
        f"${a.shuffleWriteRecords}%12d${mb(a.diskSpill)}%10s  $label")
    }
    spark.stop()
  }
}
