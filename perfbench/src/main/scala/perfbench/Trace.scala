package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A timed region around one call into a layer. Times are nanoseconds on the
  * epoch clock (so they line up with task launch/finish times); `cpu*` is the
  * process CPU clock read at the boundaries.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    thread: String,
    start: Long,
    end: Long,
    cpuStart: Long,
    cpuEnd: Long)

/** Wall, process CPU and task-idle time a layer spent as the innermost open
  * span, all in nanoseconds.
  */
final case class LayerTime(wall: Long, cpu: Long, idle: Long)

object Spans {

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's own time: its duration minus the union of its children's. */
  def selfTime(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
    (span.end - span.start) - unionLength(kids)
  }

  /** Splits the timeline at every span boundary. In each segment the layers
    * of the innermost open spans share the segment: each of them is charged
    * the full segment as wall time (concurrent spans of one layer count once),
    * an equal share of the process CPU spent in it, and the part of it during
    * which no task ran anywhere.
    */
  def layerTimes(spans: Seq[Span], tasks: Seq[(Long, Long)]): Map[String, LayerTime] = {
    val cpuAt = mutable.Map[Long, Long]()
    spans.foreach { s => cpuAt.getOrElseUpdate(s.start, s.cpuStart); cpuAt.getOrElseUpdate(s.end, s.cpuEnd) }
    val cuts = cpuAt.keys.toSeq.sorted
    val acc = mutable.Map[String, (Long, Double, Long)]()
    val taskList = tasks.filter(t => t._2 > t._1).sortBy(_._1)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = spans.filter(s => s.start <= a && s.end >= b)
      val openIds = open.map(_.id).toSet
      val inner = open.filterNot(s => open.exists(c => c.parent == s.id && openIds(c.id)))
      val layers = inner.map(_.name).distinct
      if (layers.nonEmpty) {
        val busy = unionLength(taskList
          .filter(t => t._1 < b && t._2 > a)
          .map(t => (math.max(t._1, a), math.min(t._2, b))))
        val cpuShare = (cpuAt(b) - cpuAt(a)).toDouble / layers.size
        layers.foreach { l =>
          val (w, c, i) = acc.getOrElse(l, (0L, 0.0, 0L))
          acc(l) = (w + (b - a), c + cpuShare, i + (b - a - busy))
        }
      }
    }
    acc.map { case (l, (w, c, i)) => l -> LayerTime(w, math.round(c), i) }.toMap
  }
}

/** Process-wide clocks: epoch-aligned nanoseconds and process CPU time. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpu(): Long = os.getProcessCpuTime
}

/** Records spans in memory. The innermost open span id rides an inheritable
  * thread-local and the Spark local property [[Tracer.SpanProp]], so threads a
  * call starts inherit it and every job they submit carries it.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val current = new InheritableThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private[perfbench] def record(
      name: String, parent: Int, thread: String, start: Long, end: Long, cpuStart: Long, cpuEnd: Long): Unit =
    synchronized { spans += Span(newId(), name, parent, thread, start, end, cpuStart, cpuEnd) }

  def span[A](name: String)(body: => A): A = {
    val parent: Int = current.get
    val id = newId()
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val (s, c) = (Clock.now(), Clock.cpu())
    try body
    finally {
      val (e, ce) = (Clock.now(), Clock.cpu())
      synchronized { spans += Span(id, name, parent, Thread.currentThread.getName, s, e, c, ce) }
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  /** Runs `body` in a span named `name` whose layers are found by sampling:
    * a [[Sampler]] reads the stacks of this thread and of the engine's
    * worker threads every [[Tracer.SamplePeriodMs]] and records each run of
    * samples that one thread spent in one layer as a child span. Used around
    * engine calls whose inner layers the benchmark does not call itself.
    */
  def sampled[A](name: String)(body: => A): A = span(name) {
    val sampler = new Sampler(this, Thread.currentThread, current.get, Tracer.SamplePeriodMs)
    sampler.start()
    try body finally sampler.finish()
  }

  def result: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val SamplePeriodMs = 10L
}

/** Samples the stack of `root` and of every live thread whose name starts
  * with `graft` (the engine's concurrent sections run there) until
  * [[finish]]. A thread's layer is found by [[Attribution.layerOfStack]]. A
  * span opens at the first sample that finds a thread in a layer and closes
  * at the first that does not, so its boundaries are exact to one sampling
  * period.
  */
private final class Sampler(tracer: Tracer, root: Thread, parent: Int, periodMs: Long)
    extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  private var open = Map.empty[Thread, (String, Long, Long)]

  private def workers(): Seq[Thread] = {
    var g = root.getThreadGroup
    while (g != null && g.getParent != null) g = g.getParent
    if (g == null) Nil
    else {
      val all = new Array[Thread](g.activeCount * 2 + 16)
      all.take(g.enumerate(all, true)).filter(t => t != root && t.getName.startsWith("graft")).toSeq
    }
  }

  private def close(th: Thread, layer: String, s: Long, cs: Long, e: Long, ce: Long): Unit =
    tracer.record(layer, parent, th.getName, s, e, cs, ce)

  private def sample(): Unit = {
    val (t, c) = (Clock.now(), Clock.cpu())
    val seen = (root +: workers()).flatMap(th => Attribution.layerOfStack(th.getStackTrace).map(th -> _)).toMap
    open.foreach { case (th, (l, s, cs)) => if (!seen.get(th).contains(l)) close(th, l, s, cs, t, c) }
    open = seen.map { case (th, l) => th -> open.get(th).filter(_._1 == l).getOrElse((l, t, c)) }
  }

  override def run(): Unit =
    while (running) {
      sample()
      Thread.sleep(periodMs)
    }

  /** Stops sampling and closes every open span at the current time. */
  def finish(): Unit = {
    running = false
    join()
    val (t, c) = (Clock.now(), Clock.cpu())
    open.foreach { case (th, (l, s, cs)) => close(th, l, s, cs, t, c) }
    open = Map.empty
  }
}

/** Everything the listener saw of one job, with its tasks folded in. */
final class JobRec(val id: Int, val span: Option[Int], val callSite: String) {
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Listener for storage high-water marks (always) and per-job task metrics
  * (only while `tracing`).
  */
final class Recorder extends SparkListener {
  @volatile var tracing = false
  private val blocks = mutable.Map[String, Long]()
  private var total = 0L
  private var peakBytes = 0L
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val executionSite = mutable.Map[Long, String]()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      total += now - blocks.getOrElse(key, 0L)
      if (now > 0) blocks(key) = now else blocks.remove(key)
      peakBytes = math.max(peakBytes, total)
    }
  }

  /** Starts a new high-water mark from the current storage level. */
  def resetPeak(): Unit = synchronized { peakBytes = total }
  def peak: Long = synchronized(peakBytes)
  def stored: Long = synchronized(total)

  /** A SQL execution's call site is that of the thread that started the
    * query; its jobs may run from Spark's own threads (adaptive query stages,
    * broadcasts), whose call sites show no engine frame.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if tracing => synchronized { executionSite(x.executionId) = x.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val props = Option(e.properties).getOrElse(new Properties)
    val site = Option(props.getProperty("spark.sql.execution.id")).flatMap(id => executionSite.get(id.toLong))
      .orElse(Option(props.getProperty("callSite.long")))
      .orElse(e.stageInfos.headOption.map(_.details))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, Option(props.getProperty(Tracer.SpanProp)).map(_.toInt), site)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      j.intervals += ((e.taskInfo.launchTime * 1000000L, e.taskInfo.finishTime * 1000000L))
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs recorded since the last call, which forgets them. */
  def drainJobs(): Seq[JobRec] = synchronized {
    val out = jobs.values.toList
    jobs.clear()
    stageJob.clear()
    executionSite.clear()
    out
  }
}

/** Layer attribution of a job or a sampled stack: by the span id the
  * submitting thread carried or, when it carried none, by the engine frames
  * of its call site.
  */
object Attribution {

  /** The outermost frame naming a layer entry point decides the layer, so
    * engine code a layer calls (a lazy core report that `writeResults`
    * materializes) counts toward the calling layer.
    */
  private val Rules: Seq[(String, String)] = Seq(
    "ComparisonJob$.writeResults" -> "jobs.write",
    "$anonfun$writeResults" -> "jobs.write",
    "ComparisonJob$.consolidate" -> "jobs.consolidate",
    "$anonfun$consolidate" -> "jobs.consolidate",
    "IoUtils$.readDataframe" -> "sources.read",
    "graft.core." -> "core",
    "graft.config." -> "config",
    "pageRank" -> "operators.pagerank",
    "kCore" -> "operators.kcore",
    "bfsHops" -> "operators.bfs",
    "connectedComponents" -> "operators.cc")

  /** Frames of the engine's concurrency helper, which every layer uses. */
  private val Neutral = "graft.core.Par"

  /** The layer of the last frame (innermost first) that names one. */
  def layerOfFrames(frames: Iterator[String]): Option[String] =
    frames.map(_.trim).filterNot(_.contains(Neutral))
      .flatMap(f => Rules.find(r => f.contains(r._1)).map(_._2)).foldLeft(Option.empty[String])((_, l) => Some(l))

  def layerOfCallSite(site: String): Option[String] = layerOfFrames(site.linesIterator)

  def layerOfStack(stack: Array[StackTraceElement]): Option[String] =
    layerOfFrames(stack.iterator.map(f => s"${f.getClassName}.${f.getMethodName}"))

  /** The layer a job belongs to, given the spans of its unit. A carried span
    * id that names a layer span wins; otherwise the call site decides.
    */
  def layerOf(job: JobRec, spans: Map[Int, Span], layers: Set[String]): Option[String] =
    job.span.flatMap(spans.get).map(_.name).filter(layers).orElse(layerOfCallSite(job.callSite))
}
