package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <clean_wide|drift_wide|many_small|graph_iter>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up starts the session, writes the seeded inputs and runs the
  * workload's untimed warm-up units ([[WarmUnits]]), which take the cold
  * JVM's class loading and most of its compilation. The measured phase then
  * runs units until `--seconds` have passed and at least [[MinUnits]] were
  * measured. Every unit's output is checked; a unit that throws or fails its
  * check counts as failed and is never timed. With `--trace 1` units come in
  * pairs, one traced and one untraced, and the per-layer metrics come from
  * the traced ones.
  */
object Main {

  /** Spark task threads, fixed so that every host runs the same plan. Two
    * leave the other vCPUs of a 4-vCPU host to Spark's driver thread and the
    * JIT compiler threads, which together keep more than a core busy in a
    * warm unit.
    */
  val TaskThreads = 2
  val WideRows = 50000L
  val GraphEdges = 2000L
  val MinUnits = 3
  /** Warm-up units per workload. The JIT keeps compiling for minutes, and
    * in some JVMs the second to sixth `clean_wide` units ran 30-50% slower
    * than in others; five cheap warm-up units skip them. A `graph_iter` unit
    * costs ~9 s, so it gets one, and the median of its three measured units
    * leaves out the first, still slower, one. The counts are as many as fit
    * the benchmark's time budget.
    */
  val WarmUnits: Map[String, Int] =
    Map("clean_wide" -> 5, "drift_wide" -> 2, "many_small" -> 2, "graph_iter" -> 1)
  val Layers: Seq[String] = Seq(
    "config", "sources.read", "core", "jobs.consolidate", "jobs.write",
    "operators.pagerank", "operators.kcore", "operators.bfs", "operators.cc")
  val LayerMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_cpu_s" -> "s", "nontask_cpu_s" -> "s", "idle_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "failed_tasks" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "input_rows" -> "count")
  val ExtraLayerMetrics: Seq[(String, String)] = Seq(
    "core.scan_passes" -> "ratio", "core.cache_peak_mb" -> "MB",
    "jobs.write.files" -> "count", "jobs.write.output_mb" -> "MB",
    "unattributed.jobs" -> "count", "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      new File(m.getOrElse("work", "work")))
  }

  def workload(name: String, seed: Long, work: File): Workload = name match {
    case "clean_wide" => new CompareWorkload(Seq(Gen.cleanWide(WideRows)), seed, work, -1, false)
    case "drift_wide" => new CompareWorkload(Seq(Gen.driftWide(WideRows)), seed, work, -1, false)
    case "many_small" => new CompareWorkload(Gen.manySmall(1.0), seed, work, 1, true)
    case "graph_iter" => new GraphWorkload(new GraphGen(GraphEdges, seed), work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One unit's outcome. `layers` holds the per-layer metrics of a traced unit. */
  final case class UnitRec(
      traced: Boolean, wallS: Double, cpuS: Double, peakMb: Double, errors: Seq[String],
      layers: Map[String, Double], spans: Seq[Span], jobs: Seq[(JobRec, Option[String])]) {
    def ok: Boolean = errors.isEmpty
  }

  /** The kernel's CPU tick counters (`cpu` line of /proc/stat), if readable. */
  def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq finally src.close()
    } catch { case NonFatal(_) => Nil }

  /** Share of CPU time the hypervisor took from this machine between two
    * [[cpuTicks]] readings (the `steal` column), or -1 when unknown. Steal
    * slows every unit alike, so it tells a noisy run from a slow one.
    */
  def stealShare(a: Seq[Long], b: Seq[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.size < 8 || d.sum <= 0) -1.0 else d(7).toDouble / d.sum
  }

  def hostHealth(): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load_avg_1m" -> os.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val work = new File(args.work, args.workload)
    Workloads.deleteRecursively(work)
    work.mkdirs()
    val healthBefore = hostHealth()
    val ticksBefore = cpuTicks()
    val wl = workload(args.workload, args.seed, work)

    val spark = graft.GraftSession.builder(s"local[$TaskThreads]", 8)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sc = spark.sparkContext
    val recorder = new Recorder
    sc.addSparkListener(recorder)
    spark.range(1).count()
    // From JVM start, so that it includes the heap pre-touch.
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    def releaseStorage(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      PerfbenchBus.drain(sc)
    }

    def runUnit(traced: Boolean): UnitRec = {
      releaseStorage()
      wl.prepare()
      recorder.drainJobs()
      recorder.tracing = traced
      val tracer = if (traced) Some(new Tracer(sc)) else None
      val base = recorder.stored
      recorder.resetPeak()
      val (w0, c0) = (System.nanoTime(), Clock.cpu())
      val outcome = try Right(wl.unit(spark, tracer)) catch { case NonFatal(e) => Left(e) }
      val (w1, c1) = (System.nanoTime(), Clock.cpu())
      PerfbenchBus.drain(sc)
      recorder.tracing = false
      val peakMb = (recorder.peak - base) / 1048576.0
      val errors = outcome match {
        case Left(e) => Seq(s"unit threw: $e")
        case Right(check) => try check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
      }
      val spans = tracer.map(_.result).getOrElse(Nil)
      val jobs = recorder.drainJobs()
      val byId = spans.map(s => s.id -> s).toMap
      val attributed = jobs.map(j => j -> Attribution.layerOf(j, byId, Layers.toSet))
      val layers =
        if (traced && errors.isEmpty) layerMetrics(spans, attributed, wl, peakMb) else Map.empty[String, Double]
      errors.foreach(e => log(s"${args.workload} seed ${args.seed}: $e"))
      log(f"unit traced=$traced wall ${(w1 - w0) / 1e9}%.3f s cpu ${(c1 - c0) / 1e9}%.3f s peak $peakMb%.1f MB ok=${errors.isEmpty}")
      UnitRec(traced, (w1 - w0) / 1e9, (c1 - c0) / 1e9, peakMb, errors, layers, spans, attributed)
    }

    val result = try {
      val g0 = System.nanoTime()
      wl.generate(spark)
      val genS = (System.nanoTime() - g0) / 1e9
      log(f"generated in $genS%.2f s")
      val w0 = System.nanoTime()
      val warm = (1 to WarmUnits(args.workload)).map(_ => runUnit(traced = false))
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + genS + warmS

      val m0 = System.nanoTime()
      val units = Seq.newBuilder[UnitRec]
      var n = 0
      while (n < MinUnits || System.nanoTime() - m0 < args.seconds * 1000000000L) {
        // Traced runs measure pairs, the traced unit first in every other
        // pair, so that the units' warm-up drift cancels in trace.overhead_s.
        val order = if (!args.trace) Seq(false) else if (n % 4 == 0) Seq(true, false) else Seq(false, true)
        order.foreach(t => units += runUnit(traced = t))
        n += order.size
      }
      val measured = units.result()
      val all = warm ++ measured
      val good = measured.filter(_.ok)
      val plain = good.filterNot(_.traced)
      val traced = good.filter(_.traced)
      val jobS = median(plain.map(_.wallS))

      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) Seq(
          ("job_s", jobS, "s"),
          ("rows_per_s", wl.inputRows / jobS, "rows/s"),
          ("cpu_s", median(plain.map(_.cpuS)), "s"),
          ("cache_peak_mb", median(plain.map(_.peakMb)), "MB"),
          ("setup_s", setupS, "s"))
        else {
          // Every per-layer metric is printed. A layer the workload never
          // enters (operators.* on a compare, the compare layers on
          // graph_iter) reads 0: no span, no job. trace.overhead_s compares
          // as many traced units as untraced ones; it carries unit-to-unit
          // noise as well as the cost of tracing, and can come out negative.
          val names = for (l <- Layers; (m, u) <- LayerMetrics) yield (s"$l.$m", u)
          (names ++ ExtraLayerMetrics).map { case (name, unit) =>
            val v =
              if (name == "trace.overhead_s") median(traced.map(_.wallS)) - jobS
              else median(traced.map(_.layers.getOrElse(name, 0.0)))
            (name, v, unit)
          }
        }
      val failed = all.count(!_.ok)
      val measurable = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
      val line = ListMap(
        "correct" -> (failed == 0 && measurable),
        "attempted" -> all.size,
        "failed" -> failed,
        "metrics" -> (if (measurable) ListMap(metrics.map { case (n, v, u) =>
          n -> ListMap("value" -> v, "unit" -> u) }: _*) else ListMap.empty))

      val lastTraced = traced.lastOption
      val artifact = ListMap(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "input_rows" -> wl.inputRows,
        "host_before" -> healthBefore, "host_after" -> hostHealth(),
        "cpu_steal_share" -> stealShare(ticksBefore, cpuTicks()),
        "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
          "warmup_units" -> warm.map(_.wallS)),
        "units" -> all.map(u => ListMap("traced" -> u.traced, "wall_s" -> u.wallS, "cpu_s" -> u.cpuS,
          "cache_peak_mb" -> u.peakMb, "errors" -> u.errors)),
        "spans" -> lastTraced.toSeq.flatMap(u => u.spans.sortBy(_.start).map(s => ListMap(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
          "start_ms" -> (s.start - u.spans.map(_.start).min) / 1e6,
          "end_ms" -> (s.end - u.spans.map(_.start).min) / 1e6,
          "self_ms" -> Spans.selfTime(s, u.spans) / 1e6))),
        "jobs" -> lastTraced.toSeq.flatMap(_.jobs.map { case (j, l) => ListMap(
          "id" -> j.id, "layer" -> l.getOrElse("unattributed"), "span" -> j.span.getOrElse(-1),
          "call_site" -> j.callSite.linesIterator.take(3).toList, "tasks" -> j.tasks,
          "task_cpu_s" -> j.cpuNs / 1e9) }),
        "result" -> line)
      val artDir = new File(args.work, "artifacts")
      artDir.mkdirs()
      Files.write(new File(artDir, s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json").toPath,
        Workloads.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(artifact)
          .getBytes(StandardCharsets.UTF_8))
      line
    } finally {
      spark.stop()
      Workloads.deleteRecursively(new File(work, "inputs"))
      Workloads.deleteRecursively(new File(work, "out"))
      Workloads.deleteRecursively(new File(work, "spark-local"))
    }
    println(Workloads.mapper.writeValueAsString(result))
  }

  /** Per-layer metrics of one traced unit. */
  def layerMetrics(
      spans: Seq[Span],
      jobs: Seq[(JobRec, Option[String])],
      wl: Workload,
      peakMb: Double): Map[String, Double] = {
    val times = Spans.layerTimes(spans, jobs.flatMap(_._1.intervals.toSeq))
    val byLayer = jobs.groupBy(_._2).map { case (l, js) => l -> js.map(_._1) }
    val perLayer = Layers.flatMap { l =>
      val js = byLayer.getOrElse(Some(l), Nil)
      val t = times.getOrElse(l, LayerTime(0, 0, 0))
      val taskCpu = js.map(_.cpuNs).sum / 1e9
      Seq(
        "wall_s" -> t.wall / 1e9, "task_cpu_s" -> taskCpu, "nontask_cpu_s" -> (t.cpu / 1e9 - taskCpu),
        "idle_s" -> t.idle / 1e9, "jobs" -> js.size.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble,
        "failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
        "shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1048576.0,
        "spill_mb" -> js.map(_.spill).sum / 1048576.0,
        "input_rows" -> js.map(_.recordsRead).sum.toDouble).map { case (m, v) => s"$l.$m" -> v }
    }.toMap
    val compare = wl match {
      case c: CompareWorkload =>
        val (files, bytes) = c.outputFiles
        Map("core.scan_passes" -> perLayer("core.input_rows") / c.inputRows,
          "core.cache_peak_mb" -> peakMb,
          "jobs.write.files" -> files.toDouble, "jobs.write.output_mb" -> bytes / 1048576.0)
      case _ => Map.empty[String, Double]
    }
    perLayer ++ compare + ("unattributed.jobs" -> byLayer.getOrElse(None, Nil).size.toDouble)
  }
}
