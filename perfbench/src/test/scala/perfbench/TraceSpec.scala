package perfbench

import java.util.Properties

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, start: Long, end: Long, cpu0: Long = 0, cpu1: Long = 0) =
    Span(id, name, parent, "t", start, end, cpu0, cpu1)

  test("union length merges overlapping and touching intervals") {
    assert(Spans.unionLength(Nil) == 0)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Spans.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30)
    assert(Spans.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Spans.unionLength(Seq((5L, 5L))) == 0)
  }

  test("self time subtracts the union of a span's children") {
    val unit = span(1, "unit", -1, 0, 100)
    val a = span(2, "core", 1, 10, 40)
    val b = span(3, "core", 1, 30, 70) // concurrent with a
    val c = span(4, "jobs.write", 3, 50, 60)
    val all = Seq(unit, a, b, c)
    assert(Spans.selfTime(unit, all) == 40)
    assert(Spans.selfTime(a, all) == 30)
    assert(Spans.selfTime(b, all) == 30)
    assert(Spans.selfTime(c, all) == 10)
  }

  test("layer times charge wall once per layer, split CPU, and count task-free time as idle") {
    // unit [0,100); config [0,10); two concurrent core spans [10,50) and
    // [30,70); a write nested in the second core span [55,65).
    val spans = Seq(
      span(1, "unit", -1, 0, 100, 0, 1000),
      span(2, "config", 1, 0, 10, 0, 100),
      span(3, "core", 1, 10, 50, 100, 500),
      span(4, "core", 1, 30, 70, 300, 700),
      span(6, "jobs.write", 4, 55, 65, 550, 650))
    val tasks = Seq((20L, 40L), (60L, 62L))
    val t = Spans.layerTimes(spans, tasks)
    assert(t("config") == LayerTime(wall = 10, cpu = 100, idle = 10))
    // core is innermost on [10,55) and [65,70): 50 wall; tasks cover 20 of it
    assert(t("core").wall == 50)
    assert(t("core").idle == 30)
    assert(t("core").cpu == (550 - 100) + (700 - 650))
    assert(t("jobs.write") == LayerTime(wall = 10, cpu = 100, idle = 8))
    assert(t("unit") == LayerTime(wall = 30, cpu = 300, idle = 30))
  }

  test("segments shared by two layers split their CPU evenly") {
    val spans = Seq(
      span(1, "unit", -1, 0, 10, 0, 100),
      span(2, "core", 1, 0, 10, 0, 100),
      span(3, "sources.read", 1, 0, 10, 0, 100))
    val t = Spans.layerTimes(spans, Nil)
    assert(t("core") == LayerTime(10, 50, 10))
    assert(t("sources.read") == LayerTime(10, 50, 10))
    assert(!t.contains("unit"))
  }

  private val writeSite =
    """org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:250)
      |graft.sources.IoUtils$.writeResult(IoUtils.scala:38)
      |graft.jobs.ComparisonJob$.$anonfun$writeResults$2(ComparisonJob.scala:62)
      |graft.core.Par$$anon$1.call(Par.scala:44)""".stripMargin
  private val readSite =
    """org.apache.spark.sql.DataFrameReader.load(DataFrameReader.scala:180)
      |graft.sources.IoUtils$.readDataframe(IoUtils.scala:22)
      |graft.jobs.ComparisonJob$.$anonfun$runComparisonJob$2(ComparisonJob.scala:150)""".stripMargin
  private val coreSite =
    """org.apache.spark.sql.Dataset.count(Dataset.scala:1500)
      |graft.core.Comparison$.$anonfun$buildComparison$3(Comparison.scala:549)
      |graft.core.Par$$anon$1.call(Par.scala:44)""".stripMargin

  private val lazyReportSite =
    """org.apache.spark.sql.Dataset.persist(Dataset.scala:3800)
      |graft.core.ComparisonResult.rowLvlTestReport(Comparison.scala:40)
      |graft.jobs.ComparisonJob$.$anonfun$writeResults$1(ComparisonJob.scala:64)
      |graft.core.Par$$anon$1.call(Par.scala:44)""".stripMargin
  private val stageThreadSite =
    """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
      |java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)""".stripMargin

  test("call sites name the layer of the outermost engine frame that enters one") {
    assert(Attribution.layerOfCallSite(lazyReportSite).contains("jobs.write"))
    assert(Attribution.layerOfCallSite(writeSite).contains("jobs.write"))
    assert(Attribution.layerOfCallSite(readSite).contains("sources.read"))
    assert(Attribution.layerOfCallSite(coreSite).contains("core"))
    assert(Attribution.layerOfCallSite("graft.operators.Graphs$.bfsHops(Graphs.scala:380)")
      .contains("operators.bfs"))
    assert(Attribution.layerOfCallSite("perfbench.Main$.main(Main.scala:1)").isEmpty)
  }

  private def jobStart(id: Int, props: (String, String)*): SparkListenerJobStart = {
    val p = new Properties
    props.foreach { case (k, v) => p.setProperty(k, v) }
    SparkListenerJobStart(id, 1000L, Nil, p)
  }

  test("the listener attributes jobs to the span they carry, else by call site") {
    val spans = Seq(span(1, "unit", -1, 0, 100), span(2, "core", 1, 0, 50), span(3, "jobs.write", 1, 50, 90))
      .map(s => s.id -> s).toMap
    val layers = Main.Layers.toSet
    val r = new Recorder
    r.tracing = true
    r.onJobStart(jobStart(10, Tracer.SpanProp -> "2", "callSite.long" -> writeSite))
    r.onJobStart(jobStart(11, Tracer.SpanProp -> "1", "callSite.long" -> writeSite))
    r.onJobStart(jobStart(12, "callSite.long" -> readSite))
    r.onJobStart(jobStart(13, Tracer.SpanProp -> "1"))
    val jobs = r.drainJobs()
    assert(jobs.map(_.id) == Seq(10, 11, 12, 13))
    assert(jobs.map(Attribution.layerOf(_, spans, layers)) ==
      Seq(Some("core"), Some("jobs.write"), Some("sources.read"), None))
    assert(r.drainJobs().isEmpty)
  }

  test("a job submitted from a query-stage thread takes its SQL execution's call site") {
    val r = new Recorder
    r.tracing = true
    r.onOtherEvent(SparkListenerSQLExecutionStart(7L, Some(7L), "count", coreSite, "", null, 0L))
    r.onJobStart(jobStart(20, "spark.sql.execution.id" -> "7", "callSite.long" -> stageThreadSite))
    r.onJobStart(jobStart(21, "spark.sql.execution.id" -> "8", "callSite.long" -> stageThreadSite))
    val jobs = r.drainJobs()
    assert(jobs.map(Attribution.layerOf(_, Map.empty, Main.Layers.toSet)) == Seq(Some("core"), None))
  }

  private def frame(cls: String, method: String) = new StackTraceElement(cls, method, "F.scala", 1)

  test("a sampled stack belongs to the outermost layer entry on it; the concurrency helper to none") {
    // innermost first, as Thread.getStackTrace returns it
    val inWrite = Array(
      frame("org.apache.spark.sql.classic.Dataset", "collect"),
      frame("graft.core.Comparison$", "$anonfun$rowReport$1"),
      frame("graft.jobs.ComparisonJob$", "writeResults"),
      frame("graft.jobs.ComparisonJob$", "runComparisonJob"),
      frame("perfbench.Main$", "main"))
    assert(Attribution.layerOfStack(inWrite).contains("jobs.write"))
    val inCompare = Array(
      frame("graft.core.Comparison$", "compareDataFrames"),
      frame("graft.jobs.ComparisonJob$", "$anonfun$runComparisonJob$1"),
      frame("graft.core.Par$", "attemptAll"),
      frame("graft.jobs.ComparisonJob$", "runComparisonJob"))
    assert(Attribution.layerOfStack(inCompare).contains("core"))
    val waiting = Array(
      frame("java.util.concurrent.FutureTask", "get"),
      frame("graft.core.Par$", "attemptAll"),
      frame("graft.jobs.ComparisonJob$", "runComparisonJob"))
    assert(Attribution.layerOfStack(waiting).isEmpty)
    val reading = Array(
      frame("graft.sources.IoUtils$", "readDataframe"),
      frame("graft.jobs.ComparisonJob$", "$anonfun$runComparisonJob$1"))
    assert(Attribution.layerOfStack(reading).contains("sources.read"))
  }

  test("steal share is the steal column's share of all ticks between two readings") {
    val a = Seq(100L, 0, 10, 50, 0, 0, 0, 5, 0, 0)
    val b = Seq(160L, 0, 20, 70, 0, 0, 0, 15, 0, 0)
    assert(Main.stealShare(a, b) == 0.1)
    assert(Main.stealShare(Nil, Nil) == -1.0)
  }

  test("an untraced listener records no jobs") {
    val r = new Recorder
    r.onJobStart(jobStart(1, Tracer.SpanProp -> "2"))
    assert(r.drainJobs().isEmpty)
  }
}
