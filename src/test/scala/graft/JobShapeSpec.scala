package graft

import java.io.File
import java.nio.file.Files

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.config.OutputConfig
import graft.jobs.ComparisonJob
import graft.operators.{Dedup, Graphs}
import graft.sources.IoUtils

/** Pins how many Spark jobs the compare path and the iterative graph loops
  * run, and the written order of the consolidated reports. Each job is
  * charged by the call site of the action that submitted it (`head at
  * Comparison.scala:…` is the engine, `save at IoUtils.scala:…` the report
  * writes).
  */
class JobShapeSpec extends SparkSpec {
  import spark.implicits._

  /** The call site of every job `body` submits, in submission order. A
    * job of a SQL query is charged to the call site of the query's root
    * execution: adaptive query stages submit their jobs from Spark's own
    * threads, whose own call sites name no engine file.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val execs = TrieMap.empty[Long, (Long, String)] // id -> (root id, call site)
    val jobs = ArrayBuffer.empty[Either[Long, String]] // execution id, or own call site
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(id => Left(id.toLong))
          .getOrElse(Right(e.stageInfos.map(_.name).lastOption.getOrElse("")))
      }
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.synchronized(jobs.toSeq).map {
      case Left(id) => execs.get(id).flatMap(r => execs.get(r._1)).map(_._2).getOrElse(s"execution $id")
      case Right(site) => site
    }
  }

  /** Engine layer of a job's call site. */
  private def layer(site: String): String =
    if (site.contains("Comparison.scala")) "core"
    else if (site.startsWith("save at IoUtils.scala")) "write"
    else if (site.startsWith("load at IoUtils.scala")) "read"
    else site

  private def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def datasetCfg(name: String, path: String): Map[String, Any] = Map(
    "params" -> Map("dataset_name" -> name, "primary_keys" -> Seq("id")),
    "source_config" -> Map("path" -> path),
    "target_config" -> Map("path" -> path))

  test("a clean runComparisonJob runs 4 engine jobs and 3 write jobs") {
    val tmp = Files.createTempDirectory("graft-jobs").toString
    Seq.tabulate(200)(i => (i.toLong, s"v$i", i * 0.5, Map("k" -> s"m$i")))
      .toDF("id", "s", "d", "m").write.parquet(s"$tmp/in")
    val cfg = Map[String, Any](
      "job_name" -> "clean",
      "dataset_configs" -> Seq(datasetCfg("t", s"$tmp/in")),
      "output_config" -> Map("output_dir" -> s"$tmp/out"))
    ComparisonJob.runComparisonJob(spark, cfg).unpersist() // warm-up: same plans, cold JIT
    var status = ""
    val byLayer = jobsOf {
      val r = ComparisonJob.runComparisonJob(spark, cfg)
      status = r.overallTestReport.head().getAs[String]("test_status")
      r.unpersist()
    }.groupBy(layer).view.mapValues(_.size).toMap
    assert(status == "PASSED")
    // engine: the one stats job over the per-key count frame, which also
    // fills it (an adaptive query of several stage jobs); writes: the three
    // reports, one job each — no range sort in front of any, and the
    // row-level report is a narrow projection of the filled cache
    assert(byLayer == Map("read" -> 2, "core" -> 4, "write" -> 3), byLayer)
  }

  test("consolidated reports are written in dataset-name order, FAILED rows included") {
    val tmp = Files.createTempDirectory("graft-order").toString
    Seq.tabulate(50)(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(s"$tmp/in")
    // config order c, a, b; b cannot be read and becomes a FAILED row
    def run(partitions: Int): Unit = ComparisonJob.runComparisonJob(spark, Map[String, Any](
      "job_name" -> s"order_$partitions",
      "continue_on_error" -> true,
      "dataset_configs" -> Seq(
        datasetCfg("c_ds", s"$tmp/in"),
        datasetCfg("a_ds", s"$tmp/in"),
        datasetCfg("b_ds", s"$tmp/missing")),
      "output_config" -> Map("output_dir" -> s"$tmp/out", "no_of_partitions" -> partitions)))
      .unpersist()
    for (partitions <- Seq(-1, 1)) {
      run(partitions)
      for ((report, expected) <- Seq(
          "overall_test_report" -> Seq("a_ds", "b_ds", "c_ds"),
          "row_lvl_test_report" -> Seq("a_ds", "c_ds"),
          "col_lvl_test_report" -> Seq("a_ds", "c_ds"))) {
        val files = partFiles(s"$tmp/out/order_$partitions/$report")
        if (partitions == 1) assert(files.size == 1, s"$report: ${files.map(_.getName)}")
        val names = files.flatMap(f =>
          spark.read.parquet(f.getPath).select("dataset_name").as[String].collect().toSeq)
        assert(names == names.sorted, s"$report (no_of_partitions $partitions): $names")
        assert(names.distinct == expected, s"$report (no_of_partitions $partitions): $names")
      }
    }
  }

  test("a no_of_partitions 1 write runs no job before its own and writes one file") {
    import org.apache.spark.sql.functions.{col, count}
    val tmp = Files.createTempDirectory("graft-write").toString
    def frame = Seq.tabulate(400)(i => (i % 37, i)).toDF("g", "v")
      .groupBy("g").agg(count(col("v")).as("n")).orderBy("g")
    val direct = jobsOf(frame.coalesce(1).write.parquet(s"$tmp/direct")).size
    val viaIo = jobsOf(IoUtils.writeResult(frame, s"$tmp/io", OutputConfig(s"$tmp/io", noOfPartitions = 1)))
    assert(viaIo.size == direct, s"writeResult ran ${viaIo.size} jobs, a plain write $direct: $viaIo")
    assert(viaIo.forall(layer(_) == "write"), viaIo)
    assert(partFiles(s"$tmp/io").size == 1)
    assert(spark.read.parquet(s"$tmp/io").count() == 37L)
  }

  /** The four iterative graph loops over one 200-edge cluster graph, each
    * with the action that consumes its result.
    */
  private lazy val graphLoops: Seq[(String, () => Unit)] = {
    val (edges, clusters) = GraphFixtures.clusterGraph(200, seed = 7L)
    val pairs = edges.toDF("a", "b")
    val seeds = clusters.indices.filter(_ % 3 == 0).map(clusters(_).head).toDF("s")
    Seq(
      ("pageRank", () => Graphs.pageRank(pairs, "a", "b", iters = 3).collect()),
      ("kCoreReleased", () => Graphs.kCoreReleased(pairs, "a", "b", k = 3).collect()),
      ("bfsHops", () => Graphs.bfsHops(pairs, "a", "b", seeds, "s", maxHops = 3).collect()),
      ("connectedComponents", () =>
        Dedup.connectedComponents(pairs, "a", "b", smallGraphEdges = 0L).collect()))
  }

  test("graph layouts are sized from the input: one partition at 200 edges, today's count past the advisory size or without statistics") {
    val (edges, _) = GraphFixtures.clusterGraph(200, seed = 7L)
    val pairs = edges.toDF("a", "b")
    assert(Graphs.layoutPartitions(pairs) == 1, "a 200-edge graph fits one partition")
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val estimate = pairs.queryExecution.optimizedPlan.stats.sizeInBytes * 2
    val s = spark.newSession()
    def withAdvisory(bytes: BigInt): Int = {
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", bytes.toString)
      Graphs.layoutPartitions(s.createDataFrame(edges).toDF("a", "b"))
    }
    assert(withAdvisory((estimate + 1) / 2) == 2, "twice the advisory size: two partitions")
    assert(withAdvisory(estimate / (shufflePartitions + 1)) == shufflePartitions,
      "past shuffle partitions × advisory size: the shuffle-partition count")
    // an RDD-backed frame has no size statistics: Spark's defaultSizeInBytes
    assert(Graphs.layoutPartitions(spark.createDataFrame(pairs.rdd, pairs.schema)) == shufflePartitions,
      "unknown statistics: the shuffle-partition count")
  }

  test("graph loops run a pinned number of Spark jobs") {
    // Each loop reads its per-round counter from an observed metric on the
    // checkpoint job that materializes the round, PageRank's base rank is a
    // literal, and CC contracts each partition before its rounds: a scalar
    // probe added back per round, or a per-iteration aggregate, breaks the
    // ceiling. Counts include the action that consumes the result.
    val jobs = graphLoops.map { case (op, run) => op -> jobsOf(run()) }.toMap
    info(s"jobs per loop: ${jobs.view.mapValues(_.size).toMap}")
    // 28, 26, 29 and 37 jobs before the observed counters, the literal
    // base rank, the one-pass adjacency and the contraction; 16, 15, 20
    // and 18 before the input-sized layouts (one partition here, where
    // CC's contraction solves the graph before its first round) and
    // PageRank's rank aggregate taking the place of its node join
    val ceilings = Map("pageRank" -> 13, "kCoreReleased" -> 15, "bfsHops" -> 20,
      "connectedComponents" -> 11)
    val over = ceilings.filter { case (op, ceiling) => jobs(op).size > ceiling }
    assert(over.isEmpty, over.keys.map(op => s"$op ran ${jobs(op).size} jobs " +
      s"(ceiling ${ceilings(op)}): ${jobs(op).mkString(", ")}").mkString("\n"))
  }

  test("a second pass of the graph loops recompiles little generated code") {
    // GraftSession sizes Spark's generated-code cache to the engine's
    // working set. At Spark's default of 100 entries the four loops
    // generate more classes than the cache holds, so every pass evicts and
    // recompiles them all. What the second pass still compiles comes from
    // the cache fills, whose cloned sessions each bring their own class
    // loader (the cache is keyed by loader and source). The first pass is
    // warm too when an earlier test ran the loops, so only the second is
    // bounded.
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Seq[(String, Long)] = graphLoops.map { case (op, run) =>
      val c0 = compiles()
      run()
      op -> (compiles() - c0)
    }
    val first = pass()
    val second = pass()
    info(s"compiles per loop, first pass $first, second pass $second")
    // measured 12-20 (kCore's 8 fall in either pass); 139 at 100 entries
    assert(second.map(_._2).sum <= 40,
      s"the second pass compiled ${second.map(_._2).sum} classes, the first ${first.map(_._2).sum}")
  }
}
