package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming STATE benchmark: per-micro-batch state-store rows/bytes and
  * trigger latency for the stateful operators, from
  * `StreamingQueryProgress` — the 100 TB question for a stream is state
  * GROWTH against batch count, not wall time, and the correctness rows
  * can't show it (they replay to termination and hash the sink).
  *
  * Two readouts per stateful operator:
  *   - an UNBOUNDED-lateness run (the correctness fixtures' shape): state
  *     rows must grow monotonically with input — the "never evicts"
  *     baseline;
  *   - a BOUNDED-lateness run (production shape): the watermark must hold
  *     state at a plateau once it starts advancing past old rows.
  *
  * Plus a PROVIDER COMPARISON: the same keyspace-proportional operators
  * (unbounded dedup = one state row per distinct event_id; keyed running
  * stats via mapGroupsWithState = the CDC-upsert keyed-state shape) run at
  * 1× and 10× keyspace under BOTH state-store providers — the default
  * HDFSBackedStateStoreProvider (every loaded version map on executor
  * heap) and RocksDBStateStoreProvider (the engine's configured provider:
  * disk-backed, changelog-checkpointed). Each (provider, scenario, mult)
  * runs in its OWN CHILD JVM — peak-heap is a JVM-global reading, so two
  * providers sharing a JVM would charge the first provider's retained maps
  * to the second — and reports provider state rows/bytes AND JVM heap
  * (peak during the run + used after a post-run GC). The claim under test:
  * HDFS heap grows ~linearly with keyspace; RocksDB heap stays ~flat.
  *
  * The committed artifact (`BENCH_streaming.json`) records, per batch:
  * input rows, trigger wall, total state rows, state bytes — so a state
  * leak (eviction regression) shows as a diff in a committed JSON, the
  * same discipline as the scale ladder.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… StreamBench [outPath]`.
  * (Internal child form: `StreamBench --one <provider> <scenario> <mult>`.)
  */
object StreamBench {

  private final case class BatchRow(
      batchId: Long, inputRows: Long, triggerMs: Long,
      stateRows: Long, stateBytes: Long)

  private def progressRows(q: StreamingQuery): Seq[BatchRow] =
    q.recentProgress.toSeq.map { p =>
      val ops = p.stateOperators
      BatchRow(
        p.batchId,
        p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(-1L),
        ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum)
    }.sortBy(_.batchId)

  private def json(rows: Seq[BatchRow]): String =
    rows.map(r => s"""{"batch":${r.batchId},"input_rows":${r.inputRows},""" +
        s""""trigger_ms":${r.triggerMs},"state_rows":${r.stateRows},""" +
        s""""state_bytes":${r.stateBytes}}""")
      .mkString("[", ",", "]")

  private def buildSession(provider: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // state stores instantiate per shuffle partition per batch — size the
    // sharding to the fixture exactly like the catalog's streaming rows
    val b = graft.GraftSession.builder(s"local[$cpus]", 8)
    val c = provider match {
      case "rocksdb" => b.config(graft.catalog.EventQueries.streamingStateConfs.toMap)
      case _ => b // "hdfs": Spark's default HDFSBackedStateStoreProvider
    }
    val spark = c.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The events fixture, keyspace-multiplied `mult`× (distinct synthetic
    * event_id/user_id per copy — state ROWS scale with mult, the point),
    * written as 8 ts-range files = 8 micro-batches.
    */
  private def writeSource(spark: SparkSession, sfDir: String, work: String, mult: Int): Unit = {
    val ev = graft.sources.Events.load(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val multiplied =
      if (mult <= 1) ev
      else ev
        .withColumn("__i", explode(array((0 until mult).map(i => lit(i.toLong)): _*)))
        .select(
          (col("event_id") + col("__i") * lit(1000000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + col("__i") * lit(1000000000000L)).as("user_id"),
          col("event_type"), col("value"))
    multiplied
      .repartitionByRange(8, col("ts"))
      .write.mode("overwrite").parquet(s"$work/src")
  }

  private def runScenario(
      work: String, name: String, df: DataFrame,
      outputMode: String = "append"): Seq[BatchRow] = {
    val ckpt = s"$work/ckpt-${name.replace('/', '_')}"
    // append mode throughout (update only where the operator demands it):
    // complete mode would legitimately keep every window forever and mask
    // the eviction behavior this tool measures
    val q = df.writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .outputMode(outputMode)
      .start()
    q.awaitTermination()
    val rows = progressRows(q)
    System.err.println(f"[streambench] $name%-24s batches=${rows.size} " +
      f"final_state_rows=${rows.lastOption.map(_.stateRows).getOrElse(0L)} " +
      f"final_state_MB=${rows.lastOption.map(_.stateBytes / 1e6).getOrElse(0.0)}%.1f")
    rows
  }

  private def heapPeak(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
  }

  private def heapUsedAfterGc(): Long = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300)
    val u = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    u.getUsed
  }

  /** Child-JVM entry: ONE (provider, scenario, mult) run, one JSON line. */
  private def runOne(provider: String, scenario: String, mult: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = buildSession(provider)
    val work = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    writeSource(spark, sfDir, work, mult)
    val schema = spark.read.parquet(s"$work/src").schema
    def stream: DataFrame = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$work/src")
    import graft.streaming.StreamingOps
    val (df, mode) = scenario match {
      // one state row per distinct event_id, never evicted (lateness
      // exceeds the fixture span) — pure keyspace-proportional state
      case "dedup_unbounded" => (StreamingOps.dedupEvents(stream, "90 days"), "append")
      // mapGroupsWithState keyed running stats: the CDC-upsert keyed-state
      // shape — one accumulator per user_id, NoTimeout, updated per batch
      // (the operator requires Update output mode)
      case "keyed_running_state" =>
        (StreamingOps.userRunningStats(spark, stream).toDF(), "update")
      case other => sys.error(s"unknown scenario: $other")
    }
    val rows = runScenario(work, s"$provider/$scenario/x$mult", df, mode)
    // heap AFTER the run, post-GC: the HDFS provider retains every loaded
    // version map in executor memory (exactly what a long-running job
    // carries); RocksDB keeps state off-heap/on-disk. Peak catches the
    // in-flight high-water mark either way.
    val after = heapUsedAfterGc()
    val peak = heapPeak()
    // trigger latency percentiles: at 100× keyspace the state far exceeds
    // the RocksDB block cache, and the question shifts from heap to
    // whether trigger time degrades once every lookup may miss to disk
    val triggers = rows.map(_.triggerMs).sorted
    def pct(p: Double): Long =
      if (triggers.isEmpty) -1L
      else triggers(math.min(triggers.size - 1, (p * triggers.size).toInt))
    println(s"""{"provider":${Jsons.str(provider)},"scenario":${Jsons.str(scenario)},""" +
      s""""mult":$mult,"final_state_rows":${rows.lastOption.map(_.stateRows).getOrElse(0L)},""" +
      s""""final_state_bytes":${rows.lastOption.map(_.stateBytes).getOrElse(0L)},""" +
      s""""sum_trigger_ms":${rows.map(_.triggerMs).sum},""" +
      s""""trigger_ms_p50":${pct(0.5)},"trigger_ms_p95":${pct(0.95)},""" +
      s""""trigger_ms_max":${triggers.lastOption.getOrElse(-1L)},""" +
      s""""jvm_heap_peak_bytes":$peak,"jvm_heap_after_gc_bytes":$after}""")
    spark.stop()
  }

  /** Fork this JVM on `--one provider scenario mult`, return its JSON line. */
  private def runChild(provider: String, scenario: String, mult: Int): Option[String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-Xmx") || a.startsWith("-Xms") || a.startsWith("-XX:"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.StreamBench", "--one", provider, scenario, mult.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    if (rc != 0) { System.err.println(s"[streambench] child rc=$rc"); None }
    else out.linesIterator.find(_.startsWith("""{"provider""""))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--one")) {
      runOne(args(1), args(2), args(3).toInt)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("BENCH_streaming.json")
    // eviction scenarios run under the engine's configured provider
    // (RocksDB) — what production state behavior looks like
    val spark = buildSession("rocksdb")

    // the events fixture replayed file-per-micro-batch in ts order — 8
    // range files = 8 micro-batches, enough to see growth vs plateau
    val work = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    writeSource(spark, sfDir, work, 1)
    val schema = spark.read.parquet(s"$work/src").schema

    def stream: DataFrame = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$work/src")

    def run(name: String, df: DataFrame): (String, Seq[BatchRow]) =
      name -> runScenario(work, name, df)

    import graft.streaming.StreamingOps
    val scenarios = Seq(
      // dedup: keyed state = distinct event_ids seen. Unbounded lateness
      // never evicts (rows == total distinct keys so far); a 1-hour
      // watermark must evict keys older than the horizon as it advances.
      run("dedup_unbounded", StreamingOps.dedupEvents(stream, "90 days")),
      run("dedup_1h_watermark", StreamingOps.dedupEvents(stream, "1 hour")),
      // symmetric interval join: both sides buffer within the lateness
      // horizon; the bounded run's state must plateau, not grow linearly.
      run("join_unbounded", StreamingOps.viewsBeforePurchase(stream, "4 hours", "90 days")),
      run("join_1h_watermark", StreamingOps.viewsBeforePurchase(stream, "4 hours", "1 hour")),
      // windowed aggregation: state = open windows; 1-hour windows with a
      // bounded watermark close behind the stream.
      run("windowed_unbounded", StreamingOps.windowedStats(stream, "1 hour", "90 days")),
      run("windowed_1h_watermark", StreamingOps.windowedStats(stream, "1 hour", "1 hour")),
      // custom flatMapGroupsWithState sessionization: per-user open-session
      // state with an event-time timeout — the one stateful operator whose
      // eviction is the OPERATOR's own timeout logic, not a built-in
      // watermark rule, so its growth-vs-plateau behavior needs its own row
      run("sessionize_30m_gap",
        StreamingOps.sessionizeEvents(spark, stream,
          gapUs = 1800000000L, lateness = "1 hour").toDF()))
    spark.stop()

    // provider comparison, one child JVM per cell: {hdfs, rocksdb} ×
    // {keyspace-proportional scenarios} × {1×, 10×, 100× keyspace}. The
    // 100× decade (10M state rows) is where RocksDB state far exceeds its
    // block cache — the stream analog of the scale ladder's top rung. A
    // cell whose child dies (e.g. the HDFS provider OOMing on 10M heap-
    // resident state rows) is recorded as failed, not dropped: that
    // outcome IS the finding.
    val cellSpecs = for {
      provider <- Seq("hdfs", "rocksdb")
      scenario <- Seq("dedup_unbounded", "keyed_running_state")
      mult <- Seq(1, 10, 100)
    } yield (provider, scenario, mult)
    val cells = cellSpecs.map { case (p, s, m) =>
      runChild(p, s, m).getOrElse(
        s"""{"provider":${Jsons.str(p)},"scenario":${Jsons.str(s)},"mult":$m,"failed":true}""")
    }
    val comparison = cells.mkString("[", ",", "]")

    val body = scenarios.map { case (n, rows) => s"${Jsons.str(n)}:${json(rows)}" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"stream_state","unit":"rows/bytes/ms","sf":${Jsons.str(sfDir)},""" +
      s""""provider":"rocksdb","scenarios":$body,""" +
      s""""provider_comparison":$comparison}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    println(line)
  }
}
