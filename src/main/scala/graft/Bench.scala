package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology: AQE on, shuffle partitions sized to the core count, then an
  * UNTIMED pass of the full catalog at the smallest scale factor — measured
  * runs otherwise charge Spark's JIT/codegen warm-up (~100 s spread over
  * whichever queries happen to run first; observed 3-20× inflation of early
  * queries). Each query is then measured once at the target scale factor,
  * fully materialized via `queryExecution.toRdd.count()` (a bare `count()`
  * would let Catalyst prune away the measured computation). Queries run in
  * sorted name order for run-to-run comparability.
  */
object Bench {
  /** Fault in most of the pinned heap before anything is measured. This
    * host's page-fault path is pathologically slow (~10 CPU-min/GiB), so
    * first-touch faults landing inside a measured query inflate it 3-20x.
    * Done here (not via -XX:+AlwaysPreTouch in build.sbt) so only Bench
    * pays the cost — Verify must start fast for the driver's timeout.
    */
  private[graft] def preTouchHeap(): Unit = {
    // 95% coverage: a measured run with 60% coverage still lost 10x on the
    // first query whose working set grew into the untouched tail, so leave
    // only the GC's own headroom untouched.
    val budget = (Runtime.getRuntime.maxMemory() * 0.95).toLong
    val chunk = 64 << 20
    val n = (budget / chunk).toInt
    if (n <= 0) return
    val t0 = System.nanoTime()
    val hold = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
    val threads = (0 until math.min(32, Runtime.getRuntime.availableProcessors()))
      .map { tid =>
        val t = new Thread(() => {
          var i = tid
          // An allocation failure near the 95% budget just means the heap is
          // as faulted-in as it gets — stop quietly instead of dying with a
          // stack trace (the queue holds every chunk until the final clear,
          // so the last few threads routinely hit the ceiling together).
          try {
            while (i < n) {
              val a = new Array[Byte](chunk)
              var p = 0
              while (p < chunk) { a(p) = 1; p += 4096 }
              hold.add(a)
              i += math.min(32, Runtime.getRuntime.availableProcessors())
            }
          } catch { case _: OutOfMemoryError => () }
        })
        t.start(); t
      }
    threads.foreach(_.join())
    hold.clear()
    System.err.println(f"[bench] pre-touched ${n.toLong * chunk / (1L << 30)}%d GiB in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Per-query JVM/engine vitals, measured over exactly the timed window:
    * process-CPU seconds, GC ms and generated-code compiles (`cg_n`) as
    * deltas, post-GC heap / Spark storage-memory occupancy as absolutes,
    * plus the 1-minute system load. A query whose `cg_n` stays high on a
    * warm JVM is recompiling classes the codegen cache evicted. `heap_mb`
    * is the heap each pool held right after its most recent collection
    * (`MemoryPoolMXBean.getCollectionUsage`, which forces no GC): what the
    * last GC could not reclaim, without the garbage allocated since, so it
    * tracks live data instead of how long ago the last GC ran. The
    * shared-JVM driver sequence has repeatedly inflated a ROTATING band of
    * queries 3-5×
    * (r11 text, r12 profile/sample, r13 graph/stream) that fresh-JVM
    * probes time at 1× on identical code, so each BENCH artifact now
    * adjudicates itself: flat cpu/gc/storage with inflated wall means the
    * host is not scheduling the JVM (contamination); monotonically
    * growing storage/heap/gc across the sequence means an engine-side
    * leak to hunt.
    */
  private[graft] final class Vitals(spark: SparkSession) {
    private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    private def gcMsNow: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    private def postGcHeapBytes: Long = {
      var s = 0L
      heapPools.forEach { p =>
        val u = if (p.getType == java.lang.management.MemoryType.HEAP) p.getCollectionUsage else null
        if (u != null) s += u.getUsed
      }
      s
    }
    private def codegenCount: Long =
      try org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      catch { case _: Throwable => -1L }
    private var cpu0 = osBean.getProcessCpuTime
    private var gc0 = gcMsNow
    private var cg0 = codegenCount
    def reset(): Unit = { cpu0 = osBean.getProcessCpuTime; gc0 = gcMsNow; cg0 = codegenCount }
    def snapshot(): String = {
      val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gcDelta = gcMsNow - gc0
      val cgDelta = if (cg0 < 0) -1L else codegenCount - cg0
      val heapMb = postGcHeapBytes >> 20
      val storeMb =
        try spark.sparkContext.statusTracker.getExecutorInfos
          .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum >> 20
        catch { case _: Throwable => -1L }
      f"""{"cpu":$cpuSec%.2f,"gc_ms":$gcDelta,"heap_mb":$heapMb,"store_mb":$storeMb,"cg_n":$cgDelta,"load":${osBean.getSystemLoadAverage}%.1f}"""
    }
  }

  /** Scratch placement (optimization guide §6): shuffle files, streaming
    * state/checkpoint dirs and per-query fixture temp dirs are ephemeral by
    * construction, so they belong on the fastest LOCAL medium — on a
    * production node the local NVMe SSD; on this sandbox the virtio disk
    * behind /tmp writes at ~166 MB/s with ~14 ms small-file fsyncs
    * (measured r15: `dd conv=fsync` + 4 KiB create/fsync loop) while tmpfs
    * moves at 1.8 GB/s. The streaming rows alone pay 8 state partitions ×
    * 4 RocksDB stores × 4 micro-batches of changelog commits per query —
    * `q_stream_join` measured 22.6 s on /tmp scratch vs 9.4 s on tmpfs,
    * identical rows. Parameterized: `SPARK_GRAFT_SCRATCH` overrides (point
    * it at a local SSD path in production, or at /tmp to get the old
    * behavior); default is tmpfs when writable — the sf0.1 suite's scratch
    * footprint stays under 1 GiB, far below the 50%-of-RAM tmpfs bound.
    * Set BEFORE the session builds: `spark.local.dir` defaults to
    * `java.io.tmpdir`, so the one property moves shuffle dirs and the
    * `Files.createTempDirectory` fixture/checkpoint dirs together.
    */
  /** Minimum usable tmpfs bytes before the /dev/shm default engages. The
    * sf0.1 suite's scratch footprint stays under 1 GiB; requiring 8× that
    * margin means the default only fires where tmpfs demonstrably has the
    * headroom. On a production node tmpfs is typically sized at 50% of RAM
    * while shuffle + state can exceed RAM — there the gate refuses and
    * scratch stays wherever the operator pointed `java.io.tmpdir` (or
    * `SPARK_GRAFT_SCRATCH`, which bypasses the gate entirely and should
    * name the local NVMe).
    */
  private[graft] val ScratchMinFreeBytes: Long = 8L << 30

  /** True when `dir` is a writable directory with at least `minFree`
    * usable bytes — the space gate (r16) that keeps the tmpfs DEFAULT from
    * being a local-mode assumption: a box whose /dev/shm is small (or
    * already full) must not get shuffle files racing the executor heap
    * for RAM. Exposed for the unit test; any probe failure gates to false.
    */
  private[graft] def scratchEligible(dir: java.nio.file.Path, minFree: Long): Boolean =
    try
      java.nio.file.Files.isDirectory(dir) && java.nio.file.Files.isWritable(dir) &&
        java.nio.file.Files.getFileStore(dir).getUsableSpace >= minFree
    catch { case _: Exception => false }

  private[graft] def pickScratch(): Option[String] = {
    val chosen = sys.env.get("SPARK_GRAFT_SCRATCH").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (scratchEligible(shm, ScratchMinFreeBytes)) Some("/dev/shm/graft-bench") else None
    }
    chosen.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      System.setProperty("java.io.tmpdir", dir)
    }
    chosen
  }

  /** Survive long driver stalls: in local mode driver + executor share
    * one JVM, so a driver-side stall (GC, a slow page-fault path) starves
    * the executor heartbeat thread too; a bench run once died mid-queries
    * with ExecutorExitCode.HEARTBEAT_FAILURE (56) and every cached block
    * gone. Space heartbeats out, tolerate many misses, and raise the
    * network timeout they're judged against. Every long single-JVM main
    * (Bench, ScaleProbe, SkewBench) sets these.
    */
  private[graft] val heartbeatTolerance: Map[String, String] = Map(
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.network.timeout" -> "1200s",
    "spark.executor.heartbeat.maxFailures" -> "1000")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scratch = pickScratch()
    if (sys.env.getOrElse("SPARK_GRAFT_PRETOUCH", "1") != "0") preTouchHeap()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // The engine's session (AQE, UTC, codegen cache sized to the working
    // set), with shuffle partitions at the core count.
    val builder = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config(heartbeatTolerance)
    // The catalog's saveAsTable rows (q_s2_table_scan, q_sink_roundtrip's
    // bucketed copy) write through spark.sql.warehouse.dir, which defaults
    // to $PWD/spark-warehouse — the one ephemeral write the tmpdir move
    // above does NOT cover. Put it under the same scratch root (same §6
    // rule, same SPARK_GRAFT_SCRATCH override, cleaned with it).
    scratch.foreach(d => builder.config("spark.sql.warehouse.dir", s"$d/graft-warehouse"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup AT THE TARGET scale factor: a representative subset
    // covering the scan / SMJ / BHJ / window / explode / HOF / codegen
    // paths the measured queries hit. Warming on the same files also
    // pre-faults the OS page cache and shuffle/network buffers at real
    // sizes — on this host those first-touch costs otherwise land in
    // whichever measured query runs first (observed 10x inflation of the
    // first heavyweight after a small-SF warmup).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    val warmQueries = Seq(
      "q_agg_pricing", "q_j1_full_outer", "q_w1_dup_window", "q_d2_distinct",
      "q_dedup_jaccard", "q_sim_cosine_topk", "q_dedup_embedding",
      "q_compare_row_lvl", "q_compare_arrays", "q_events_window", "q_text_stats",
      "q_sim_lsh_topk", "q_sim_ivf_topk", "q_dedup_minhash", "q_dedup_simhash",
      "q_curate", "q_events_range", "q_text_topterms",
      // round-6 permanent additions (warmup grows only with the catalog)
      "q_compare_struct", "q_events_asof_tol",
      "q_text_repetition", "q_dedup_components", "q_dedup_decontaminate",
      "q_text_vocab", "q_text_pack",
      // round-7 permanent additions (new execution paths only: Expand
      // rollup, WindowGroupLimit top-N, per-gap sequence explode)
      "q_text_oov", "q_a5_rollup", "q_w3_topn_group", "q_events_gapfill",
      // bloom_filter_agg + scalar-subquery runtime filter path
      "q_j5_bloom_semi",
      // round-8: the javax.imageio / javax.sound encode/decode
      // mapPartitions paths (codec JIT + plugin init must not land inside
      // a measured run — the unwarmed audio query measured 16.8x at sf1,
      // its warmed image twin 0.8x)
      "q_multimodal_real_decode", "q_multimodal_audio")
    warmQueries.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    Queries.clearComparisonCache()
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // A query that threw has no timing: it is listed here, left out of
    // `queries` and of the total, so a crash never reads as a fast run.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val vitals = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val vt = new Vitals(spark)
    val expected = SparkEntry.queries.size
    // "complete" distinguishes a finished run from a crash-truncated mirror:
    // a partial mirror sums FEWER queries, which reads as a dramatically
    // faster benchmark to any consumer that falls back to it after the
    // process dies (round 2 hit exactly this). expected_queries gives the
    // same signal to consumers that only compare counts.
    def render(complete: Boolean): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val vs = vitals.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","queries":$qs,"failed":$fs,"vitals":$vs,"sf":"$sfDir","complete":$complete,"expected_queries":$expected}"""
    }
    // Mirror partial timings after EVERY query (atomic rewrite): round 2's
    // JVM died mid-measurement and, because the mirror was written only at
    // the end, the round recorded NO bench number at all. A crash now
    // costs only the in-flight query.
    // Non-default scale factors mirror to their own file: an sf1 run must
    // not clobber the driver-facing sf0.1 mirror (which round mirrors are
    // committed from).
    // Normalized comparison: a trailing slash / relative path / symlinked
    // spelling of the default sf0.1 dir must still hit the driver-facing
    // BENCH_LATEST.json, not silently divert to a per-sf mirror.
    val sfPath = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize
    val mirrorName =
      if (sfPath == java.nio.file.Paths.get("/root/testdata/sf0.1")) "BENCH_LATEST.json"
      else s"BENCH_LATEST.${sfPath.getFileName}.json"
    def mirror(complete: Boolean): Unit = try {
      val tmp = java.nio.file.Paths.get(mirrorName + ".tmp")
      java.nio.file.Files.writeString(tmp, render(complete) + "\n")
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(mirrorName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: Throwable => () }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      vt.reset()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        results += name -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
      }
      vitals += name -> vt.snapshot()
      // Release ORPHANED iteration caches (pageRank / connectedComponents /
      // negativeSample localCheckpoints — RDD-level persistence CacheManager
      // never sees). Each catalog call builds fresh frames, so a finished
      // query's checkpoints are unreachable; left in place they accumulate
      // across the suite and the heap pressure poisons LATER queries — the
      // sf10 ladder measured 45.9 s for a query that runs in 4.4 s in a
      // clean JVM. Dataset-level caches (the memoized comparison engine)
      // are deliberately kept: first compare query pays construction.
      // BLOCKING, so block eviction lands in this untimed gap — async
      // unpersist after the kcore/pagerank checkpoint piles ran inside the
      // NEXT measured query and tripled the sub-second join rows that
      // alphabetically follow the graph family. NO System.gc() here: a
      // full GC lets G1 uncommit the heap it pre-touched, and re-faulting
      // it on this host's pathological page-fault path inflated whichever
      // allocation-heavy query ran next 3-6x (measured: decontaminate
      // 1.2 -> 7.0 s directly after a gc fire).
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .filter(_.isCheckpointed).foreach(_.unpersist(blocking = true))
      mirror(complete = false)
    }
    mirror(complete = true)
    val json = render(complete = true)
    // The mirror file (already current) guards against stdout-parse
    // failures (round-1's parse broke on sbt's "[info] " prefix); the
    // bare JSON line is printed LAST, after Spark is fully stopped.
    spark.stop()
    // best-effort scratch cleanup: repeated runs must not accumulate
    // fixture/checkpoint dirs on the (RAM-backed by default) scratch
    scratch.filter(_ == "/dev/shm/graft-bench").foreach { dir =>
      try {
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(dir)
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      } catch { case _: Throwable => () }
    }
    println(json)
    System.out.flush()
  }
}
