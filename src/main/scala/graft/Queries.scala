package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{DatasetParams, TestParams}
import graft.core.Comparison
import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup, Multimodal, Sampling, Similarity, Sketches, Temporal}

/** The operator catalog behind [[SparkEntry]]: one query per operator class
  * in SURVEY.md §2 plus the LLM-pipeline extension operators, each paired
  * (where SQL-expressible) with an equivalent DuckDB oracle in
  * [[Queries.oracleSql]].
  *
  * Determinism rules for oracle-checked queries (the driver hash-compares
  * values):
  *  - numeric aggregates accumulate in DECIMAL (exact) and cast to double
  *    once at the end — never order-dependent float sums;
  *  - counts are BIGINT on both sides (DuckDB integer SUM/COUNT is HUGEINT
  *    unless cast);
  *  - column names are aliased identically in the Spark plan and the SQL;
  *  - no raw timestamp output columns (formatted to strings when needed).
  */
object Queries {
  import Tables.load

  private def li(s: SparkSession, d: String) = load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = load(s, d, "customer")
  private def docs(s: SparkSession, d: String) = load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = load(s, d, "embeddings")

  // ---- comparison-engine scenario (the flagship queries) ----------------
  // orders vs a perturbed copy of itself: dropped keys on both sides,
  // a string perturbation (%7), a within-tolerance numeric nudge (%11),
  // an out-of-tolerance numeric change (%23), and injected duplicate keys
  // (sparse, chosen to stay exact matches so cross-product semantics are
  // closed-form). Tolerance = 0.01.
  private def dupCond(k: Column): Column =
    (k % 1000 === 17) && (k % 7 =!= 0) && (k % 11 =!= 0) && (k % 23 =!= 0)

  private[graft] def compareScenario(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = ord(s, d)
    val k = col("o_orderkey")
    val src = o.filter(k % 19 =!= 0)
    val t0 = o.filter(k % 13 =!= 0).select(
      k,
      col("o_custkey"),
      when(k % 7 === 0, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      (col("o_totalprice")
        + when(k % 11 === 0, lit(0.005)).otherwise(lit(0.0))
        + when(k % 23 === 0, lit(1.0)).otherwise(lit(0.0))).as("o_totalprice"),
      col("o_orderdate"),
      col("o_orderpriority"))
    val tgt = t0.union(t0.filter(dupCond(k)))
    (src, tgt)
  }

  // One comparison run yields all four reports; the report queries share it
  // (memoized per session+dir+scenario) exactly as a real caller would.
  // EVERY ComparisonResult a query builds must go through this cache so
  // clearComparisonCache() can release its persisted frames — an un-cached
  // result leaks MEMORY_AND_DISK storage across repeated invocations.
  private val cmpCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), graft.core.ComparisonResult]

  // Memory-sink names must be unique among ACTIVE streaming queries; a
  // per-invocation sequence keeps repeated catalog runs in one session from
  // colliding (stopped queries may linger in the registry briefly).
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` against a session clone whose
    * `spark.sql.shuffle.partitions` is lowered to `n`. The streaming
    * catalog rows use
    * it: a stateful streaming operator instantiates one state store per
    * shuffle partition per micro-batch, and the fixture replays 4-5
    * micro-batches of ~60k rows — at the session's 32 partitions the
    * store load/commit/maintenance constant dominates wall time (the
    * state held per partition is tiny). 8 partitions keeps the exact
    * same semantics (key-hash sharding, order-independence — the state
    * key distribution just folds 4-to-1) while cutting the per-batch
    * fixed cost; a production deployment sizes this conf to cluster
    * cores the same way. Checkpoints are created fresh per invocation,
    * so the count is free to choose here — a RESUMED stream must keep
    * its checkpointed count, which is why this wraps the whole
    * run-to-termination, never a restart.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: SparkSession => T): T = {
    // scoped via a CLONED session (shared SparkContext, fresh SessionState)
    // rather than set/restore on the caller's session: an unrelated query
    // planned concurrently on `s` must never observe the streaming rows'
    // 8-partition override, and an exception can't leave the wrong value
    // behind. All graft confs are builder-level (they live in SparkConf),
    // so the clone inherits them.
    val child = s.newSession()
    child.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(child)
  }

  /** [[withShufflePartitions]] plus the streaming state-store confs the
    * 100 TB deployment needs: keyed state lives in RocksDB (disk-backed,
    * off executor heap) with changelog checkpointing, so a CDC-upsert
    * keyspace or a long-watermark dedup scales with local SSD instead of
    * JVM memory, and per-batch checkpoint upload is the delta, not a full
    * SST snapshot. The default HDFSBackedStateStoreProvider holds every
    * version of every key-value map on-heap — the one configuration that
    * made the streaming family a scale risk. Semantics are identical
    * (provider is a pluggable KV layer under the same operator contract),
    * which the unchanged oracle rows prove.
    */
  /** The exact conf pair every catalog streaming row runs under — exposed
    * (package-private) so StreamingSpec can pin BOTH the values and their
    * observable effect (RocksDB changelog checkpoints on disk); a silent
    * edit here fails that spec instead of quietly reverting the streaming
    * family to on-heap state.
    */
  private[graft] val streamingStateConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  private def withStreamingConfs[T](s: SparkSession, n: Int)(body: SparkSession => T): T =
    withShufflePartitions(s, n) { child =>
      streamingStateConfs.foreach { case (k, v) => child.conf.set(k, v) }
      body(child)
    }

  private def memoizedCompare(s: SparkSession, d: String, scenario: String)(
      build: => graft.core.ComparisonResult): graft.core.ComparisonResult =
    cmpCache.getOrElseUpdate((System.identityHashCode(s), d, scenario), build)

  private def compareResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders") {
      val (src, tgt) = compareScenario(s, d)
      Comparison.compareDataFrames(
        s, src, tgt,
        DatasetParams("orders_cmp", Seq("o_orderkey"), TestParams(differenceTolerance = 0.01)))
    }

  // embeddings vs a copy with dropped keys and reversed vectors — the
  // ARRAY-column (nested-type canonicalization) engine scenario, shared by
  // q_compare_arrays and q_compare_multi.
  private def compareArraysResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "embeddings") {
      val e = embs(s, d)
      val k = col("vec_id")
      val src = e.filter(k % 19 =!= 0)
      val tgt = e.filter(k % 13 =!= 0).select(
        k,
        when(k % 7 === 0, reverse(col("embedding"))).otherwise(col("embedding")).as("embedding"),
        col("label"))
      Comparison.compareDataFrames(
        s, src, tgt,
        DatasetParams("emb_cmp", Seq("vec_id"), TestParams(canonicalizeNestedTypes = true)))
    }

  // CLEAN compare: orders against itself — the 100 TB regression-gate use
  // case (the product's primary promise: a clean compare never
  // materializes a full-width row past the checksum scan; mismatchKeyCount
  // = 0 skips the refetch job entirely). This is the scenario the scale
  // ladder runs at sf100 to evidence that promise directly.
  private def compareCleanResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders_clean") {
      val o = ord(s, d)
      Comparison.compareDataFrames(s, o, o,
        DatasetParams("orders_clean", Seq("o_orderkey")))
    }

  // HOT-KEY compare: both sides carry 64 identical copies of every
  // ~1/9973rd key — the duplicated-primary-key M×N cross product inside
  // the one join the engine can never AQE-skew-split (full-outer;
  // replicating a side would fabricate unmatched rows). Multiplicity is
  // FIXED at 64 so the per-key M·N = 4096 pair blow-up stays constant
  // while the number of hot keys scales linearly with the corpus — the
  // ladder then watches partition-level hot-key behavior as data grows
  // rather than measuring a quadratic the scenario itself planted.
  private def compareHotkeyResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders_hotkey") {
      val o = ord(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val k = col("o_orderkey")
      def dup(df: DataFrame): DataFrame = df
        .withColumn("__r",
          explode(sequence(lit(1), when(k % 9973 === 17, lit(64)).otherwise(lit(1)))))
        .drop("__r")
      Comparison.compareDataFrames(s, dup(o), dup(o),
        DatasetParams("orders_hotkey", Seq("o_orderkey")))
    }

  // orders reshaped with a MAP column whose TARGET side inserts the same
  // entries in the OPPOSITE order — the map key-order-insensitivity
  // scenario. Maps are unordered: only keys ≡ 0 (mod 11), whose 'a' value
  // is genuinely perturbed, may report unmatched. Without the engine's
  // key-sorted canonicalization every row's to_json text differs and the
  // whole report flips — the closed-form oracle below needs no map
  // support in DuckDB at all, which is the point: the expected verdict is
  // arithmetic in the key.
  private def compareMapResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders_map") {
      val o = ord(s, d)
      val k = col("o_orderkey")
      val src = o.select(k, map(lit("a"), k % 7, lit("b"), k % 5).as("kv"))
      val tgt = o.select(k,
        map(
          lit("b"), k % 5,
          lit("a"), when(k % 11 === 0, k % 7 + 1).otherwise(k % 7)).as("kv"))
      Comparison.compareDataFrames(s, src, tgt,
        DatasetParams("orders_map", Seq("o_orderkey")))
    }

  // orders with the SOURCE customer column narrowed to INT vs the target's
  // BIGINT — the width-mixed-schema scenario (a routine real-world drift:
  // one writer tightened a type). The engine widens both sides upfront so
  // equal values checksum-match; only keys ≡ 0 (mod 13), genuinely
  // shifted by 1 on the target, may report unmatched.
  private def compareWidenResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders_widen") {
      val o = ord(s, d)
      val k = col("o_orderkey")
      val src = o.select(k, col("o_custkey").cast("int").as("cust"))
      val tgt = o.select(k,
        (col("o_custkey") + when(k % 13 === 0, 1L).otherwise(0L)).as("cust"))
      Comparison.compareDataFrames(s, src, tgt,
        DatasetParams("orders_widen", Seq("o_orderkey")))
    }

  // EP1 failure isolation through the FULL config-driven job: three
  // file-backed datasets under continue_on_error=true, the middle one
  // irreconcilable (double vs string o_totalprice — reconcileTypes throws
  // upfront). The job must keep going: the clean dataset reports PASSED,
  // the value-drifted one FAILED with arithmetic counts, and the broken
  // one contributes exactly the FAILED-with-zeros capture row — all three
  // landing in ONE consolidated overall report, which DuckDB predicts
  // with pure key arithmetic. Fixtures are written fresh from the orders
  // table (same derivation the oracle replays), so the scenario also
  // exercises read-back through IoUtils rather than in-memory frames.
  private def compareFailisolResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "failisol") {
      val work = java.nio.file.Files.createTempDirectory("graft-failisol").toString
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val k = col("o_orderkey")
      // three independent fixture writes to three directories — overlap
      // them (guide §2.6) instead of paying three serial write commits
      graft.core.Par.runAll(Seq(
        () => o.write.mode("overwrite").parquet(s"$work/src"),
        () => o.withColumn("o_totalprice",
            when(k % 101 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
          .write.mode("overwrite").parquet(s"$work/tgt_drift"),
        () => o.withColumn("o_totalprice", col("o_totalprice").cast("string"))
          .write.mode("overwrite").parquet(s"$work/tgt_badtype")))
      def ds(name: String, tgt: String) = graft.config.DatasetConfig(
        DatasetParams(name, Seq("o_orderkey")),
        graft.config.DataframeConfig(s"$work/src"),
        graft.config.DataframeConfig(s"$work/$tgt"))
      graft.jobs.ComparisonJob.runComparisonJob(s, graft.config.ComparisonJobConfig(
        jobName = "failisol",
        datasetConfigs = Seq(
          ds("orders_ok", "src"),
          // deliberately in the MIDDLE: datasets after the failure must run
          ds("orders_badtype", "tgt_badtype"),
          ds("orders_drift", "tgt_drift")),
        outputConfig = graft.config.OutputConfig(s"$work/out"),
        continueOnError = true))
    }

  // orders reshaped with a STRUCT column (status, priority) vs a copy with
  // dropped keys and perturbed struct fields — the struct-column
  // (nested-type canonicalization) engine scenario: the checksum and the
  // per-column predicate both go through to_json canonicalization.
  private def compareStructResult(s: SparkSession, d: String) =
    memoizedCompare(s, d, "orders_struct") {
      val o = ord(s, d)
      val k = col("o_orderkey")
      val src = o.filter(k % 19 =!= 0).select(
        k,
        struct(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority")).as("meta"),
        col("o_custkey"))
      val tgt = o.filter(k % 13 =!= 0).select(
        k,
        struct(
          when(k % 7 === 0, lit("X")).otherwise(col("o_orderstatus")).as("status"),
          col("o_orderpriority").as("priority")).as("meta"),
        col("o_custkey"))
      Comparison.compareDataFrames(
        s, src, tgt,
        DatasetParams("orders_struct", Seq("o_orderkey"), TestParams(canonicalizeNestedTypes = true)))
    }

  /** Release every memoized comparison run's persisted frames (benchmarks
    * call this between warmup and measurement).
    */
  def clearComparisonCache(): Unit = {
    cmpCache.values.foreach(_.unpersist())
    cmpCache.clear()
  }

  // Shared oracle CTE prefix replicating the scenario + per-key join state
  // independently of the engine (aggregated per key: per-key rows are
  // homogeneous by construction, so MIN() is a faithful row representative).
  private val cmpCte: String =
    """WITH src AS (SELECT * FROM orders WHERE o_orderkey % 19 != 0),
      |t0 AS (SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice + CASE WHEN o_orderkey % 11 = 0 THEN 0.005 ELSE 0.0 END
      |               + CASE WHEN o_orderkey % 23 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice,
      |  o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 13 != 0),
      |tgt AS (SELECT * FROM t0 UNION ALL SELECT * FROM t0
      |        WHERE o_orderkey % 1000 = 17 AND o_orderkey % 7 != 0
      |          AND o_orderkey % 11 != 0 AND o_orderkey % 23 != 0),
      |s AS (SELECT o_orderkey, COUNT(*) cs, MIN(o_custkey) ck, MIN(o_orderstatus) st,
      |      MIN(o_totalprice) pr, MIN(o_orderdate) dt, MIN(o_orderpriority) pri
      |      FROM src GROUP BY o_orderkey),
      |t AS (SELECT o_orderkey, COUNT(*) ct, MIN(o_custkey) ck, MIN(o_orderstatus) st,
      |      MIN(o_totalprice) pr, MIN(o_orderdate) dt, MIN(o_orderpriority) pri
      |      FROM tgt GROUP BY o_orderkey),
      |j AS (SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey, s.cs, t.ct,
      |  (s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL) AS present,
      |  (s.ck IS NOT DISTINCT FROM t.ck AND s.st IS NOT DISTINCT FROM t.st
      |   AND s.pr IS NOT DISTINCT FROM t.pr AND s.dt IS NOT DISTINCT FROM t.dt
      |   AND s.pri IS NOT DISTINCT FROM t.pri) AS exact,
      |  COALESCE(ABS(s.ck - t.ck) <= 0.01, FALSE) AS m_ck,
      |  (s.st IS NOT DISTINCT FROM t.st) AS m_st,
      |  COALESCE(ABS(s.pr - t.pr) <= 0.01, FALSE) AS m_pr,
      |  (s.dt IS NOT DISTINCT FROM t.dt) AS m_dt,
      |  (s.pri IS NOT DISTINCT FROM t.pri) AS m_pri
      |  FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey),
      |jm AS (SELECT *, (m_ck AND m_st AND m_pr AND m_dt AND m_pri) AS tol FROM j),
      |row_lvl AS (SELECT o_orderkey,
      |  CAST(CASE WHEN cs IS NULL THEN ct - 1 WHEN ct IS NULL THEN cs - 1
      |       ELSE cs*ct - 1 END AS BIGINT) AS duplicate_count,
      |  CASE WHEN cs IS NULL THEN 'MISSING_AT_SOURCE'
      |       WHEN ct IS NULL THEN 'MISSTING_AT_TARGET'
      |       ELSE 'PRESENT_IN_BOTH' END AS missing_row_status,
      |  COALESCE(present AND (exact OR tol), FALSE) AS all_rows_matched
      |  FROM jm)
      |""".stripMargin

  /** Part co-occurrence edges (distinct part pairs sharing an order) — the
    * shared input of the q_graph_* queries.
    *
    * In-row pair emission (guide §2.3-2.4, optimization r15): the previous
    * shape — `distinct()` on (order, part), then a self-join on the order
    * key — paid one exchange of every distinct lineitem row for the
    * distinct plus a second full exchange for the self-join, and only then
    * handed the pair rows to the consumer's own canonicalization exchange.
    * Baskets are small and bounded (avg 4.1, max 17 distinct parts/order at
    * sf0.1; the TPC-H-shaped generator keeps that distribution flat as sf
    * grows), so each order's pair set is emitted IN-ROW instead: scan →
    * partial `collect_set` (map-side, so the one exchange carries ~one
    * array row per order, not every lineitem row) → final set per order →
    * explode the strictly-following pairs of the ascending-sorted item set.
    * The pair multiset is IDENTICAL to the self-join's (sorted unique items;
    * "y strictly follows x" ≡ `x.i < y.i`), pa < pb as before; 2 wide
    * exchanges + join → 1 narrow exchange. Per-basket work stays O(k²) with
    * k ≤ 17 — the same pairs the join emitted, minus the join machinery.
    */
  private[graft] def partEdges(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items) - i - 1), " +
          "y -> named_struct('pa', x, 'pb', y))))")).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))

  // ---- the catalog ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 + P1/P6: format scan with pushed filter + projection
    "q_s1_scan_filter" -> ((s, d) =>
      li(s, d)
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    // S2: catalog-table scan via the "table" sentinel path — through a REAL
    // persisted catalog table (saveAsTable -> warehouse parquet + catalog
    // entry -> read.table), not a temp view, so the metastore path is
    // exercised end to end.
    "q_s2_table_scan" -> ((s, d) => {
      // A prior PROCESS's warehouse directory can survive while the fresh
      // in-memory catalog has forgotten the table — saveAsTable then fails
      // with LOCATION_ALREADY_EXISTS. Drop both the entry and the location.
      s.sql("DROP TABLE IF EXISTS graft_region_t")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_region_t")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      load(s, d, "region").write.mode("overwrite").saveAsTable("graft_region_t")
      s.read.table("graft_region_t").select("r_regionkey", "r_name")
    }),

    // S3/S4 sink loop, hash-checked: orders goes OUT through both
    // production writers — writePartitioned (hive-style dirs on
    // o_orderstatus, the partition-pruning layout) and writeBucketed
    // (8 buckets on o_orderkey into a real catalog table, the
    // co-located-join layout) — then both copies are re-read and joined
    // back together on the key, aggregating exact integer cents from EACH
    // copy. Equal sums per status prove both round trips byte-preserved
    // the data; PlanSpec separately pins that the re-reads prune/avoid
    // shuffles. (Every verify run also exercises the plain parquet sink on
    // its own output; this row covers the partitioned + bucketed writers.)
    "q_sink_roundtrip" -> ((s, d) => {
      val work = java.nio.file.Files.createTempDirectory("graft-sink-rt").toString
      val o = ord(s, d).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      graft.sources.IoUtils.writePartitioned(o, s"$work/part", Seq("o_orderstatus"))
      s.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_orders_bkt")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.sources.IoUtils.writeBucketed(o, "graft_orders_bkt", Seq("o_orderkey"), 8)
      val part = s.read.parquet(s"$work/part")
      val bkt = s.read.table("graft_orders_bkt")
        .select(col("o_orderkey"), col("o_totalprice").as("price_b"))
      part.join(bkt, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("price_b") * 100).cast("long")).as("price_cents_bkt"))
    }),

    // S5 + J3: driver-local table broadcast-joined to a dimension
    "q_s5_local_broadcast" -> ((s, d) => {
      import s.implicits._
      val expected = Seq((0, "AFRICA"), (1, "AMERICA"))
        .toDF("r_regionkey", "expected_name")
      load(s, d, "region")
        .join(broadcast(expected), Seq("r_regionkey"))
        .select("r_regionkey", "r_name", "expected_name")
    }),

    // P3 + E1: sha256 row-checksum derivation
    "q_p3_checksum" -> ((s, d) =>
      cust(s, d).select(
        col("c_custkey"),
        sha2(concat_ws("", col("c_name"), col("c_mktsegment")), 256).as("row_chk"))),

    // P4/P5: bulk + single column rename
    "q_p4_rename" -> ((s, d) =>
      li(s, d)
        .withColumnsRenamed(Map(
          "l_quantity" -> "l_quantity_src",
          "l_extendedprice" -> "l_extendedprice_src"))
        .select("l_orderkey", "l_linenumber", "l_quantity_src", "l_extendedprice_src")),

    // A1 + E5: global conditional sums
    "q_a1_condsum" -> ((s, d) =>
      ord(s, d).agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        count(lit(1)).as("n_rows"))),

    // A2 + P10 + U1: duplicate-key counting over a union with injected dups
    "q_a2_dup_keys" -> ((s, d) => {
      val c = cust(s, d)
      c.union(c.filter(col("c_custkey") % 100 === 0))
        .groupBy("c_custkey").count()
        .where(col("count") > 1)
        .agg(count(lit(1)).as("dup_key_count"))
    }),

    // W1: unordered count-over-partition duplicate count
    "q_w1_dup_window" -> ((s, d) =>
      li(s, d)
        .select("l_orderkey", "l_linenumber")
        .withColumn(
          "duplicate_count",
          count(lit(1)).over(
            Window.partitionBy("l_orderkey")
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) - 1)),

    // A3 + U2 + E6: one-row aggregate unpivoted to (column_name, value)
    "q_u2_unpivot" -> ((s, d) =>
      li(s, d)
        .agg(
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("high_discount"),
          sum(when(col("l_tax") > 0.04, 1).otherwise(0)).as("high_tax"))
        .unpivot(Array.empty[Column], Array(col("high_discount"), col("high_tax")),
          "column_name", "unmatched_rows_count")
        .withColumn("unmatched_rows_count", coalesce(col("unmatched_rows_count"), lit(0L)))),

    // A5: rollup (hierarchical subtotal lattice — priority, priority ×
    // status, grand total). One Expand + one shuffle; fixed-point sums
    "q_a5_rollup" -> ((s, d) =>
      ord(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))),

    // W2: full window-analytics coverage — rank, running total, and lag
    // over a per-customer ordered frame; (date, orderkey) makes the order
    // total so RANGE and ROWS frames coincide deterministically
    "q_w2_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d).select(
        col("o_custkey"),
        col("o_orderkey"),
        row_number().over(w).cast("long").as("order_seq"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("cum_cents"),
        lag(round(col("o_totalprice") * 100).cast("long"), 1).over(w).as("prev_cents"))
    }),

    // U3: pivot (wide conditional-count reshape). The value list is
    // EXPLICIT — an unlisted pivot makes Spark run a values-discovery job
    // over the full table before planning, which at 100 TB is a second
    // scan; empty cells are count NULL, folded to 0
    "q_u3_pivot" -> ((s, d) =>
      ord(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),

    // J1 + E5: full-outer alignment with missing-side status
    "q_j1_full_outer" -> ((s, d) => {
      val o = ord(s, d)
      val src = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price_src"))
      val tgt = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price_target"))
      src.join(tgt, Seq("o_orderkey"), "full_outer")
        .withColumn(
          "missing_row_status",
          when(col("price_src").isNull, "MISSING_AT_SOURCE")
            .when(col("price_target").isNull, "MISSTING_AT_TARGET")
            .otherwise("PRESENT_IN_BOTH"))
    }),

    // J2 + E6: left join with null-default fold
    "q_j2_left_coalesce" -> ((s, d) =>
      ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), coalesce(col("c_name"), lit("UNKNOWN")).as("cust_name"))),

    // J3: left-semi join (EXISTS). The build side carries ONLY the join
    // key — no payload columns shuffle, and the hash table dedups keys, so
    // a billion-order probe against it stays one broadcast/hash probe per
    // row. The filter evaluates scan-side on orders before the join.
    "q_j3_semi" -> ((s, d) =>
      cust(s, d)
        .join(
          ord(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")),

    // J4: left-anti join (NOT EXISTS) — the retention/orphan query. Same
    // key-only build side as J3; NULL keys can't false-match because the
    // equi-condition is null-rejecting on both sides.
    "q_j4_anti" -> ((s, d) =>
      cust(s, d)
        .join(ord(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")),

    // J5: Bloom-pruned semi join — the key set is filtered scan-side with
    // a broadcast Bloom filter BEFORE the big side's exchange, then exact
    // semi-join verify (false positives pruned, so row-identical to a
    // plain EXISTS — the filter only cuts shuffle volume). PlanSpec pins
    // might_contain below the exchange.
    "q_j5_bloom_semi" -> ((s, d) =>
      graft.operators.Pruning.bloomPrunedSemiJoin(
          li(s, d),
          ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey", expectedItems = 20000L)
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // A6: cube + grouping_id — the full 2^n subtotal lattice with the
    // bitmask distinguishing real NULL groups from subtotal markers.
    // One Expand (4 replicas/row) + one shuffle, same as rollup.
    "q_a6_cube" -> ((s, d) =>
      ord(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))),

    // A8: explicit grouping sets — both one-dim marginals plus the grand
    // total in ONE pass (an Expand of exactly 3 replicas, vs cube's 4),
    // the shape for dashboard rollups that don't want the fine cells
    "q_a8_grouping_sets" -> ((s, d) =>
      ord(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"))),

    // A7: exact per-group percentiles (linear interpolation). Integer-cent
    // inputs + quarter fractions make the interpolation arithmetic exact in
    // both engines — no float-drift risk in the hash compare. NOTE the
    // 100 TB path is approx_percentile (mergeable t-digest sketch, no
    // per-group value buffer); OperatorsSpec pins approx-vs-exact agreement
    // on this same query. Exact percentile here buffers each group's values
    // — fine for bounded groups (5 priorities), the oracle-able variant.
    // One percentile(ARRAY) call — a single shared counts-map buffer per
    // group instead of three — then scalar projections of the result
    // array (the driver comparator requires scalar output columns).
    "q_a7_percentile" -> ((s, d) =>
      ord(s, d)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_orderpriority")
        .agg(percentile(col("cents"), array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .select(
          col("o_orderpriority"),
          col("q").getItem(0).as("p25_cents"),
          col("q").getItem(1).as("p50_cents"),
          col("q").getItem(2).as("p75_cents"))),

    // W3: per-group top-N. Spark 4 rewrites rank<=k filters over windows
    // into WindowGroupLimit — each map task keeps a k-row heap per group
    // BEFORE the shuffle, so the exchange carries ≤ k rows per group per
    // task instead of the whole table (pinned in PlanSpec). (date, key)
    // tie-break makes the ranking total.
    "q_w3_topn_group" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    }),

    // U4/U5: set operations. INTERSECT/EXCEPT are DISTINCT set semantics —
    // Spark plans them as an aggregate + semi/anti join on all columns;
    // dedup happens map-side before the shuffle.
    "q_u4_intersect" -> ((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),
    "q_u5_except" -> ((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    // Headline grouped aggregation. Exact AND order-independent without
    // decimal arithmetic: quantize each 2-decimal measure to integer cents
    // (round(v*100) as long) and sum longs — plain codegen'd integer adds,
    // ~an order of magnitude cheaper per row than Decimal sums, identical
    // results in any summation order, and bit-reproducible in DuckDB (the
    // same round/multiply/divide on the same doubles). Range headroom:
    // disc_price terms are ≤1e9 (1e7 cents × 1e2), so ~1e9 rows per group
    // fit in a long; beyond that, widen to decimal at the FINAL aggregate
    // only.
    "q_agg_pricing" -> ((s, d) =>
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // incremental aggregation maintenance: monthly mergeable partials
    // (count/sum/min/max on ×100 fixed-point) folded to the per-flag
    // rollup — the oracle computes the rollup DIRECTLY from the raw rows,
    // so the green row proves merge-of-partials ≡ one-shot aggregation
    "q_agg_incremental" -> ((s, d) => {
      val base = li(s, d).select(
        col("l_returnflag"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"),
        floor(col("l_quantity") * 100).as("qty_scaled"))
      graft.operators.Incremental.mergeStats(
        graft.operators.Incremental.partialStats(
          base, Seq("l_returnflag"), "ship_month", "qty_scaled"),
        Seq("l_returnflag"))
    }),

    // mergeable quantile state: per-month histogram partials (1000-unit
    // bins on price cents) folded to p25/p50/p90/p99 bins per returnflag —
    // the merge law makes the oracle free to bin directly
    "q_agg_quantile_state" -> ((s, d) => {
      val base = li(s, d).select(
        col("l_returnflag"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"),
        floor(col("l_extendedprice") * 100).as("price_cents"))
      graft.operators.Incremental.mergeQuantiles(
        graft.operators.Incremental.partialQuantiles(
          base, Seq("l_returnflag"), "ship_month", "price_cents", binWidth = 100000L),
        Seq("l_returnflag"), Seq(250000L, 500000L, 900000L, 990000L), binWidth = 100000L)
    }),

    // small-file compaction planner over a synthetic per-partition file
    // listing (each doc = one "file" of n_chars bytes, partitioned by
    // lang): next-fit groups of ~20 kB by the running-sum rule
    "q_layout_compact" -> ((s, d) =>
      graft.sources.Layout.planCompaction(
        docs(s, d).select(
          col("lang"),
          concat(lit("doc_"), col("doc_id").cast("string")).as("path"),
          col("n_chars").as("bytes")),
        Seq("lang"), "path", "bytes", targetBytes = 20000L)),

    // O1: total-order top-k with full tie-break
    "q_o1_topk" -> ((s, d) =>
      ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")),

    // D1: key-based dropDuplicates (projected to the keys, so the survivor
    // row is deterministic and oracle-checkable)
    "q_d1_dropdup" -> ((s, d) => {
      val o = ord(s, d)
      o.select("o_custkey", "o_orderstatus")
        .dropDuplicates(Seq("o_custkey", "o_orderstatus"))
    }),

    // D2: distinct projection
    "q_d2_distinct" -> ((s, d) =>
      li(s, d).select("l_returnflag", "l_linestatus").distinct()),

    // ---- engine end-to-end: the three comparison reports ---------------
    "q_compare_row_lvl" -> ((s, d) => compareResult(s, d).rowLvlTestReport),

    "q_compare_col_lvl" -> ((s, d) => compareResult(s, d).colLvlTestReport),

    // engine end-to-end over ARRAY columns (nested-type canonicalization)
    "q_compare_arrays" -> ((s, d) => compareArraysResult(s, d).rowLvlTestReport),

    // engine end-to-end over a STRUCT column (to_json canonicalization in
    // both the row checksum and the per-column predicate)
    "q_compare_struct" -> ((s, d) => compareStructResult(s, d).rowLvlTestReport),

    // the 100 TB triage mode: per-bucket (count, additive sha-fingerprint)
    // over the compare scenario's stable columns — which key slices differ
    // at all, in one map-side-combined aggregation per side (double column
    // excluded: float string forms are not engine-stable)
    "q_compare_fingerprint" -> ((s, d) => {
      val (src, tgt) = compareScenario(s, d)
      graft.core.Fingerprint.fingerprintDiff(
        src.drop("o_totalprice"), tgt.drop("o_totalprice"),
        Seq("o_orderkey"),
        Seq("o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"),
        buckets = 64)
    }),

    "q_compare_overall" -> ((s, d) =>
      compareResult(s, d).overallTestReport.select(
        col("dataset_name"),
        col("count").getItem("source").as("source_count"),
        col("count").getItem("target").as("target_count"),
        col("matched_count"),
        col("duplicate_count").getItem("source").as("source_duplicate_count"),
        col("duplicate_count").getItem("target").as("target_duplicate_count"),
        col("missing_rows").getItem("source").as("source_missing_rows"),
        col("missing_rows").getItem("target").as("target_missing_rows"),
        col("test_status"))),

    // the zero-mismatch FAST PATH end-to-end: identical sides, PASSED,
    // second eager job skipped (PlanSpec pins the job count)
    "q_compare_clean" -> ((s, d) =>
      compareCleanResult(s, d).overallTestReport.select(
        col("dataset_name"),
        col("count").getItem("source").as("source_count"),
        col("count").getItem("target").as("target_count"),
        col("matched_count"),
        col("duplicate_count").getItem("source").as("source_duplicate_count"),
        col("duplicate_count").getItem("target").as("target_duplicate_count"),
        col("missing_rows").getItem("source").as("source_missing_rows"),
        col("missing_rows").getItem("target").as("target_missing_rows"),
        col("test_status"))),

    // the duplicated-PK M×N hot-key scenario through the full row-level
    // report (64×64 pairs per hot key collapse through the aggregate-then-
    // window duplicate count)
    "q_compare_hotkey" -> ((s, d) => compareHotkeyResult(s, d).rowLvlTestReport),

    // map columns compared ORDER-INSENSITIVELY (same entries, opposite
    // insertion order, must match; only genuinely-perturbed values flip)
    "q_compare_map" -> ((s, d) => compareMapResult(s, d).rowLvlTestReport),

    // width-mixed schema (int vs bigint) widened upfront: equal values
    // match — and keep the clean fast path, pinned in ComparisonSpec
    "q_compare_widen" -> ((s, d) => compareWidenResult(s, d).rowLvlTestReport),

    // EP1 continue_on_error isolation: one irreconcilable dataset of three
    // contributes a FAILED-with-zeros row while the other two complete
    "q_compare_failisol" -> ((s, d) =>
      compareFailisolResult(s, d).overallTestReport.select(
        col("dataset_name"),
        col("count").getItem("source").as("source_count"),
        col("count").getItem("target").as("target_count"),
        col("matched_count"),
        col("duplicate_count").getItem("source").as("source_duplicate_count"),
        col("duplicate_count").getItem("target").as("target_duplicate_count"),
        col("missing_rows").getItem("source").as("source_missing_rows"),
        col("missing_rows").getItem("target").as("target_missing_rows"),
        col("test_status"))),

    // EP1 multi-dataset consolidation: two engine runs (orders + embeddings
    // scenarios) positionally unioned, overall report flattened
    "q_compare_multi" -> ((s, d) => {
      val r2 = compareArraysResult(s, d)
      graft.jobs.ComparisonJob.consolidate(Seq(compareResult(s, d), r2))
        .overallTestReport.select(
          col("dataset_name"),
          col("count").getItem("source").as("source_count"),
          col("count").getItem("target").as("target_count"),
          col("matched_count"),
          col("duplicate_count").getItem("source").as("source_duplicate_count"),
          col("duplicate_count").getItem("target").as("target_duplicate_count"),
          col("missing_rows").getItem("source").as("source_missing_rows"),
          col("missing_rows").getItem("target").as("target_missing_rows"),
          col("test_status"))
    }),

    // data profiling: one-job per-column stats on the orders table
    "q_profile" -> ((s, d) => graft.core.Profiling.profile(s, ord(s, d))),

    // equi-width histogram: 20 bins over [0, 500000) — round-number edges
    // keep the bin arithmetic bit-identical across engines
    "q_profile_hist" -> ((s, d) =>
      graft.core.Profiling.histogram(ord(s, d), "o_totalprice",
        nBins = 20, lo = 0.0, hi = 500000.0)),

    // distribution drift: order totalprice shape, pre- vs post-1998 —
    // per-bin counts and integer-exact ppm proportions (Σ|delta|/2·10⁶ is
    // the total-variation distance, no log/float in the score)
    "q_profile_drift" -> ((s, d) => {
      val o = ord(s, d)
      val cut = lit("1998-01-01").cast("timestamp")
      graft.core.Profiling.driftReport(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        "o_totalprice", nBins = 20, lo = 0.0, hi = 500000.0)
    }),

    // schema drift: current drops lang, narrows n_chars to INT and adds a
    // derived flag — removed/type_changed/added/unchanged all exercised.
    // Pure metadata (no job); the oracle replays it via DESCRIBE.
    "q_profile_schema_diff" -> ((s, d) => {
      val base = docs(s, d)
      val cur = docs(s, d).drop("lang")
        .withColumn("n_chars", col("n_chars").cast("int"))
        .withColumn("is_long", col("n_chars") > 500)
      graft.core.Profiling.schemaDiff(s, base, cur)
    }),

    // cross-source overlap matrix: a synthetic 'mirror' source re-hosts
    // every 4th document, so (mirror → src_i) and the much larger
    // (src_i → mirror) containments both appear — plus any natural
    // cross-source duplicates the corpus already carries
    "q_profile_overlap" -> ((s, d) => {
      val dd = docs(s, d)
      val mirror = dd.filter(col("doc_id") % 4 === 0)
        .select(col("text"), lit("mirror").as("source"))
      graft.core.Profiling.sourceOverlap(
        dd.select("text", "source").unionByName(mirror), "text", "source")
    }),

    // semi-structured extraction: the props JSON column parsed with an
    // EXPLICIT from_json schema (one codegen'd Jackson parse per row, no
    // schema-inference scan — the only shape that works at 100 TB), then a
    // typed aggregation over the extracted field
    "q_events_json" -> ((s, d) =>
      graft.sources.Events.load(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                "k", org.apache.spark.sql.types.LongType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi"))),

    // CDC changelog merge: state-per-user snapshot from the first 19 days
    // of events, then the remaining days replayed as a changelog where an
    // 'error' event deletes the user and anything else upserts the user's
    // latest (event_id, us, event_type, value) state. µs timestamps — the
    // cross-engine events resolution (DuckDB reads the NANOS parquet at µs)
    "q_events_changelog" -> ((s, d) => {
      val cut = lit(1705708800000000L) // 2024-01-20T00:00:00Z as epoch micros
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("event_type"), col("value"))
      val snap = graft.operators.Changelog.latestByKey(
        ev.filter(col("us") < cut), Seq("user_id"), Seq("us", "event_id"))
      val chg = ev.filter(col("us") >= cut)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      graft.operators.Changelog.applyChangelog(
        snap, chg, Seq("user_id"), Seq("us", "event_id"), "op")
    }),

    // SCD Type-2 dimension history: per-user event_type state runs with
    // validity intervals — consecutive same-state rows collapsed, the run
    // opened by its (us, event_id) version, closed by the next run's
    // version (NULL while current). One window shuffle; integer/string
    // outputs only, so the oracle is hash-exact
    "q_events_scd2" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("event_type"))
      graft.operators.Changelog.scd2History(
        ev, Seq("user_id"), Seq("us", "event_id"), Seq("event_type"))
    }),

    // rolling z-score anomaly flags: each event vs the trailing-50 window
    // of its user's series, integer-exact ((n·x−S1)² > 9·(n·S2−S1²) on
    // ×1000 fixed-point values) so the flag is bit-identical cross-engine
    "q_events_anomaly" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("value"))
      graft.operators.Temporal.rollingAnomaly(
        ev, Seq("user_id"), Seq("us", "event_id"), "value",
        scale = 1000L, lookback = 50, z = 3L, minN = 10)
    }),

    // skew-salted join: semantics invariant to salting, so the oracle is
    // the PLAIN join — the salt is pure execution strategy
    "q_skew_salted_join" -> ((s, d) => {
      val li = load(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = ord(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"), saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
    }),

    // two-phase salted aggregation: fixed-point values make the re-ordered
    // partial sums EXACT, so the oracle is the plain GROUP BY
    "q_skew_salted_sum" -> ((s, d) => {
      val li = load(s, d, "lineitem")
        .select(col("l_returnflag"), round(col("l_quantity") * 100).cast("long").as("qty_cents"))
      graft.operators.Skew.saltedSum(li, Seq("l_returnflag"), "qty_cents", saltFactor = 16)
    }),

    // ---- LLM-pipeline extensions ----------------------------------------
    "q_text_stats" -> ((s, d) =>
      TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select("doc_id", "n_chars", "n_tokens", "mean_token_len",
          "punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio")),

    "q_text_fingerprint" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    "q_text_langid" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        col("lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang"))),

    "q_text_bpe" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.approxBpeTokenCount(col("text")).as("n_bpe_tokens"))),

    // Gopher-style repetition signals; duplicate lines are injected on a
    // third of the corpus so the line-dup path is actually exercised (the
    // synthetic docs are single-line)
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(
        docs(s, d).select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\nrepeat line\nrepeat line")))
            .otherwise(col("text")).as("text")),
        "text")
        .select("doc_id", "n_lines", "dup_line_ratio",
          "dup_2gram_ratio", "dup_3gram_ratio")),

    // corpus-level duplicated 5-token spans (distributed exact-substring
    // dedup signal); a duplicated passage is injected on a tenth of the
    // corpus so cross-document spans actually occur beyond natural repeats
    "q_text_dupspans" -> ((s, d) =>
      TextAnalysis.duplicatedWindowStats(
        docs(s, d).select(
          col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" this exact passage was pasted into many documents verbatim")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text", w = 5)
        .withColumnRenamed("doc", "doc_id")),

    // corpus-relative unigram surprisal (CCNet-style LM quality proxy)
    "q_text_unigram_ppl" -> ((s, d) =>
      TextAnalysis.unigramLogProbScore(docs(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")),

    // conditional (bigram) surprisal: word-transition predictability —
    // junk with a typical unigram mix still scores high here
    "q_text_bigram_ppl" -> ((s, d) =>
      TextAnalysis.bigramLogProbScore(docs(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")),

    // context-window chunking: 40-token chunks, 8-token overlap
    "q_text_chunks" -> ((s, d) =>
      TextAnalysis.chunkDocuments(docs(s, d), "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8)),

    // sequence packing of the 40-token chunks into 100-token bins
    // (next-fit in chunk order — the training-batch prep step)
    "q_text_pack" -> ((s, d) =>
      TextAnalysis.packChunks(
        TextAnalysis.chunkDocuments(docs(s, d), "doc_id", "text",
            chunkTokens = 40, overlapTokens = 8)
          .select("doc", "chunk_no", "n_chunk_tokens"),
        "doc", "chunk_no", "n_chunk_tokens", maxTokens = 100)
        .select("doc", "chunk_no", "bin")),

    // per-doc salient terms (integer-exact tf-idf skeleton)
    "q_text_topterms" -> ((s, d) =>
      TextAnalysis.topTerms(docs(s, d), "doc_id", "text", k = 5)),

    // corpus-level vocabulary head (global top-k terms, term tie-break)
    "q_text_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(docs(s, d), "text", k = 50)),

    // corpus-relative OOV-bigram quality score (CCNet-style LM filter,
    // integer-exact): fraction of char bigrams outside the corpus top-200
    "q_text_oov" -> ((s, d) =>
      TextAnalysis.oovBigramScore(docs(s, d), "doc_id", "text", vocabK = 200)),

    // TF-IDF ranked retrieval: top-25 docs for a 4-term query under the
    // scaled-integer idf (⌊N·10⁶/df⌋) — exact BIGINT scoring end to end
    "q_text_rank" -> ((s, d) =>
      TextAnalysis.rankByTerms(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25)),

    // Okapi BM25 top-25 for the same 4-term query as q_text_rank —
    // length-normalized, tf-saturating, every score an exact integer
    "q_text_bm25" -> ((s, d) =>
      TextAnalysis.bm25Rank(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25)),

    // end-to-end curation v2, composing the round's operators in ONE plan:
    // classifier gate (broadcast lexicon, in-row fold) → duplicated-span
    // removal over the GATED corpus (first-occurrence vote among survivors)
    // → exact dedup on the CLEANED text (min-id survivor; all-boilerplate
    // docs collapse to one empty-text canonical) → per-source doc/token
    // report
    "q_curate_full" -> ((s, d) => {
      import s.implicits._
      val dd = docs(s, d)
      val lexicon = Seq(
        ("fast", 3L), ("spark", 2L), ("merge", 1L), ("slow", -4L), ("big", -1L))
        .toDF("term", "weight")
      val keptIds = TextAnalysis.linearScore(dd, "doc_id", "text", lexicon)
        .filter(col("keep")).select(col("doc").as("doc_id"))
      val gated = dd.join(keptIds, Seq("doc_id"), "left_semi")
      val cleaned = Dedup.dropDuplicatedSpans(gated, "doc_id", "text", w = 5, minCount = 2)
        .withColumnRenamed("doc", "doc_id")
      Dedup.dropExactDuplicates(cleaned, "doc_id", Seq("clean_text"))
        .join(dd.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens_kept")).as("n_tokens"))
    }),

    // retrieve-then-rerank (the RAG shape): BM25 top-25 lexical candidates,
    // re-scored by exact fixed-point cosine against a query embedding
    // (vec_id 0), final top-10 by (cosine DESC, doc). The rerank join
    // touches 25 rows — candidate generation is the only corpus-scale work
    "q_text_rerank" -> ((s, d) => {
      val cand = TextAnalysis.bm25Rank(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25)
      val q = 1e8
      val emb = embs(s, d).select(col("vec_id"),
        transform(col("embedding"), v => round(v.cast("double") * lit(q)).cast("long")).as("qa"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("qa").as("__qv"))
      cand.join(emb, cand("doc") === emb("vec_id"))
        .crossJoin(broadcast(qv))
        .select(col("doc"), col("score"),
          (graft.functions.VectorExpressions.longDot(col("qa"), col("__qv")).cast("double") /
            (sqrt(graft.functions.VectorExpressions.longDot(col("qa"), col("qa")).cast("double")) *
             sqrt(graft.functions.VectorExpressions.longDot(col("__qv"), col("__qv")).cast("double"))))
            .as("cosine"))
        .orderBy(col("cosine").desc, col("doc").asc)
        .limit(10)
    }),

    // model-based quality filter: integer "micro-logit" lexicon scored
    // in-row against the broadcast weights map — keep iff score >= 0
    "q_text_classify" -> ((s, d) => {
      import s.implicits._
      val lexicon = Seq(
        ("fast", 3L), ("spark", 2L), ("merge", 1L), ("slow", -4L), ("big", -1L))
        .toDF("term", "weight")
      TextAnalysis.linearScore(docs(s, d), "doc_id", "text", lexicon)
    }),

    // PII detection audit: per-doc match counts per class. Synthetic PII is
    // appended (the corpus contains none), with a second email on every
    // third doc so the counts actually vary
    "q_text_pii" -> ((s, d) =>
      TextAnalysis.piiStats(
        docs(s, d).select(
          col("doc_id"),
          concat(
            col("text"),
            lit(" Contact: user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."), (col("doc_id") % 250).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"),
            lit(" call +1-555-0123-4567 ref 987654321"),
            when(col("doc_id") % 3 === 0, lit(" cc admin@example.org"))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text")),

    // text cleaning: emails/URLs are appended so the masking path is
    // actually exercised (the synthetic corpus contains neither)
    "q_text_scrub" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.scrub(concat(
          col("text"),
          lit(" Contact: user"), col("doc_id").cast("string"),
          lit("@example.com   or https://example.org/d/"),
          col("doc_id").cast("string"), lit(" now"))).as("clean_text"))),

    // deterministic hash sampling: reproducible in ANY engine with sha256
    "q_sample_hash" -> ((s, d) =>
      Sampling.hashSample(
        docs(s, d).select("doc_id", "lang"), "doc_id",
        fraction = 0.25, salt = "demo", granularity = 1000)),

    // weighted deterministic corpus mix (per-source salted rates)
    "q_sample_mix" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      Sampling.mixCorpora(
        Seq(
          ("web", dd.filter(col("doc_id") % 2 === 0), 0.7),
          ("books", dd.filter(col("doc_id") % 2 =!= 0), 0.3)),
        "doc_id", granularity = 1000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // temperature-weighted domain mixing (α = ½): rates derived from the
    // observed lang counts — en (largest) keeps exactly 20%, the tail
    // languages keep up to √(nMax/n)× more; kept ROWS are returned so the
    // oracle pins exact membership (sqrt is correctly-rounded IEEE, so the
    // double threshold is engine-exact), not just per-domain counts
    "q_sample_temperature" -> ((s, d) =>
      Sampling.temperatureMix(
        docs(s, d).select("doc_id", "lang"), "doc_id", "lang",
        Sampling.Temperature.Sqrt, largestRate = 0.2, salt = "tmix")),

    // declarative constraint suite over orders — one aggregation pass for
    // all six checks; o_custkey uniqueness FAILS by design (customers
    // repeat), the totalprice range check tolerates 100k ppm
    "q_check_constraints" -> ((s, d) => {
      import graft.core.Checks._
      graft.core.Checks.validate(s, ord(s, d), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        Unique(Seq("o_custkey")),
        InRange("o_totalprice", 0.0, 300000.0, maxViolationPpm = 100000L),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        MinRows(1000L)))
    }),

    // epoch-aware mixture: src0 runs 2.4 epochs (2 full + a 40% extra
    // slice), src1 half an epoch, src2 exactly one; the other 17 sources
    // are dropped (a mixture is an explicit contract)
    "q_sample_epochs" -> ((s, d) =>
      Sampling.epochMix(docs(s, d).select("doc_id", "source"), "doc_id", "source",
        Map("src0" -> 2.4, "src1" -> 0.5, "src2" -> 1.0), salt = "mix8")),

    // deterministic train/val/test split: per-split counts
    "q_sample_split" -> ((s, d) =>
      Sampling.hashSplit(
          docs(s, d).select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = "split", granularity = 1000)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"))),

    // deterministic k-per-group sample: a stable 3-doc eval slice per lang
    "q_sample_group" -> ((s, d) =>
      Sampling.groupSample(
        docs(s, d).select("doc_id", "lang"), "lang", "doc_id", k = 3, salt = "eval")),

    // weight-proportional sampling: keep docs at fraction·n_chars/1000
    // (quality/length-weighted corpus draw), summarized per language
    "q_sample_weighted" -> ((s, d) =>
      Sampling.weightedSample(
          docs(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", fraction = 0.2, refWeight = 1000,
          salt = "wsamp", granularity = 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),

    // per-source corpus health report over a corpus with an injected
    // mirror source (every 10th doc replicated under 'srcX'), so the
    // cross-source duplication signal actually fires
    "q_source_report" -> ((s, d) => {
      val dd = docs(s, d)
      Curation.sourceReport(
        dd.unionAll(dd.filter(col("doc_id") % 10 === 0).withColumn("source", lit("srcX"))),
        "source", "text", "lang")
    }),

    // end-to-end curation: quality gates + fingerprint dedup + lang tag
    // over a corpus perturbed with exact dups (survive as min-id) and
    // junk rows (fail the quality gates)
    "q_curate" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      // doc_id < 100000 keeps the synthetic +100000/+200000 copies disjoint
      // from real ids at every GenScale stride (see q_dedup_canonical)
      val dups = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      val junk = dd.filter(col("doc_id") % 7 === 0 && col("doc_id") < 100000L)
        .withColumn("doc_id", col("doc_id") + lit(200000L))
        .withColumn("text", upper(substring(col("text"), 1, 15)))
      Curation.curate(dd.unionByName(dups).unionByName(junk), "doc_id", "text")
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // winsorization outlier gate: per-language [p05, p95] document-length
    // band; exact quantiles for the oracle (approx_percentile is the
    // bounded-state 100 TB default)
    "q_curate_qgate" -> ((s, d) =>
      Curation.quantileGate(
          docs(s, d).select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"), loQ = 0.05, hiQ = 0.95, exact = true)
        .select("doc_id", "lang", "n_chars")),

    // unit-length embedding normalization (bit-reproducible doubles),
    // exploded to scalar rows (vec_id, pos, unit_v) so the cross-engine
    // comparator checks every component individually
    "q_sim_normalize" -> ((s, d) =>
      embs(s, d).select(
        col("vec_id"),
        posexplode(Similarity.l2Normalize(col("embedding"))).as(Seq("pos", "unit_v")))),

    "q_dedup_exact" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.exactDuplicateGroups(
        dd.union(dd.filter(col("doc_id") % 10 === 0)), "doc_id", Seq("text"))
        .select("keep_id", "n_copies")
    }),

    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(docs(s, d), "doc_id", "text", "lang", threshold = 0.8)),

    // excerpt detection: every 25th doc contributes a 40%-prefix excerpt
    // (+400000) whose shingles are a near-subset of its parent's —
    // containment ≈ 1 while symmetric jaccard sits near 0.4, below any
    // dedup threshold. DIV keeps the truncation length integer-exact on
    // both engines (DuckDB CAST(double AS INT) rounds; Spark truncates).
    "q_dedup_containment" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang", "n_chars")
      val excerpts = dd.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(400000L)).as("doc_id"),
          expr("substring(text, 1, CAST(n_chars * 2 DIV 5 AS INT))").as("text"),
          col("lang"))
      Dedup.containmentPairs(
        dd.select("doc_id", "text", "lang").unionByName(excerpts),
        "doc_id", "text", "lang", threshold = 0.9)
    }),

    // cross-dataset record linkage: A = even docs, B = odd docs plus a
    // lightly-perturbed copy (+700000, four appended words) of every 10th
    // doc — the planted A↔B matches must link; A–A/B–B pairs never emit
    "q_link_records" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val a = dd.filter(col("doc_id") % 2 === 0)
      val b = dd.filter(col("doc_id") % 2 =!= 0).unionByName(
        dd.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(700000L)).as("doc_id"),
          concat(col("text"), lit(" extra trailing words appended")).as("text"),
          col("lang")))
      Dedup.linkPairs(a, b, "doc_id", "text", "lang", threshold = 0.7)
    }),

    // entity resolution end-to-end: the q_link_records match pairs feed
    // connected components, assigning every linked record (both frames)
    // its cluster's min-id as the master id — the survivorship mapping a
    // downstream MERGE consumes
    "q_link_resolve" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val a = dd.filter(col("doc_id") % 2 === 0)
      val b = dd.filter(col("doc_id") % 2 =!= 0).unionByName(
        dd.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(700000L)).as("doc_id"),
          concat(col("text"), lit(" extra trailing words appended")).as("text"),
          col("lang")))
      val pairs = Dedup.linkPairs(a, b, "doc_id", "text", "lang", threshold = 0.7)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select(col("node").as("record_id"), col("component").as("master_id"))
    }),

    // two-stage fuzzy dedup: permissive jaccard candidates (0.5), each
    // confirmed in-row by Levenshtein <= 100 on the full texts — the DP
    // cost is paid per candidate pair, never per N²
    "q_dedup_edit_verify" -> ((s, d) =>
      Dedup.editVerifiedPairs(docs(s, d), "doc_id", "text", "lang",
        candidateThreshold = 0.5, maxEdits = 100)),

    // benchmark decontamination: every 50th doc is the "eval suite"; the
    // training side is the rest plus leaked eval copies (+300000) that a
    // crawl would have picked up — the leak must be dropped, survivors kept
    "q_dedup_decontaminate" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val eval = dd.filter(col("doc_id") % 50 === 0)
      val train = dd.filter(col("doc_id") % 50 =!= 0)
        .unionByName(eval.withColumn("doc_id", col("doc_id") + lit(300000L)))
      Dedup.decontaminate(train, "doc_id", "text", eval, "text", minSharedShingles = 5)
        .select("doc_id", "lang")
    }),

    // pair graph → transitive clusters: corpus augmented with an exact copy
    // (+100000) and a suffix-perturbed copy (+200000) of every 10th doc, so
    // original–copyA–copyB chains form; components group them and the
    // component id is the min-id survivor
    "q_dedup_components" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      // doc_id < 100000: offsets must not entangle (see q_dedup_canonical)
      val tenth = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
      val cpyA = tenth.withColumn("doc_id", col("doc_id") + lit(100000L))
      val cpyB = tenth.withColumn("doc_id", col("doc_id") + lit(200000L))
        .withColumn("text", concat(col("text"), lit(" zz11 zz22 zz33")))
      val pairs = Dedup.jaccardPairs(
        dd.unionByName(cpyA).unionByName(cpyB), "doc_id", "text", "lang", threshold = 0.8)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy("component").agg(count(lit(1)).as("n_members"))
    }),

    // leakage-safe split: near-dup clusters (star pairs hub → hub+100k,
    // hub+200k over an augmented corpus) land whole in one split — the
    // contamination guard a per-doc hash split cannot give
    "q_sample_leakage" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "lang")
      // doc_id < 100000: offsets must not entangle (see q_dedup_canonical)
      val tenth = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
      val aug = dd
        .unionByName(tenth.withColumn("doc_id", col("doc_id") + lit(100000L)))
        .unionByName(tenth.withColumn("doc_id", col("doc_id") + lit(200000L)))
      val pairs = tenth
        .select(col("doc_id").as("doc_a"), (col("doc_id") + lit(100000L)).as("doc_b"))
        .unionByName(tenth
          .select(col("doc_id").as("doc_a"), (col("doc_id") + lit(200000L)).as("doc_b")))
      Sampling.leakageSafeSplit(aug, "doc_id", pairs, "doc_a", "doc_b",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        salt = "lk", granularity = 1000)
    }),

    // incremental ingest dedup: docs with doc_id % 3 != 0 are the "seen"
    // corpus (by fingerprint); the anti-join keeps only genuinely new text
    "q_dedup_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val seen = dd.filter(col("doc_id") % 3 =!= 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      Dedup.dropSeenDocuments(dd, "text", seen).select("doc_id", "lang")
    }),

    // corpus-level exact line dedup (the C4/RefinedWeb boilerplate pass):
    // the synthetic docs are single-line, so each doc is wrapped with two
    // shared boilerplate lines (dedupable — only the min-doc_id document
    // keeps each) plus a short footer (< minChars — always survives)
    "q_dedup_lines" -> ((s, d) => {
      val fixture = docs(s, d).select(
        col("doc_id"),
        concat_ws("\n",
          lit("Subscribe to our newsletter today for updates and member offers!"),
          col("text"),
          lit("(c) Example Corp"),
          lit("All rights reserved worldwide - see the site terms of use."))
          .as("text"))
      Dedup.dropRepeatedLines(fixture, "doc_id", "text", minChars = 30)
    }),

    // duplicated-SPAN removal (exact-substring dedup): every 3rd doc gets
    // an 8-token footer — its 4 interior 5-token windows repeat across
    // docs, so the whole footer vanishes everywhere but the first (min
    // doc_id) occurrence; boundary windows (original text + footer start)
    // are unique per doc and keep their tokens
    "q_text_despans" -> ((s, d) => {
      val fixture = docs(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" subscribe now for updates delivered straight to you")))
          .otherwise(col("text")).as("text"))
      Dedup.dropDuplicatedSpans(fixture, "doc_id", "text", w = 5, minCount = 2)
    }),

    // 48 hashes / 16 bands (3 rows per band): P[candidate | j=0.8] ≈ 0.99999,
    // and the exact-Jaccard verify step removes all false positives — so the
    // output equals the full brute-force pair set (the oracle) at any recall
    // the banding actually achieves; banding only risks MISSING pairs, which
    // the oracle comparison would catch.
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashNearDuplicates(docs(s, d), "doc_id", "text", threshold = 0.8,
        numHashes = 48, bands = 16)),

    // incremental ingest near-dup: history = non-%7 docs behind a
    // PERSISTABLE band-bucket index; the new batch (every 7th doc plus
    // verbatim history leaks at +800000) links against the store only.
    // 48/16 banding reaches full recall at 0.8 (see q_dedup_minhash), so
    // the brute-force cross-side oracle matches exactly.
    "q_dedup_minhash_incr" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text")
      val hist = dd.filter(col("doc_id") % 7 =!= 0)
      val newBatch = dd.filter(col("doc_id") % 7 === 0)
        .unionByName(dd.filter(col("doc_id") % 35 === 1)
          .select((col("doc_id") + lit(800000L)).as("doc_id"), col("text")))
      // the STAMPED index builder (meta columns ride along), so this row
      // also exercises the in-plan parameter-drift guard on every verify
      val store = Dedup.minhashIndex(hist, "doc_id", "text",
        numHashes = 48, bands = 16)
      Dedup.incrementalMinhashLinks(newBatch, "doc_id", "text", store, hist,
        threshold = 0.8, numHashes = 48, bands = 16,
        tokenizerId = Some("shingles3"))
    }),

    // sha-derived token hash (cross-engine reproducible) + 4-segment
    // multi-probe: recall is EXACT for hamming ≤ 3, so the DuckDB oracle
    // replicates the full algorithm closed-form (bit votes → segment
    // blocks → hamming join).
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDuplicates(docs(s, d), "doc_id", "text",
        tokenHash = TextAnalysis.shaHash64)),

    "q_sim_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3)),

    // sha-derived plane weights make the bucket assignment reproducible in
    // DuckDB, so the oracle replicates the WHOLE ANN pipeline (projections →
    // buckets → candidate join → exact quantized scoring → top-k) rather
    // than settling for a rows-only check. Production callers keep the
    // xxhash64 default weights (faster, same structure).
    "q_sim_lsh_topk" -> ((s, d) =>
      Similarity.lshBucketedTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight)),

    // IVF cluster-pruning configuration (iters = 0, sha pivot hash): pivot
    // selection, cell assignment, probing and scoring are all exact integer
    // math on the quantized arrays, so DuckDB replicates the whole pipeline
    // (pivot sample → argmax cell → nprobe probes → candidate join → exact
    // cosine top-k). Production callers use the Lloyd-refined default.
    "q_sim_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        nlist = 16, nprobe = 4, iters = 0, pivotHash = Similarity.shaPivotHash)),

    // product-quantized ADC top-k at iters = 0 with the sha pivot hash:
    // codebook seeding, encoding argmins, LUT partial dots and the
    // reconstructed-norm cosine are all integer-exact and replicated in
    // the DuckDB oracle. Production callers use Lloyd-refined codebooks
    // (iters > 0) and compose with ivfTopK for candidate pruning.
    "q_sim_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        m = 4, ncode = 16, iters = 0, pivotHash = Similarity.shaPivotHash)),

    // the COMPOSED standard layout: IVF cells prune candidates (nprobe=4 of
    // 16), PQ-ADC scores only the survivors (m=4 LUT lookups per pair),
    // exact fixed-point re-rank over the 2k ADC winners. iters=0 + sha
    // pivot hash keeps every stage integer-exact, so the DuckDB oracle
    // replicates the full three-stage pipeline
    "q_sim_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfPqTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        nlist = 16, nprobe = 4, m = 4, ncode = 16, iters = 0, refine = 2,
        pivotHash = Similarity.shaPivotHash)),

    // catalog-level ANN RECALL row: per query (20 of them), how many of
    // the exact brute-force top-3 the composed IVF-PQ pipeline recovered —
    // the recall-vs-latency observable of the round-9 recall sweep, in the
    // oracle-checked catalog, so a banding/probing regression shows up as
    // a hash mismatch, not a silent recall drop. Operating point chosen by
    // a parameter sweep on this corpus: nprobe 8/16 cells, m = 16 (4-dim
    // subspaces — these embeddings are near-uniform, so coarser PQ is
    // ADC-noise), refine 16 → 45/60 hits (75%); the q_sim_ivfpq_topk
    // demo point (nprobe 4, m 4, refine 2) sits at 10%. Both sides are
    // integer-exact (sha pivots, iters = 0), so DuckDB replays ann AND
    // brute and the hit counts match bit-for-bit.
    "q_sim_recall" -> ((s, d) => {
      val e = embs(s, d)
      val q = col("vec_id") < 20
      val ann = Similarity.ivfPqTopK(e, "vec_id", "embedding", q, k = 3,
          nlist = 16, nprobe = 8, m = 16, ncode = 16, iters = 0, refine = 16,
          pivotHash = Similarity.shaPivotHash)
        .select(col("query_id"), col("cand_id"), lit(1).as("__hit"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, k = 3)
        .select("query_id", "cand_id")
        .join(ann, Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(count(col("__hit")).as("hits"))
        .withColumn("k", lit(3L))
    }),

    // targetChunkSize 25 exercises the triangle sub-chunking at test scale
    // (sf0.1's 200-row label blocks split into 8 chunks → 36 pair-tasks per
    // block instead of ONE task per label); the output is identical at any
    // chunk size, so the oracle is chunking-agnostic.
    "q_dedup_embedding" -> ((s, d) =>
      Similarity.embeddingNearDuplicates(embs(s, d), "vec_id", "embedding", "label",
        threshold = 0.35, targetChunkSize = 25)),

    // The 100 TB usage of embedding near-dup: no caller-chosen block —
    // multi-table LSH buckets (8 planes × 4 tables) generate candidates,
    // so candidate cost is Σ bucket² per table instead of N²/L within
    // coarse label blocks. 8 planes = 256 buckets/table keeps expected
    // bucket size O(N/256); the earlier 4-plane demo had a CONSTANT 16
    // buckets per table, i.e. O(N²/16) candidates — nearly all-pairs.
    // sha weights keep the whole pipeline replicable in the DuckDB oracle
    // (which recomputes the same buckets at any plane count); production
    // callers use the xxhash64 default (16 planes × 8 tables).
    "q_dedup_embedding_lsh" -> ((s, d) =>
      Similarity.lshNearDuplicates(embs(s, d), "vec_id", "embedding", threshold = 0.35,
        numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight)),

    // semantic decontamination: every 20th embedding row is the "eval
    // suite"; the corpus is the rest plus leaked verbatim eval copies
    // (+500000) — copies bucket with their eval twin in every table
    // (cosine ≈ 1.0), so they MUST drop; real corpus rows above 0.35
    // cosine to any eval row drop too, all replicated by the oracle.
    "q_dedup_semantic" -> ((s, d) => {
      val ee = embs(s, d).select("vec_id", "embedding", "label")
      val eval = ee.filter(col("vec_id") % 20 === 0)
      val corpus = ee.filter(col("vec_id") % 20 =!= 0)
        .unionByName(eval.withColumn("vec_id", col("vec_id") + lit(500000L)))
      Similarity.semanticDecontaminate(corpus, "vec_id", "embedding",
          eval, "vec_id", "embedding", threshold = 0.35,
          numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight)
        .select("vec_id", "label")
    }),

    "q_multimodal_bytes" -> ((s, d) =>
      Multimodal.attachPayload(docs(s, d), "doc_id", "text")
        .select(
          col("media_id"),
          col("meta.n_bytes").as("n_bytes"),
          sha2(col("payload"), 256).as("payload_sha"))),

    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(s, Multimodal.attachPayload(docs(s, d), "doc_id", "text"))
        .toDF()
        .select("media_id", "width", "height", "channels", "n_bytes")),

    // video-shaped frame sampling through the multimodal plumbing: the
    // deterministic metadata-derived frame count explodes into stride-3
    // frame indices (a real pipeline emits frame payloads in this shape)
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.attachPayload(docs(s, d), "doc_id", "text"), stride = 3)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"))),

    // REAL codec through the gate: deterministic constant-gray PNGs are
    // encoded AND decoded by javax.imageio inside the query, so the oracle
    // (which computes the same dims/luma closed-form from the id) checks the
    // actual encode→header-parse→pixel-decode round trip — a wrong width,
    // channel count, or luma integration breaks the hash. Ids % 50 == 0
    // carry a truncated payload (PNG magic, no IHDR) and must degrade to
    // (0,0,0)/zeros, pinning the corrupt-payload contract end-to-end.
    "q_multimodal_real_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticPngs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.ImageIoCodec)
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          element_at(col("features"), 1).as("band_luma"))),

    // Real AUDIO codec through the gate, same scheme as real_decode: the
    // query writes a constant-amplitude mono 16-bit WAV per id and decodes
    // it back through javax.sound — frames/rate/channels from the header
    // parse, RMS from the PCM decode — all closed-form in the id (RMS is
    // |v|/32768, exact in float). Ids % 50 == 0 carry a truncated RIFF
    // header and must degrade to zeros.
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticWavs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.WavCodec)
        .toDF()
        .select(
          col("media_id"),
          col("width").as("n_frames"),
          col("height").as("sample_rate"),
          col("channels"),
          element_at(col("features"), 1).as("rms"))),

    // Real VIDEO decode through the gate, same scheme: each id's payload
    // is an actual MJPEG elementary stream (n = id%4+1 constant-gray JPEG
    // frames of (id%28+8)×(id%20+8)) decoded back by the pure-JDK
    // MjpegVideoCodec — frame splitting walks the real JPEG segment
    // structure, dims come from the first frame's header parse — so
    // width/height/frame count are closed-form in the id (the segment walk
    // is lossless even though JPEG pixels are not). Ids % 50 == 0 carry a
    // truncated stream (SOI + APP0 fragment, no complete frame) and must
    // degrade to (0,0,0). The dims triple reads (width, height, nFrames)
    // for video, per the codec contract.
    "q_multimodal_video" -> ((s, d) =>
      Multimodal.decodeFeatures(
          s, Multimodal.syntheticMjpegs(s, docs(s, d), "doc_id"),
          featureDim = 1, codec = Multimodal.MjpegVideoCodec)
        .toDF()
        .select(
          col("media_id"), col("width"), col("height"),
          col("channels").as("n_frames"))),

    // trailing-7-day exact distinct users per active day (rolling WAU):
    // distinct (day, user) pairs vote into the windows they serve — no
    // windowed COUNT(DISTINCT), which Spark (and SQL) cannot plan natively
    "q_events_rolling" -> ((s, d) =>
      graft.operators.Temporal.rollingDistinct(
          graft.sources.Events.load(s, d), "ts", "user_id", days = 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_active"))),

    // retention triangle: cohort users by first active day, count distinct
    // users per (cohort, day-offset) — one user-keyed collect_set
    // aggregation, cohort = array_min of the set, no self-join
    "q_events_retention" -> ((s, d) =>
      graft.operators.Temporal.retentionCohorts(
        graft.sources.Events.load(s, d), "user_id", "ts_ns",
        bucketNs = 86400000000000L)),

    // Streaming-equivalent windowed aggregation (same plan shape the
    // streaming job runs; batch here so the oracle can check it)
    "q_events_window" -> ((s, d) =>
      graft.sources.Events.load(s, d)
        .groupBy(
          expr("ts_ns div 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))),

    // Time-series gap-fill: per-user hourly counts with missing hours
    // zero-filled across each user's [first, last] active span. NO
    // span-join: after the per-(user, hour) aggregate, one window pass
    // finds each row's predecessor hour and explodes only the gap bins
    // owed by that row — generated rows are proportional to the gaps,
    // never a dense user × global-timeline cross product. Raw events
    // cross ONE exchange (with map-side combine); the window's re-key
    // shuffles only the already-aggregated (user, hour) frame.
    "q_events_gapfill" -> ((s, d) => {
      val perHour = graft.sources.Events.load(s, d)
        .groupBy(col("user_id"), expr("ts_ns div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("user_id").orderBy("hr")
      perHour
        .withColumn("prev_hr", lag(col("hr"), 1).over(w))
        .select(
          col("user_id"), col("hr"), col("n_events"),
          explode(sequence(coalesce(col("prev_hr") + 1, col("hr")), col("hr")))
            .as("hour_bucket"))
        .select(
          col("user_id"),
          col("hour_bucket"),
          when(col("hour_bucket") === col("hr"), col("n_events"))
            .otherwise(lit(0L)).as("n_events"))
    }),

    // Batch twin of the streaming session-window operator (8 h gap):
    // the oracle rebuilds the same sessions with a lag/cumsum gap split,
    // which doubles as a semantic pin of session_window's strict-< merge
    // rule. Fixed-point value sums keep it order-independent.
    "q_events_sessions" -> ((s, d) =>
      graft.streaming.StreamingOps
        .sessionWindows(graft.sources.Events.load(s, d), "8 hours")
        .select(
          col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("total_value"))),

    // TRUE STREAMING execution of StreamingOps.windowedStats, oracle-checked:
    // the events fixture is written as 4 range-partitioned files, a FILE
    // SOURCE replays them one per micro-batch (maxFilesPerTrigger=1) through
    // the streaming state store, and Trigger.AvailableNow drains the backlog
    // into a complete-mode memory sink — so the hashed result went through
    // real micro-batch incremental aggregation, not a batch plan. `value`
    // is pre-quantized to micros (long) so the windowed sums are exact
    // integers — bit-stable no matter how the micro-batches slice the data.
    // Lateness is set beyond the fixture's 30-day span: file order across
    // batches is not guaranteed, and a dropped "late" batch would make the
    // result depend on listing order (watermark EVICTION is covered by
    // StreamingSpec; this row pins cross-batch state accumulation).
    "q_stream_windowed" -> ((s, d) => withStreamingConfs(s, 8) { ss =>
      val work = java.nio.file.Files.createTempDirectory("graft-stream-win").toString
      graft.sources.Events.load(ss, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          round(col("value") * 1e6).cast("long").as("value"))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(s"$work/src")
      val stream = ss.readStream
        .schema(ss.read.parquet(s"$work/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/src")
      val sink = s"stream_windowed_${streamSinkSeq.incrementAndGet()}"
      val q = graft.streaming.StreamingOps.windowedStats(stream, "1 hour", "90 days")
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.table(sink).select(
        unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"),
        col("total_value").as("total_value_micros"))
    }),

    // Streaming within-watermark dedup through a real PARQUET SINK: 10% of
    // events are re-injected as exact duplicate rows, the stream drops
    // re-seen event_ids (state keyed on event_id, never evicted here —
    // lateness exceeds the fixture span, making the result order-proof),
    // and the appended sink files are re-read for the hash. Duplicates are
    // byte-identical rows, so WHICH copy survives cannot change the output.
    "q_stream_dedup" -> ((s, d) => withStreamingConfs(s, 8) { ss =>
      val work = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
      val ev = graft.sources.Events.load(ss, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      ev.union(ev.filter(col("event_id") % 10 === 0))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(s"$work/src")
      val stream = ss.readStream
        .schema(ss.read.parquet(s"$work/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/src")
      val q = graft.streaming.StreamingOps.dedupEvents(stream, "90 days")
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.read.parquet(s"$work/out").select(
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    }),

    // TRUE STREAMING stream-stream interval join through a parquet sink:
    // the events fixture replays file-per-micro-batch and BOTH join sides
    // (purchases, views) branch from the stream, so every match went
    // through the symmetric join state store. Inner join + lateness beyond
    // the fixture span → no state eviction, every match emits exactly once
    // regardless of file listing order (eviction semantics are covered in
    // StreamingSpec; this row pins cross-batch match accumulation).
    // Bench note: the slowest streaming row BY DESIGN — 4 micro-batches ×
    // (state-store load/commit per state partition × 2 sides) dominates,
    // and the deliberately-unbounded lateness keeps all state resident;
    // production watermarks bound state (the operator doc) and amortize
    // the per-batch constant over a continuous stream. The 8-partition
    // wrapper (see withShufflePartitions) sizes the state sharding to the
    // fixture instead of paying 32 stores' fixed cost per batch.
    "q_stream_join" -> ((s, d) => withStreamingConfs(s, 8) { ss =>
      val work = java.nio.file.Files.createTempDirectory("graft-stream-join").toString
      graft.sources.Events.load(ss, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(s"$work/src")
      val stream = ss.readStream
        .schema(ss.read.parquet(s"$work/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/src")
      val q = graft.streaming.StreamingOps.viewsBeforePurchase(stream, "4 hours", "90 days")
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.read.parquet(s"$work/out").select(
        col("purchase_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("v_ts")).as("v_us"),
        col("view_value"))
    }),

    // Continuous CDC upsert through upsertSink's foreachBatch merge: the
    // pre-cut snapshot materializes first, then the post-cut changelog
    // replays file-per-micro-batch and each batch MERGES into the parquet
    // snapshot (three-step swap, idempotent applyChangelog). The source
    // files are partitioned BY KEY (user_id hash), so every user's changes
    // land in exactly one micro-batch and the sequential wholesale-replace
    // merges commute — the final snapshot equals the ONE-SHOT changelog
    // application regardless of file listing order, which is why this row
    // shares q_events_changelog's oracle CTE. (Cross-batch ordering of one
    // key's changes — where merge order WOULD matter — is exactly what a
    // keyed CDC feed's partitioning contract rules out.)
    "q_stream_upsert" -> ((s, d) => withStreamingConfs(s, 8) { ss =>
      val work = java.nio.file.Files.createTempDirectory("graft-stream-upsert").toString
      val cut = lit(1705708800000000L) // 2024-01-20T00:00:00Z as epoch micros
      val ev = graft.sources.Events.load(ss, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("event_type"), col("value"))
      graft.operators.Changelog.latestByKey(
          ev.filter(col("us") < cut), Seq("user_id"), Seq("us", "event_id"))
        .write.mode("overwrite").parquet(s"$work/snap")
      ev.filter(col("us") >= cut)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .repartition(4, col("user_id"))
        .write.mode("overwrite").parquet(s"$work/src")
      val stream = ss.readStream
        .schema(ss.read.parquet(s"$work/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/src")
      val q = graft.streaming.StreamingOps.upsertSink(
        stream, s"$work/snap", s"$work/ckpt", Seq("user_id"), Seq("us", "event_id"), "op",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      graft.streaming.StreamingOps.readSnapshot(ss, s"$work/snap").get
        .select("user_id", "event_id", "us", "event_type", "value")
    }),

    // As-of join: every purchase gets the user's latest view value at or
    // before it (views pre-aggregated to unique (user, µs), the operator's
    // determinism requirement). Oracle = DuckDB's native ASOF LEFT JOIN.
    // binned range join: views landing in each purchase's 4-hour
    // lookback window (equi-join on (user, bin), never a per-key cross
    // product), aggregated per purchase; 1-hour bins → ≤ 5 explode rows
    // per interval
    "q_events_range" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("us") - lit(14400000000L)).as("w_start"), col("us").as("w_end"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us"), col("value"))
      Temporal.rangeJoin(views, purchases, Seq("user_id"),
          "us", "w_start", "w_end", binWidth = 3600000000L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_views"), max(col("value")).as("max_view_value"))
    }),

    // ordered funnel view → click → purchase within 48 h of the first view
    "q_events_funnel" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("us"))
      Temporal.funnel(ev, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"), maxSpan = 172800000000L)
        .agg(
          count(lit(1)).as("n_viewed"),
          count(col("t_click")).as("n_clicked"),
          count(col("t_purchase")).as("n_purchased"))
    }),

    "q_events_asof" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "us").agg(max(col("value")).as("view_value"))
      Temporal.asOfJoin(purchases, views, Seq("user_id"), "us", "us", Seq("view_value"))
        .select(col("event_id"), col("user_id"), col("us"),
          col("view_value_asof").as("view_value"), col("us_asof").as("view_us"))
    }),

    // asOfJoin TOLERANCE path: matches staler than 1 h (in µs) are nulled
    // out, rows kept — the semantics DuckDB ASOF can't state in its single
    // join inequality, replicated oracle-side as a post-join CASE
    "q_events_asof_tol" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "us").agg(max(col("value")).as("view_value"))
      Temporal.asOfJoin(purchases, views, Seq("user_id"), "us", "us", Seq("view_value"),
          tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"), col("us"),
          col("view_value_asof").as("view_value"), col("us_asof").as("view_us"))
    }),

    // integer-exact PageRank on the part co-occurrence graph: 3 power
    // iterations on a 10^12 grid, truncation IS the spec — the oracle
    // replays the identical iterations unrolled as SQL; top-20 centrality
    "q_graph_pagerank" -> ((s, d) =>
      graft.operators.Graphs.pageRank(partEdges(s, d), "pa", "pb", iters = 3)
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(20)),

    // convergence-gated PageRank: iterate until max |Δrank| ≤ 10% of the
    // base rank (exact integer stop rule — the top-k-ordering tolerance:
    // per-iteration delta decays ~11× on this graph, so ranks ordering
    // the top-20 are stable well before the grid converges), bounded at
    // 12 rounds. NOTHING pins the stopping round — the oracle unrolls all
    // 12 rounds, computes every round's delta, and dynamically selects the
    // first qualifying round, so the n_iters column proves both engines
    // stopped at the same round at ANY scale factor
    "q_graph_pagerank_tol" -> ((s, d) =>
      graft.operators.Graphs.pageRankConverged(partEdges(s, d), "pa", "pb",
          tolPpm = 100000L, maxIters = 12)._1
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(20)),

    // structural profile of the part co-occurrence graph (edges = distinct
    // part pairs sharing an order): degree-ordered oriented triangle count
    // — each triangle once, hub fan-out capped at O(√m) — vs the oracle's
    // brute-force 3-way self-join
    "q_graph_profile" -> ((s, d) =>
      graft.operators.Graphs.graphProfile(partEdges(s, d), "pa", "pb")),

    // integer-exact k-means over the embeddings (8 sha-sampled seeds, 2
    // Lloyd rounds on the 10⁸ quantization grid, floor-div centroid
    // means): per-cluster sizes, scaled inertia, centroid checksum — the
    // oracle replays the identical iterations unrolled as SQL
    "q_cluster_kmeans" -> ((s, d) =>
      graft.operators.Clustering.kmeans(embs(s, d), "vec_id", "embedding",
        k = 8, iters = 2)),

    // dense-heart extraction: the 80-core of the part co-occurrence graph
    // (simultaneous peeling to its order-independent fixpoint). The oracle
    // unrolls 8 peel rounds — ≥ the fixpoint depth at the checked scales
    // (3 at sf0.001, 5 at sf0.01); rounds past fixpoint are no-ops, so
    // the margin is free.
    // kCoreReleased: the managed lifecycle — heavy graph caches (|E| base
    // persist, |V| degree checkpoint) are released at construction; only
    // the small core-node result frame stays resident, so repeated
    // invocations in a long-lived session don't accumulate graph storage
    "q_graph_kcore" -> ((s, d) =>
      graft.operators.Graphs.kCoreReleased(partEdges(s, d), "pa", "pb", k = 80)),

    // link-based curation reach: min hop distance (≤ 3) from the size-1
    // parts to everything they co-occur with, level-synchronous frontier
    // expansion — the oracle replays the hops unrolled as SQL; seeds count
    // as hops 0 even when isolated, nodes beyond 3 hops are absent
    "q_graph_bfs" -> ((s, d) =>
      graft.operators.Graphs.bfsHops(partEdges(s, d), "pa", "pb",
        load(s, d, "part").filter(col("p_size") === 1), "p_partkey",
        maxHops = 3)),

    // association rules over order baskets: which parts co-occur in an
    // order beyond chance — 2-itemset A-priori pass with in-row pair
    // emission, exact ppm confidence/lift; oracle re-derives pairs via a
    // within-basket self-join (a different mechanism, same set)
    "q_assoc_rules" -> ((s, d) =>
      graft.operators.Association.pairRules(
        li(s, d), "l_orderkey", "l_partkey", minSupport = 2L)),

    // per-group least-squares trend: value drift over time per event_type
    // (x = epoch seconds, y = value micros) — exact grouped moments, one
    // aggregation, closed-form slope/intercept mirrored in the oracle
    "q_profile_trend" -> ((s, d) => {
      val ev = graft.sources.Events.load(s, d).select(
        col("event_type"),
        expr("ts_ns div 1000000000").as("sec"),
        col("value"))
      graft.core.Profiling.groupedTrend(
        ev, Seq("event_type"), "sec", "value", xScale = 1L, yScale = 1000000L)
    }),

    // pairwise Pearson correlation in ONE aggregation pass: cent-scaled
    // integer moment sums in DECIMAL(38,0), one double expression at the
    // end — the pre-training "which features are redundant" profile
    "q_profile_corr" -> ((s, d) =>
      graft.core.Profiling.correlationReport(
        li(s, d), Seq("l_quantity", "l_extendedprice", "l_discount"), scale = 100L)),

    // AUDIO near-dup dedup through the REAL PCM decoder: band WAVs whose
    // loud/quiet RMS pattern encodes the same id-derived mask scheme
    // (salt "afp"); decode → 64-band RMS fingerprint → the shared Hamming
    // probe; truncated payloads must be dropped
    "q_multimodal_audio_dedup" -> ((s, d) =>
      Multimodal.audioNearDupPairs(
          s, Multimodal.syntheticBandWavs(s, docs(s, d), "doc_id"), maxHamming = 3)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))),

    // IMAGE near-dup dedup through the REAL decoder: grid PNGs whose pixel
    // pattern encodes an id-derived 64-bit mask are decoded, aHashed, and
    // probed by the same Manku-style Hamming tables as text simhash — the
    // oracle re-derives every mask from id arithmetic and brute-forces the
    // pair set, so a wrong pixel decode, block mean, threshold, bit order,
    // or probe table breaks the hash; truncated payloads must be DROPPED
    "q_multimodal_image_dedup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(
          s, Multimodal.syntheticGridPngs(s, docs(s, d), "doc_id"), maxHamming = 3)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))),

    // token-budget corpus selection: best docs by score until 200k tokens —
    // the cumsum runs over DISTINCT scores (score-domain window, not a
    // corpus-wide sort) and only the boundary bucket ranks rows; the
    // oracle's naive global-order cumsum pins the semantics exactly
    "q_curate_budget" -> ((s, d) => {
      val dd = docs(s, d).filter(col("text").isNotNull).select(
        col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.selectTokenBudget(dd, "doc_id", "n_chars", "n_tokens", budget = 200000L)
        .select("doc_id", "n_chars", "n_tokens")
    }),

    // per-source document cap: at most 2000 events per type survive, as a
    // deterministic hash-ranked uniform sample — the slice/boundary split
    // means only the single boundary slice (~1/256th of an over-cap
    // source) ever sorts; the oracle's naive global row_number pins the
    // exact kept set, so a wrong slice cut or boundary rank breaks the hash
    "q_curate_source_cap" -> ((s, d) =>
      Curation.capPerSource(
        graft.sources.Events.load(s, d).select("event_id", "event_type", "value"),
        "event_type", "event_id", maxPerSource = 2000L, salt = "cap")),

    // per-source score calibration: within-source percent rank of n_chars
    // on the integer ppm grid, computed WITHOUT a per-source window (range
    // partition on (source, score, id) + tiny per-source base/count join);
    // one global ≥ 0.9 threshold then takes each source's own top decile —
    // the oracle's naive row_number window pins every ppm value
    "q_curate_calibrate" -> ((s, d) =>
      graft.operators.Curation.calibrateScores(
          docs(s, d).select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id")
        .filter(col("cal_ppm") >= 900000L)
        .select("doc_id", "source", "n_chars", "cal_ppm")),

    // winsorized robust stats: discrete rank-quantile clip bounds on the
    // cents grid (integer ceil-division ranks — n·0.05 in doubles can ceil
    // one rank high), exact integer sums, one double division at the end
    "q_events_winsorize" -> ((s, d) =>
      graft.core.Profiling.winsorizedStats(
        graft.sources.Events.load(s, d).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", "event_id", loPct = 5, hiPct = 95)),

    // approximate functional-dependency discovery: is lhs a key for rhs —
    // one two-level hash aggregation per candidate pair, integer-ppm
    // confidence; o_orderkey→o_custkey is exact (PK), the others are not
    "q_profile_fds" -> ((s, d) =>
      graft.core.Profiling.functionalDependencies(ord(s, d), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderstatus"),
        ("o_orderpriority", "o_orderstatus")))),

    // cluster canonicalization by QUALITY: chains base — shortened copy —
    // extended copy, quality = text length; the EXTENDED copy (max id,
    // longest text) must win its component, proving the argmax is real
    // selection, not dropNearDuplicates' min-id shortcut
    // doc_id < 100000 keeps the +100000/+200000 synthetic copies disjoint
    // from real ids at every GenScale replication factor (scale strides
    // doc_id upward), so the closed-form oracle labeling holds at any sf
    "q_dedup_canonical" -> ((s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull &&
          col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .select("doc_id", "text")
      val aug = base
        .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"),
          substring(col("text"), 1, 50).as("text")))
        .unionByName(base.select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" extra extra pad")).as("text")))
        .withColumn("q", length(col("text")).cast("long"))
      val pairs = base
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 100000L).as("doc_b"))
        .unionByName(base
          .select((col("doc_id") + 100000L).as("doc_a"), (col("doc_id") + 200000L).as("doc_b")))
      Dedup.canonicalizeClusters(aug, "doc_id", "q", pairs)
    }),

    // incremental component maintenance: history = chain (id)-(id+100000),
    // batch = bridge (id+100000)-(id+200000) + brand-new pair
    // (id+300000)-(id+400000); the contracted graph sees only batch
    // endpoints, history is relabeled by one bounded join — final
    // components are closed-form in id arithmetic for the oracle
    "q_dedup_components_incr" -> ((s, d) => {
      // doc_id < 100000: see q_dedup_canonical — offsets must not entangle
      // with real ids when GenScale strides doc_id past the offset base
      val ids = docs(s, d)
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .select("doc_id")
      val oldPairs = ids
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 100000L).as("doc_b"))
      val batch = ids
        .select((col("doc_id") + 100000L).as("doc_a"), (col("doc_id") + 200000L).as("doc_b"))
        .unionByName(ids.select((col("doc_id") + 300000L).as("doc_a"),
          (col("doc_id") + 400000L).as("doc_b")))
      Dedup.incrementalComponents(
        Dedup.connectedComponents(oldPairs, "doc_a", "doc_b"), batch)
    }),

    // equi-depth histogram: 8 rank-quantile bins over totalprice cents —
    // the window runs over the distinct-value DOMAIN (value resolution),
    // never the corpus; pure integer bin assignment, values never split
    "q_profile_eqdepth" -> ((s, d) =>
      graft.core.Profiling.equiDepthHistogram(
        ord(s, d).select(round(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents", nBins = 8)),

    // schema-drift union: an int-keyed float-priced "old writer" variant and
    // a statusful "new writer" variant consolidate into one frame — ints
    // widen to bigint, float to double, absent columns become typed NULLs;
    // pure projections over unionByName, no shuffle
    "q_union_evolve" -> ((s, d) => {
      val o = ord(s, d)
      val v1 = o.select(
        col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").cast("float").as("o_totalprice"))
      val v2 = o.select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      graft.operators.SchemaEvolution.unionWithEvolution(Seq(v1, v2))
    }),

    // Unicode canonicalization for dedup: NFC + lower + whitespace collapse
    // through the codegen'd unicode_normalize expression. The corpus is
    // ASCII, so a decomposed-accent suffix ("CAFE" + U+0301) is appended
    // in-query: both engines must compose it to "café" or the hash breaks
    "q_text_canonical" -> ((s, d) =>
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.canonicalText(
            concat(col("text"), lit(" CAFE\u0301 NAI\u0308VE"))).as("canon"))),

    // markup stripping over synthesized crawl HTML: the page is BUILT from
    // the row (title from id, style block, a script on every 3rd doc,
    // entity-laden footer incl. the double-decode trap &amp;lt;) so both
    // engines construct the identical input, and the stripped text must
    // hash byte-for-byte — a wrong pattern, replacement, flag, or decode
    // order breaks it; the oracle SQL is GENERATED from the same chain
    "q_text_markup" -> ((s, d) => {
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head>" +
          "<body onload=\"init()\"><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
          .otherwise(lit("")),
        lit("<!-- footer --><p>a&nbsp;b &lt;tag&gt; &quot;q&quot; " +
          "&#39;s&#39; T&amp;C &amp;lt;</p></body></html>"))
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.stripMarkup(html).as("clean"))
    }),

    // per-group top-k WITHOUT a window sort: bounded-heap aggregate
    // (LongTopK) with map-side partials — the oracle's naive global
    // row_number pins both the kept set and the (ord DESC, id ASC) ranks
    "q_group_topk" -> ((s, d) =>
      graft.operators.TopK.groupTopK(
        graft.sources.Events.load(s, d)
          .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"),
            col("event_id")),
        Seq("event_type"), "cents", "event_id", k = 10)),

    // deterministic contrastive negatives: 3 hash-ring rotations give every
    // doc exactly 3 negatives AND exactly 3 appearances as a negative —
    // reproducible under retry (no rand()), self-pairs impossible; the
    // oracle re-derives ring ranks and offsets from the same sha recipe
    "q_sample_negatives" -> ((s, d) =>
      Sampling.negativeSample(docs(s, d), "doc_id", k = 3)),

    // skip-gram PMI collocations: window-2 directed co-occurrence counts
    // scored against unigram frequencies in per-term micro-bit logs (exact
    // BIGINT composition — no multi-term float sum). The oracle extracts
    // pairs via a position self-join instead of the in-row zip_with, so a
    // green row pins the pair extraction itself, not just the scoring.
    "q_text_pmi" -> ((s, d) =>
      TextAnalysis.pmiPairs(docs(s, d), "text", window = 2, minCount = 5)),

    // interval union (gaps-and-islands): each event claims a 2-hour
    // activity interval, merged per user into maximal disjoint spans —
    // containment chains collapse via the running-max rule a naive
    // lag(end) split would break
    "q_events_intervals" -> ((s, d) => {
      val iv = graft.sources.Events.load(s, d).select(
        col("user_id"),
        expr("ts_ns div 1000").as("st"),
        (expr("ts_ns div 1000") + 7200000000L).as("en"))
      Temporal.mergeIntervals(iv, Seq("user_id"), "st", "en")
        .select(col("user_id"), col("span_start").as("span_start_us"),
          col("span_end").as("span_end_us"), col("n_intervals"))
    }),

    // the complement: uncovered holes between each user's merged spans
    "q_events_gaps" -> ((s, d) => {
      val iv = graft.sources.Events.load(s, d).select(
        col("user_id"),
        expr("ts_ns div 1000").as("st"),
        (expr("ts_ns div 1000") + 7200000000L).as("en"))
      Temporal.intervalGaps(iv, Seq("user_id"), "st", "en")
        .select(col("user_id"), col("gap_start").as("gap_start_us"),
          col("gap_end").as("gap_end_us"))
    }),

    // mergeable deterministic HLL: monthly register partials folded
    // register-wise (max rho) to the per-status sketch, estimated in exact
    // integer arithmetic with the precomputed linear-counting table. The
    // oracle rebuilds the registers straight from the raw rows — the merge
    // law (max is associative) makes partial-then-merge ≡ one-shot — via
    // SQL fragments generated by the SAME Sketches constants the operator
    // uses. exact_distinct joined in so the row itself shows the error.
    "q_sketch_hll" -> ((s, d) => {
      val o = ord(s, d).select(
        col("o_orderstatus"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("bucket"),
        col("o_custkey"))
      val partials = Sketches.hllPartial(o, Seq("o_orderstatus", "bucket"), "o_custkey")
      val est = Sketches.hllEstimate(
        Sketches.hllMerge(partials, Seq("o_orderstatus")), Seq("o_orderstatus"))
      val exact = ord(s, d).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      est.join(broadcast(exact), Seq("o_orderstatus"))
    }),

    // union-KMV corpus overlap: Jaccard between the 'F' and 'O' customer
    // sets from the 128 smallest union hashes (one bounded TakeOrdered, no
    // distinct-set materialization) — exact jaccard joined in (1×1
    // broadcast) so the estimate's error is visible in the row
    "q_sketch_kmv_overlap" -> ((s, d) => {
      val f = ord(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
      val o = ord(s, d).filter(col("o_orderstatus") === "O").select("o_custkey")
      val exact = ord(s, d).groupBy("o_custkey")
        .agg(
          max(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("ia"),
          max(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("ib"))
        .filter(col("ia") + col("ib") > 0)
        .agg(expr("sum(ia * ib) * 1000000L div count(1)").as("exact_jaccard_ppm"))
      Sketches.kmvOverlap(f, o, "o_custkey", k = 128)
        .crossJoin(broadcast(exact))
    }),

    // Count-Min heavy hitters: monthly counter partials merged by addition
    // (the CMS merge law), point-queried for the exact top-20 customers —
    // est_count ≥ true_count always (collisions only inflate), and the
    // oracle replays the identical salted-hash counter matrix
    "q_sketch_cms_heavy" -> ((s, d) => {
      val o = ord(s, d).select(
        col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("bucket"))
      val counters = Sketches.cmsMerge(Sketches.cmsPartial(
        o, "o_custkey", depth = 4, width = 1024, bucketCol = Some("bucket")))
      val top = ord(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("o_custkey"))
        .limit(20)
      Sketches.cmsEstimate(counters, top, "o_custkey", depth = 4, width = 1024)
        .join(broadcast(top), Seq("o_custkey"))
    }))

  // ---- oracles ----------------------------------------------------------

  /** DuckDB replica of the sha-token-hash simhash pipeline: per token,
    * hi/lo = first/second 8 hex chars of sha256 as unsigned 32-bit ints
    * (exactly [[TextAnalysis.shaHash64]]'s packing); 64 bit-vote sums;
    * `numBlocks` near-equal bit blocks (sizes from
    * [[Dedup.simhashBlockSizes]], the SAME helper the operator uses);
    * candidates = pairs whose blocks agree on some
    * (numBlocks − maxHamming)-combination — the operator's Manku-style
    * probe tables, replicated as an OR over per-combination conjunctions;
    * hamming ≤ maxHamming. Generated by loop so vote terms, block
    * boundaries AND the combination list stay in lockstep with the
    * operator's bit numbering (bit i = bit i−32 of hi for i ≥ 32).
    */
  private val simhashOracleSql: String = {
    val numBlocks = 6
    val maxHamming = 3
    val votes = (0 until 64).map { i =>
      val (src, sh) = if (i < 32) ("lo", i) else ("hi", i - 32)
      s"SUM(CASE WHEN ($src // ${1L << sh}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sizes = Dedup.simhashBlockSizes(numBlocks)
    val offsets = sizes.scanLeft(0)(_ + _)
    val segs = (0 until numBlocks).map { k =>
      (0 until sizes(k)).map(j => s"(CASE WHEN b${offsets(k) + j} > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("(", " + ", s") AS seg$k")
    }.mkString(",\n    ")
    val hamming = (0 until numBlocks)
      .map(k => s"bit_count(xor(a.seg$k, b.seg$k))").mkString(" + ")
    val probe = (0 until numBlocks).combinations(numBlocks - maxHamming)
      .map(c => c.map(k => s"a.seg$k = b.seg$k").mkString("(", " AND ", ")"))
      .mkString("\n       OR ")
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id,
       |    CAST(concat('0x', substr(sha256(tok), 1, 8)) AS BIGINT) AS hi,
       |    CAST(concat('0x', substr(sha256(tok), 9, 8)) AS BIGINT) AS lo
       |  FROM toks),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM th GROUP BY doc_id),
       |segs AS (SELECT doc_id,
       |    $segs
       |  FROM votes)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($hamming AS INTEGER) AS hamming
       |  FROM segs a JOIN segs b ON a.doc_id < b.doc_id
       |   AND ($probe))
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  /** DuckDB replica of the sha-plane-weight multi-table LSH ANN pipeline
    * (4 tables × 8 planes, matching q_sim_lsh_topk's parameters): exact
    * integer projections → per-table sign buckets → candidate join →
    * fixed-point cosine → top-3. Weight parity for global plane g at
    * position pos = first hex digit of sha256("g:pos") mod 2, exactly
    * [[Similarity.shaPlaneWeight]].
    */
  /** Shared CTE block of the sha-plane-weight LSH oracle replicas for a
    * given (planes, tables) configuration: quantized position explode `e`,
    * exact integer projections `proj` (one per global plane g, weight =
    * parity of sha256("g:pos")'s first hex digit), per-table sign buckets
    * `b`, and squared norms `n`.
    */
  private def lshOracleCtes(
      numPlanes: Int, numTables: Int, src: String = "embeddings"): String = {
    val projCols = (0 until numTables * numPlanes).map { g =>
      s"SUM(qv * CASE WHEN CAST(concat('0x', substr(sha256(concat('$g:', CAST(pos AS VARCHAR))), 1, 1)) AS INTEGER) % 2 = 0 THEN 1 ELSE -1 END) AS p$g"
    }.mkString(",\n    ")
    val tableSelects = (0 until numTables).map { t =>
      val bucket = (0 until numPlanes)
        .map(p => s"(CASE WHEN p${t * numPlanes + p} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, $t AS tbl, ($bucket) AS bucket FROM proj"
    }.mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
       |  FROM $src),
       |proj AS (SELECT vec_id,
       |    $projCols
       |  FROM e GROUP BY vec_id),
       |b AS ($tableSelects),
       |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id)""".stripMargin
  }

  private val lshTopKOracleSql: String = {
    s"""WITH ${lshOracleCtes(numPlanes = 8, numTables = 4)},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e eq ON eq.vec_id = query_id
       |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
       |  GROUP BY 1, 2),
       |sc AS (SELECT query_id, cand_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
       |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
       |SELECT query_id, cand_id, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
       |  FROM sc) WHERE rn <= 3""".stripMargin
  }

  /** Shared CTE block replicating bm25Rank's exact-integer pipeline up to
    * the top-25 candidate list `cand` (k1=1.2/b=0.75 milli constants) —
    * used by the q_text_bm25 oracle and as the candidate stage of the
    * q_text_rerank oracle.
    */
  private val bm25CandCtes: String =
    """base AS (SELECT doc_id AS doc,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents),
      |dlen AS (SELECT doc, CAST(len(tk) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM dlen),
      |tf AS (SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf FROM
      |    (SELECT doc, unnest(tk) AS term FROM base)
      |  WHERE term IN ('join', 'vector', 'spark', 'filter') GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |bsc AS (SELECT tf.doc,
      |    CAST(ROUND(log2(CAST(2*n - 2*df + 1 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE) + 1)
      |      * 1000000) AS BIGINT) AS idf_u,
      |    tf.tf, dlen.dl, t, n
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN tot JOIN dlen ON dlen.doc = tf.doc),
      |ts AS (SELECT doc,
      |    (CAST(idf_u AS HUGEINT) * tf * 2200 * 1000 * t) //
      |    (CAST(tf AS HUGEINT) * 1000000 * t + CAST(300000 AS HUGEINT) * t
      |       + CAST(900000 AS HUGEINT) * dl * n) AS term_score
      |  FROM bsc),
      |cand AS (SELECT doc, CAST(SUM(term_score) AS BIGINT) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM ts GROUP BY doc ORDER BY score DESC, doc ASC LIMIT 25)""".stripMargin

  /** DuckDB replica of the LSH-blocked embedding near-dup pipeline
    * (matching q_dedup_embedding_lsh: 8 planes × 4 tables, sha weights,
    * threshold 0.35): sign buckets → same-(table, bucket) candidate pairs
    * (cross-table distinct) → exact fixed-point cosine → threshold filter.
    */
  private val embeddingLshOracleSql: String =
    s"""WITH ${lshOracleCtes(numPlanes = 8, numTables = 4)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |d AS (SELECT id_a, id_b, CAST(SUM(ea.qv * eb.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = id_a
       |  JOIN e eb ON eb.vec_id = id_b AND ea.pos = eb.pos
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
       |FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.35""".stripMargin

  /** DuckDB replica of the semantic-decontamination pipeline (matching
    * q_dedup_semantic: eval = vec_id % 20 = 0, corpus = rest + verbatim
    * leaks at +500000, 8 planes × 4 tables, sha weights, threshold 0.35):
    * buckets over corpus ∪ eval → corpus×eval same-(table, bucket)
    * candidates → exact fixed-point cosine → contaminated-id anti-join.
    * Id classification is closed-form: eval ⇔ (% 20 = 0 ∧ < 500000),
    * leaked copies ⇔ (% 20 = 0 ∧ ≥ 500000).
    */
  private val semanticDecontaminateOracleSql: String =
    s"""WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 20 <> 0
       |  UNION ALL SELECT vec_id + 500000, embedding, label FROM embeddings WHERE vec_id % 20 = 0),
       |allv AS (SELECT vec_id, embedding FROM corpus UNION ALL SELECT vec_id, embedding FROM ev),
       |${lshOracleCtes(numPlanes = 8, numTables = 4, src = "allv")},
       |cand AS (SELECT DISTINCT c.vec_id AS cid, q.vec_id AS eid
       |  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE (c.vec_id % 20 <> 0 OR c.vec_id >= 500000)
       |    AND q.vec_id % 20 = 0 AND q.vec_id < 500000),
       |d AS (SELECT cid, eid, CAST(SUM(ec.qv * eq.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e ec ON ec.vec_id = cid
       |  JOIN e eq ON eq.vec_id = eid AND ec.pos = eq.pos
       |  GROUP BY 1, 2),
       |cont AS (SELECT DISTINCT cid FROM d
       |  JOIN n nc ON nc.vec_id = cid JOIN n ne ON ne.vec_id = eid
       |  WHERE CAST(dot AS DOUBLE) /
       |    (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) >= 0.35)
       |SELECT vec_id, label FROM corpus WHERE vec_id NOT IN (SELECT cid FROM cont)""".stripMargin

  /** DuckDB replica of the iters=0 IVF cluster-pruning ANN pipeline
    * (matching q_sim_ivf_topk's parameters: 16 sha-sampled pivots, 4
    * probes, top-3): pivot sample → exact integer assignment scores →
    * argmax corpus cell / top-4 query probes → per-cell candidate join →
    * fixed-point cosine top-3. Pivot hash = first 15 hex chars of
    * sha256(id), exactly [[graft.operators.Similarity.shaPivotHash]].
    */
  /** Brute-force exact cosine top-3 replica at query boundary `qb`
    * (queries = vec_id < qb, candidates = the rest) — the truth side of
    * `q_sim_recall` and the whole of `q_sim_cosine_topk`.
    */
  private def bruteTopKOracleSql(qb: Int): String =
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |           FROM embeddings),
      |n AS (SELECT vec_id, CAST(SUM(qv*qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |d AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |        CAST(SUM(q.qv*c.qv) AS BIGINT) AS dot
      |      FROM e q JOIN e c ON q.pos = c.pos
      |      WHERE q.vec_id < $qb AND c.vec_id >= $qb
      |      GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |        CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |       FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** DuckDB replica of the COMPOSED IVF-PQ pipeline (q_sim_ivfpq_topk,
    * iters = 0, sha pivot hash): the IVF half (cells from the first-16
    * sha-ordered corpus rows, nearest-cell assignment, nprobe = 4 probes,
    * per-cell candidate pairs) feeds the PQ half (same-sample codebooks,
    * encode argmins, LUT partial dots) restricted to those pairs; ADC
    * ranks k·refine = 6 survivors per query and the exact integer cosine
    * re-ranks to the final 3. Every CTE is lifted verbatim from the two
    * single-method oracles so the composition can only diverge where the
    * composition itself does.
    */
  private def ivfPqTopKOracleSql(qb: Int = 5, subWidth: Int = 16,
      nprobe: Int = 4, surv: Int = 6): String =
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |es AS (SELECT vec_id, pos // $subWidth AS subsp, pos, qv FROM e),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS cell FROM embeddings WHERE vec_id >= $qb
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cdots AS (SELECT a.vec_id AS rid, b.vec_id AS cell, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos JOIN piv ON piv.cell = b.vec_id
      |  GROUP BY 1, 2),
      |sc0 AS (SELECT rid, cell,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cs
      |  FROM cdots JOIN n na ON na.vec_id = rid JOIN n nb ON nb.vec_id = cell),
      |ass AS (SELECT rid, cell,
      |    ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cs DESC, cell) AS rn
      |  FROM sc0),
      |cass AS (SELECT rid AS cand_id, cell FROM ass WHERE rid >= $qb AND rn = 1),
      |qass AS (SELECT rid AS query_id, cell FROM ass WHERE rid < $qb AND rn <= $nprobe),
      |cand AS (SELECT DISTINCT query_id, cand_id FROM qass JOIN cass USING (cell)),
      |pivc AS (SELECT vec_id AS code FROM embeddings WHERE vec_id >= $qb
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cb AS (SELECT es.subsp, es.vec_id AS code, es.pos, es.qv FROM es JOIN pivc ON pivc.code = es.vec_id),
      |cbn AS (SELECT subsp, code, CAST(SUM(qv * qv) AS BIGINT) AS cn2 FROM cb GROUP BY 1, 2),
      |cd AS (SELECT a.vec_id, a.subsp, cb.code, CAST(SUM(a.qv * cb.qv) AS BIGINT) AS dot
      |  FROM es a JOIN cb ON cb.subsp = a.subsp AND cb.pos = a.pos
      |  WHERE a.vec_id >= $qb GROUP BY 1, 2, 3),
      |enc AS (SELECT vec_id AS cand_id, subsp, code, cn2 FROM (
      |  SELECT cd.vec_id, cd.subsp, cd.code, cbn.cn2,
      |    ROW_NUMBER() OVER (PARTITION BY cd.vec_id, cd.subsp
      |      ORDER BY cbn.cn2 - 2 * cd.dot ASC, cd.code ASC) AS rn
      |  FROM cd JOIN cbn ON cbn.subsp = cd.subsp AND cbn.code = cd.code)
      |  WHERE rn = 1),
      |lut AS (SELECT q.vec_id AS query_id, cb.subsp, cb.code,
      |    CAST(SUM(q.qv * cb.qv) AS BIGINT) AS pdot
      |  FROM es q JOIN cb ON cb.subsp = q.subsp AND cb.pos = q.pos
      |  WHERE q.vec_id < $qb GROUP BY 1, 2, 3),
      |adc AS (SELECT c.query_id, c.cand_id,
      |    CAST(SUM(lut.pdot) AS DOUBLE) /
      |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(SUM(enc.cn2) AS DOUBLE))) AS approx_cosine
      |  FROM cand c
      |  JOIN enc ON enc.cand_id = c.cand_id
      |  JOIN lut ON lut.query_id = c.query_id AND lut.subsp = enc.subsp AND lut.code = enc.code
      |  JOIN n nq ON nq.vec_id = c.query_id
      |  GROUP BY 1, 2, nq.n2),
      |surv AS (SELECT query_id, cand_id FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_cosine DESC, cand_id) AS rn
      |  FROM adc) WHERE rn <= $surv),
      |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
      |  FROM surv
      |  JOIN e eq ON eq.vec_id = query_id
      |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
      |  GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  private val ivfTopKOracleSql: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS cell FROM embeddings WHERE vec_id >= 5
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |dots AS (SELECT a.vec_id AS rid, b.vec_id AS cell, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos JOIN piv ON piv.cell = b.vec_id
      |  GROUP BY 1, 2),
      |sc0 AS (SELECT rid, cell,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cs
      |  FROM dots JOIN n na ON na.vec_id = rid JOIN n nb ON nb.vec_id = cell),
      |ass AS (SELECT rid, cell,
      |    ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cs DESC, cell) AS rn
      |  FROM sc0),
      |cass AS (SELECT rid AS cand_id, cell FROM ass WHERE rid >= 5 AND rn = 1),
      |qass AS (SELECT rid AS query_id, cell FROM ass WHERE rid < 5 AND rn <= 4),
      |cand AS (SELECT DISTINCT query_id, cand_id FROM qass JOIN cass USING (cell)),
      |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
      |  FROM cand
      |  JOIN e eq ON eq.vec_id = query_id
      |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
      |  GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** PQ at iters=0: subspace = pos div 16 (dim 64, m 4); codebook = the 16
    * sha-pivot corpus rows' subvectors; encode argmin minimizes
    * |c|² − 2·x·c with ties to the LOWEST code id (the |x|² term is
    * constant within the argmin — dropped identically in both engines);
    * ADC score = Σ partial dots / (|q| · |x̂|) with |x̂|² = Σ chosen |c|².
    * All sums are exact integers (< 2^53), so the doubles agree bit-wise.
    */
  private val pqTopKOracleSql: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |es AS (SELECT vec_id, pos // 16 AS subsp, pos, qv FROM e),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS code FROM embeddings WHERE vec_id >= 5
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cb AS (SELECT es.subsp, es.vec_id AS code, es.pos, es.qv FROM es JOIN piv ON piv.code = es.vec_id),
      |cbn AS (SELECT subsp, code, CAST(SUM(qv * qv) AS BIGINT) AS cn2 FROM cb GROUP BY 1, 2),
      |cd AS (SELECT a.vec_id, a.subsp, cb.code, CAST(SUM(a.qv * cb.qv) AS BIGINT) AS dot
      |  FROM es a JOIN cb ON cb.subsp = a.subsp AND cb.pos = a.pos
      |  WHERE a.vec_id >= 5 GROUP BY 1, 2, 3),
      |enc AS (SELECT vec_id AS cand_id, subsp, code, cn2 FROM (
      |  SELECT cd.vec_id, cd.subsp, cd.code, cbn.cn2,
      |    ROW_NUMBER() OVER (PARTITION BY cd.vec_id, cd.subsp
      |      ORDER BY cbn.cn2 - 2 * cd.dot ASC, cd.code ASC) AS rn
      |  FROM cd JOIN cbn ON cbn.subsp = cd.subsp AND cbn.code = cd.code)
      |  WHERE rn = 1),
      |lut AS (SELECT q.vec_id AS query_id, cb.subsp, cb.code,
      |    CAST(SUM(q.qv * cb.qv) AS BIGINT) AS pdot
      |  FROM es q JOIN cb ON cb.subsp = q.subsp AND cb.pos = q.pos
      |  WHERE q.vec_id < 5 GROUP BY 1, 2, 3),
      |sc AS (SELECT lut.query_id, enc.cand_id,
      |    CAST(SUM(lut.pdot) AS DOUBLE) /
      |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(SUM(enc.cn2) AS DOUBLE))) AS approx_cosine
      |  FROM enc JOIN lut ON lut.subsp = enc.subsp AND lut.code = enc.code
      |  JOIN n nq ON nq.vec_id = lut.query_id
      |  GROUP BY 1, 2, nq.n2)
      |SELECT query_id, cand_id, approx_cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** DuckDB replica of the deterministic HLL pipeline (q_sketch_hll): the
    * registers are rebuilt from the RAW rows in one shot, which equals the
    * operator's partial-then-merge by the register-max merge law — so a
    * green row proves BOTH the estimator arithmetic and the merge law. The
    * trailing-zero sum and the linear-counting lookup are generated from
    * the SAME [[graft.operators.Sketches]] constants the operator compiles,
    * so bit numbering, caps, and rounding can never drift apart.
    */
  private val hllOracleSql: String = {
    val tz = Sketches.trailingZerosSql("w")
    val lc = Sketches.hllLcSql("vz")
    s"""WITH h AS (SELECT o_orderstatus,
       |    CAST(concat('0x', substr(sha256(concat(CAST(o_custkey AS VARCHAR), ':hll')), 1, 15)) AS BIGINT) AS h
       |  FROM orders WHERE o_custkey IS NOT NULL),
       |w AS (SELECT o_orderstatus, h % ${Sketches.HllM} AS reg, h // ${Sketches.HllM} AS w FROM h),
       |r AS (SELECT o_orderstatus, reg, ($tz) + 1 AS rho FROM w),
       |regs AS (SELECT o_orderstatus, reg, MAX(rho) AS rho FROM r GROUP BY 1, 2),
       |e AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_occupied,
       |    CAST(SUM(1::BIGINT << (${Sketches.HllRhoCap} - rho)) AS BIGINT) AS denom_occ
       |  FROM regs GROUP BY 1),
       |v AS (SELECT o_orderstatus, n_occupied, ${Sketches.HllM} - n_occupied AS vz,
       |    denom_occ + (${Sketches.HllM} - n_occupied) * ${1L << Sketches.HllRhoCap} AS denom FROM e),
       |est AS (SELECT o_orderstatus, n_occupied, vz,
       |    (${Sketches.HllNumShifted} // denom) // 1000000 AS est_raw FROM v),
       |x AS (SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
       |  FROM orders GROUP BY 1)
       |SELECT est.o_orderstatus, n_occupied,
       |  CAST(CASE WHEN est_raw <= ${Sketches.HllLcThreshold} AND vz > 0 THEN $lc ELSE est_raw END AS BIGINT) AS est_distinct,
       |  exact_distinct
       |FROM est JOIN x ON x.o_orderstatus = est.o_orderstatus""".stripMargin
  }

  /** Union-KMV overlap replica (q_sketch_kmv_overlap): distinct 48-bit
    * hashes per side, full-outer membership flags, the 128 smallest union
    * hashes, then the integer KMV estimators — plus the exact Jaccard the
    * Spark side also joins in.
    */
  private val kmvOverlapOracleSql: String = {
    val k = 128
    s"""WITH a AS (SELECT DISTINCT CAST(concat('0x', substr(sha256(concat(CAST(o_custkey AS VARCHAR), ':kmv')), 1, 12)) AS BIGINT) AS h
       |  FROM orders WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL),
       |b AS (SELECT DISTINCT CAST(concat('0x', substr(sha256(concat(CAST(o_custkey AS VARCHAR), ':kmv')), 1, 12)) AS BIGINT) AS h
       |  FROM orders WHERE o_orderstatus = 'O' AND o_custkey IS NOT NULL),
       |u AS (SELECT COALESCE(a.h, b.h) AS h,
       |    CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
       |    CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS ib
       |  FROM a FULL OUTER JOIN b ON a.h = b.h),
       |km AS (SELECT * FROM u ORDER BY h LIMIT $k),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_state,
       |    CAST(SUM(ia * ib) AS BIGINT) AS n_matches, MAX(h) AS kth FROM km),
       |j AS (SELECT n_state, n_matches,
       |    CAST((n_matches * 1000000) // n_state AS BIGINT) AS jaccard_ppm,
       |    CAST(CASE WHEN n_state < $k THEN n_state
       |         ELSE ${(k - 1).toLong << 48} // GREATEST(kth, 1) END AS BIGINT) AS est_union
       |  FROM s),
       |x AS (SELECT CAST((SUM(ia * ib) * 1000000) // COUNT(*) AS BIGINT) AS exact_jaccard_ppm
       |  FROM (SELECT o_custkey,
       |      MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ia,
       |      MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS ib
       |    FROM orders GROUP BY 1) t
       |  WHERE ia + ib > 0)
       |SELECT n_state, n_matches, jaccard_ppm, est_union,
       |  CAST((jaccard_ppm * est_union) // 1000000 AS BIGINT) AS est_intersection,
       |  exact_jaccard_ppm
       |FROM j CROSS JOIN x""".stripMargin
  }

  /** Count-Min heavy-hitter replica (q_sketch_cms_heavy): the d=4, w=1024
    * salted counter matrix rebuilt one-shot (counter addition is the merge
    * law, so it equals the operator's monthly partials), point-queried for
    * the exact top-20 customers.
    */
  private val cmsHeavyOracleSql: String =
    """WITH c AS (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL),
      |cells AS (SELECT r,
      |    CAST(concat('0x', substr(sha256(concat(CAST(o_custkey AS VARCHAR), ':cms:', CAST(r AS VARCHAR))), 1, 12)) AS BIGINT) % 1024 AS cell
      |  FROM c CROSS JOIN (VALUES (0), (1), (2), (3)) AS rs(r)),
      |counters AS (SELECT r, cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
      |top AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS true_count FROM c GROUP BY 1
      |  ORDER BY true_count DESC, o_custkey LIMIT 20),
      |addr AS (SELECT top.o_custkey, top.true_count, rs.r,
      |    CAST(concat('0x', substr(sha256(concat(CAST(top.o_custkey AS VARCHAR), ':cms:', CAST(rs.r AS VARCHAR))), 1, 12)) AS BIGINT) % 1024 AS cell
      |  FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) AS rs(r))
      |SELECT addr.o_custkey, addr.true_count,
      |  CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
      |FROM addr LEFT JOIN counters ON counters.r = addr.r AND counters.cell = addr.cell
      |GROUP BY 1, 2""".stripMargin

  /** The PageRank iterations unrolled as SQL (q_graph_pagerank): same
    * bidirectional edges, same `rank div deg` contributions, same
    * `((10⁶−d)·base₀ + d·Σ) div 10⁶` update with TRUNCATING integer
    * division each round — generated by loop so the Spark driver loop and
    * the SQL replica can never disagree on iteration count or constants.
    */
  private val pageRankOracleSql: String = {
    val damp = 850000L
    val iters = 3
    def iteration(prev: String, out: String): String =
      s"""$out AS (SELECT d.src AS node,
         |   (${1000000L - damp} * b0.v + $damp * COALESCE(s.inr, 0)) // 1000000 AS rank
         | FROM deg d CROSS JOIN b0 LEFT JOIN (
         |   SELECT bd.dst AS node, CAST(SUM(rk.rank // dg.deg) AS BIGINT) AS inr
         |   FROM $prev rk JOIN deg dg ON dg.src = rk.node
         |   JOIN bd ON bd.src = rk.node GROUP BY 1) s ON s.node = d.src)""".stripMargin
    val chain = (1 to iters)
      .map(k => iteration(if (k == 1) "r0" else s"i${k - 1}", s"i$k"))
      .mkString(",\n")
    s"""WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |e AS (SELECT DISTINCT x.i AS lo, y.i AS hi
       |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i),
       |bd AS (SELECT lo AS src, hi AS dst FROM e UNION ALL SELECT hi, lo FROM e),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bd GROUP BY 1),
       |b0 AS (SELECT 1000000000000 // CAST(COUNT(*) AS BIGINT) AS v FROM deg),
       |r0 AS (SELECT src AS node, b0.v AS rank FROM deg CROSS JOIN b0),
       |$chain
       |SELECT node, CAST(rank AS BIGINT) AS rank_scaled FROM i$iters
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** The CONVERGENCE-GATED PageRank replayed in SQL
    * (q_graph_pagerank_tol): unroll `maxIters` rounds, compute every
    * round's `max |Δrank|` against its predecessor, and dynamically pick
    * the FIRST round whose delta is ≤ `max(1, b0·tolPpm // 10⁶)` (falling
    * back to round `maxIters` when none qualifies) — the identical exact
    * integer stop rule the Spark loop evaluates, so the two engines agree
    * on the stopping round at any scale factor without any pinned count.
    * Generated from the same (tolPpm, maxIters, damp) constants as the
    * query entry.
    */
  private val pageRankConvergedOracleSql: String = {
    val damp = 850000L
    val tolPpm = 100000L
    val maxIters = 12
    def iteration(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT d.src AS node,
         |   (${1000000L - damp} * b0.v + $damp * COALESCE(s.inr, 0)) // 1000000 AS rank
         | FROM deg d CROSS JOIN b0 LEFT JOIN (
         |   SELECT bd.dst AS node, CAST(SUM(rk.rank // dg.deg) AS BIGINT) AS inr
         |   FROM $prev rk JOIN deg dg ON dg.src = rk.node
         |   JOIN bd ON bd.src = rk.node GROUP BY 1) s ON s.node = d.src)""".stripMargin
    val chain = (1 to maxIters)
      .map(k => iteration(if (k == 1) "r0" else s"i${k - 1}", s"i$k"))
      .mkString(",\n")
    val deltas = (1 to maxIters)
      .map { k =>
        val prev = if (k == 1) "r0" else s"i${k - 1}"
        s"SELECT $k AS k, MAX(ABS(cur.rank - prv.rank)) AS delta FROM i$k cur JOIN $prev prv USING (node)"
      }
      .mkString("\n  UNION ALL ")
    val alli = (1 to maxIters)
      .map(k => s"SELECT $k AS k, node, rank FROM i$k")
      .mkString("\n  UNION ALL ")
    s"""WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |e AS (SELECT DISTINCT x.i AS lo, y.i AS hi
       |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i),
       |bd AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e UNION ALL SELECT hi, lo FROM e),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bd GROUP BY 1),
       |b0 AS (SELECT 1000000000000 // CAST(COUNT(*) AS BIGINT) AS v FROM deg),
       |r0 AS MATERIALIZED (SELECT src AS node, b0.v AS rank FROM deg CROSS JOIN b0),
       |$chain,
       |tol AS (SELECT GREATEST(1, b0.v * $tolPpm // 1000000) AS t FROM b0),
       |d AS (
       |  $deltas),
       |kstar AS (SELECT COALESCE(MIN(k), $maxIters) AS ks
       |  FROM d CROSS JOIN tol WHERE d.delta <= tol.t),
       |alli AS (
       |  $alli)
       |SELECT node, CAST(rank AS BIGINT) AS rank_scaled,
       |  CAST(kstar.ks AS BIGINT) AS n_iters
       |FROM alli CROSS JOIN kstar WHERE alli.k = kstar.ks
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** DuckDB replica of the integer-exact k-means (q_cluster_kmeans,
    * k = 8, iters = 2): quantize → sha-sampled seed centroids → per-round
    * (squared-distance argmin assignment, floor-div integer centroid
    * means) unrolled as CTE pairs, exactly
    * [[graft.operators.Clustering.kmeans]]'s spec — truncation to the
    * integer grid is the spec, so the engines can only agree. Floor
    * division in DuckDB is `(s - ((s % cnt + cnt) % cnt)) // cnt` (its
    * `%` truncates like Spark's; the subtraction makes the dividend an
    * exact multiple, so `//`'s rounding mode never engages). Generated
    * from the same (k, iters) constants as the query entry.
    */
  private val kmeansOracleSql: String = {
    val k = 8
    val iters = 2
    def assignCtes(i: Int, cent: String, centn: String): String =
      s"""d$i AS (SELECT a.vec_id, c.cluster, CAST(SUM(a.qv * c.cv) AS BIGINT) AS dot
         |  FROM e a JOIN $cent c ON c.pos = a.pos GROUP BY 1, 2),
         |a$i AS (SELECT vec_id, cluster, sqd FROM (
         |  SELECT d$i.vec_id, d$i.cluster,
         |    n.n2 - 2 * d$i.dot + $centn.cn2 AS sqd,
         |    ROW_NUMBER() OVER (PARTITION BY d$i.vec_id
         |      ORDER BY n.n2 - 2 * d$i.dot + $centn.cn2 ASC, d$i.cluster ASC) AS rn
         |  FROM d$i JOIN n ON n.vec_id = d$i.vec_id
         |  JOIN $centn ON $centn.cluster = d$i.cluster) WHERE rn = 1)""".stripMargin
    def updateCtes(i: Int): String =
      s"""u$i AS (SELECT a$i.cluster, e.pos, CAST(SUM(e.qv) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM a$i JOIN e ON e.vec_id = a$i.vec_id GROUP BY 1, 2),
         |c$i AS (SELECT cluster, pos,
         |    (s - ((s % cnt + cnt) % cnt)) // cnt AS cv FROM u$i),
         |cn$i AS (SELECT cluster, CAST(SUM(cv * cv) AS BIGINT) AS cn2
         |  FROM c$i GROUP BY 1)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCtes(i, s"c${i - 1}", s"cn${i - 1}") + ",\n" + updateCtes(i))
      .mkString(",\n")
    val fin = iters + 1
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
       |piv AS (SELECT vec_id AS cluster FROM embeddings
       |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
       |  LIMIT $k),
       |c0 AS (SELECT piv.cluster, e.pos, e.qv AS cv FROM e JOIN piv ON piv.cluster = e.vec_id),
       |cn0 AS (SELECT cluster, CAST(SUM(cv * cv) AS BIGINT) AS cn2 FROM c0 GROUP BY 1),
       |$rounds,
       |${assignCtes(fin, s"c$iters", s"cn$iters")},
       |ck AS (SELECT cluster, CAST(SUM(cv) AS BIGINT) AS centroid_checksum
       |  FROM c$iters GROUP BY 1)
       |SELECT a$fin.cluster, COUNT(*) AS n_members,
       |  CAST(SUM(sqd // 1000000) AS BIGINT) AS total_sqdist_scaled,
       |  ck.centroid_checksum
       |FROM a$fin JOIN ck ON ck.cluster = a$fin.cluster
       |GROUP BY a$fin.cluster, ck.centroid_checksum""".stripMargin
  }

  /** Shared replica of the one-shot CDC merge: the snapshot from pre-cut
    * latest-per-user state, the post-cut changelog collapsed the same way,
    * full-outer merged with delete-wins/replace-wholesale semantics.
    * Used by BOTH q_events_changelog (batch applyChangelog) and
    * q_stream_upsert (the same merge streamed through upsertSink with
    * key-partitioned micro-batches — which provably converge to the
    * one-shot result, see the query comment).
    */
  private val changelogOracleSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type, value
      |  FROM events),
      |snap AS (SELECT user_id, event_id, us, event_type, value FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev WHERE us < 1705708800000000) WHERE rn = 1),
      |chg AS (SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      |  FROM (SELECT *, row_number() OVER (
      |      PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM ev WHERE us >= 1705708800000000) WHERE rn = 1)
      |SELECT coalesce(c.user_id, s.user_id) AS user_id,
      |  CASE WHEN c.user_id IS NOT NULL THEN c.event_id ELSE s.event_id END AS event_id,
      |  CASE WHEN c.user_id IS NOT NULL THEN c.us ELSE s.us END AS us,
      |  CASE WHEN c.user_id IS NOT NULL THEN c.event_type ELSE s.event_type END AS event_type,
      |  CASE WHEN c.user_id IS NOT NULL THEN c.value ELSE s.value END AS value
      |FROM snap s FULL OUTER JOIN chg c ON s.user_id = c.user_id
      |WHERE c.op IS NULL OR c.op != 'D'""".stripMargin

  /** DuckDB replica of the k-core peeling (q_graph_kcore, k = 80):
    * 8 unrolled simultaneous-peel rounds over the canonical part
    * co-occurrence edges. 8 ≥ the rounds-to-fixpoint at every checked
    * scale, and peeling past the fixpoint changes nothing (no node below
    * k remains to delete), so operator-fixpoint ≡ oracle-8-rounds.
    * `NOT IN` is safe: canonical edges are null-filtered. Every round CTE
    * is MATERIALIZED — each is referenced ~3× by the next round, and an
    * inlining optimizer would otherwise expand the reference tree to 3⁸
    * scans of the base table (observed: fd exhaustion before any wrong
    * result could even be produced).
    */
  private val kCoreOracleSql: String = {
    val k = 80
    val rounds = 8
    val peels = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT n FROM (SELECT n, COUNT(*) AS d FROM (
         |    SELECT lo AS n FROM e${i - 1} UNION ALL SELECT hi FROM e${i - 1}) GROUP BY n)
         |  WHERE d < $k),
         |e$i AS MATERIALIZED (SELECT * FROM e${i - 1}
         |  WHERE lo NOT IN (SELECT n FROM l$i) AND hi NOT IN (SELECT n FROM l$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.i AS lo, y.i AS hi
       |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i),
       |$peels
       |SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
       |  SELECT lo AS n FROM e$rounds UNION ALL SELECT hi FROM e$rounds) GROUP BY n""".stripMargin
  }

  /** DuckDB replica of the bounded BFS (q_graph_bfs, 3 hops): the
    * level-synchronous rounds unrolled — level h is first-reachable-in-h
    * regardless of traversal order, so unrolling is exact. `NOT IN` is
    * safe: seeds and canonical edges are null-filtered. Each level CTE is
    * MATERIALIZED for the same reason as the k-core rounds (each is read
    * by both the next frontier join and its anti-filter).
    */
  private val bfsOracleSql: String = {
    val hops = 3
    val rounds = (1 to hops).map { h =>
      s"""d$h AS MATERIALIZED (SELECT node, hops FROM d${h - 1}
         |  UNION ALL
         |  SELECT node, ${h} AS hops FROM (
         |    SELECT DISTINCT a.v AS node
         |    FROM d${h - 1} f JOIN adj a ON a.u = f.node
         |    WHERE f.hops = ${h - 1})
         |  WHERE node NOT IN (SELECT node FROM d${h - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |e AS MATERIALIZED (SELECT DISTINCT x.i AS lo, y.i AS hi
       |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i),
       |adj AS MATERIALIZED (SELECT lo AS u, hi AS v FROM e
       |  UNION ALL SELECT hi, lo FROM e),
       |d0 AS MATERIALIZED (SELECT DISTINCT p_partkey AS node, 0 AS hops
       |  FROM part WHERE p_size = 1 AND p_partkey IS NOT NULL),
       |$rounds
       |SELECT node, CAST(hops AS BIGINT) AS hops FROM d$hops""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_graph_pagerank" -> pageRankOracleSql,
    "q_graph_pagerank_tol" -> pageRankConvergedOracleSql,
    "q_cluster_kmeans" -> kmeansOracleSql,
    "q_graph_kcore" -> kCoreOracleSql,
    "q_graph_bfs" -> bfsOracleSql,

    "q_sketch_hll" -> hllOracleSql,
    "q_sketch_kmv_overlap" -> kmvOverlapOracleSql,
    "q_sketch_cms_heavy" -> cmsHeavyOracleSql,

    // the interval join re-derived relationally: purchases × same-user
    // views in the 4-hour lookback, inclusive both ends (µs arithmetic)
    "q_stream_join" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 AS us, user_id,
        |    event_type, value FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS p_us
        |  FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us AS v_us, value AS view_value
        |  FROM e WHERE event_type = 'view')
        |SELECT purchase_id, p.user_id, p_us, v_us, view_value
        |FROM p JOIN v ON v.user_id = p.user_id
        | AND v_us >= p_us - 14400000000 AND v_us <= p_us""".stripMargin,

    // brute-force graph replica: canonical distinct edges, degrees from the
    // endpoint union, triangles via (a,b)(a,c)(b,c) 3-way join with b < c
    "q_graph_profile" ->
      """WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (SELECT DISTINCT x.i AS lo, y.i AS hi
        |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT lo AS n FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        |  JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(MAX(d) AS BIGINT) AS max_degree,
        |    CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
        |es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, max_degree, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0
        |       THEN CAST((n_triangles * 3000000) // n_wedges AS BIGINT) END AS transitivity_ppm
        |FROM ns CROSS JOIN es CROSS JOIN tri""".stripMargin,

    // basket rules replica: distinct (order, part), pairs by self-join with
    // a < b, both rule directions, identical integer ppm arithmetic.
    // maxItems=64 never binds here (baskets are ~4 items), so the oracle
    // omits the guard.
    "q_assoc_rules" ->
      """WITH r AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM r),
        |isupp AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS supp FROM r GROUP BY 1),
        |psupp AS (SELECT x.i AS a, y.i AS b, CAST(COUNT(*) AS BIGINT) AS supp_pair
        |  FROM r x JOIN r y ON y.b = x.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dir AS (SELECT a AS ante, b AS cons, supp_pair FROM psupp
        |  UNION ALL SELECT b, a, supp_pair FROM psupp)
        |SELECT ante, cons, n_baskets, supp_pair,
        |  sa.supp AS supp_ante, sc.supp AS supp_cons,
        |  CAST((supp_pair * 1000000) // sa.supp AS BIGINT) AS confidence_ppm,
        |  CAST((supp_pair * n_baskets * 1000000) // (sa.supp * sc.supp) AS BIGINT) AS lift_ppm
        |FROM dir
        |JOIN isupp sa ON sa.i = dir.ante
        |JOIN isupp sc ON sc.i = dir.cons
        |CROSS JOIN nb""".stripMargin,

    // grouped trend replica: same HUGEINT moments per event_type, same
    // closed-form slope/intercept doubles
    "q_profile_trend" ->
      """WITH s AS (SELECT event_type,
        |    CAST(FLOOR(CAST(epoch_ns(ts) // 1000000000 AS DOUBLE) * 1) AS HUGEINT) AS x,
        |    CAST(FLOOR(value * 1000000) AS HUGEINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
        |  FROM s GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n*sxx - sx*sx > 0
        |       THEN CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) END AS slope,
        |  CASE WHEN n*sxx - sx*sx > 0
        |       THEN (CAST(sy AS DOUBLE)
        |             - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        |               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END AS intercept
        |FROM m""".stripMargin,

    // the same exact moment sums in HUGEINT, same final double expression
    "q_profile_corr" ->
      """WITH s AS (SELECT
        |    CAST(FLOOR(l_quantity * 100) AS HUGEINT) AS x0,
        |    CAST(FLOOR(l_extendedprice * 100) AS HUGEINT) AS x1,
        |    CAST(FLOOR(l_discount * 100) AS HUGEINT) AS x2
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x0) AS sx0, SUM(x1) AS sx1, SUM(x2) AS sx2,
        |    SUM(x0*x0) AS s00, SUM(x1*x1) AS s11, SUM(x2*x2) AS s22,
        |    SUM(x0*x1) AS s01, SUM(x0*x2) AS s02, SUM(x1*x2) AS s12
        |  FROM s)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n*s00 - sx0*sx0 > 0 AND n*s11 - sx1*sx1 > 0
        |       THEN CAST(n*s01 - sx0*sx1 AS DOUBLE) /
        |            (sqrt(CAST(n*s00 - sx0*sx0 AS DOUBLE)) * sqrt(CAST(n*s11 - sx1*sx1 AS DOUBLE))) END AS corr
        |FROM m
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
        |  CASE WHEN n*s00 - sx0*sx0 > 0 AND n*s22 - sx2*sx2 > 0
        |       THEN CAST(n*s02 - sx0*sx2 AS DOUBLE) /
        |            (sqrt(CAST(n*s00 - sx0*sx0 AS DOUBLE)) * sqrt(CAST(n*s22 - sx2*sx2 AS DOUBLE))) END
        |FROM m
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
        |  CASE WHEN n*s11 - sx1*sx1 > 0 AND n*s22 - sx2*sx2 > 0
        |       THEN CAST(n*s12 - sx1*sx2 AS DOUBLE) /
        |            (sqrt(CAST(n*s11 - sx1*sx1 AS DOUBLE)) * sqrt(CAST(n*s22 - sx2*sx2 AS DOUBLE))) END
        |FROM m""".stripMargin,

    // audio twin of the planted-mask replica (salt 'afp')
    "q_multimodal_audio_dedup" ->
      """WITH m AS (SELECT doc_id,
        |    xor(CAST(concat('0x', substr(sha256(concat(CAST(doc_id // 4 AS VARCHAR), ':afp')), 1, 15)) AS BIGINT),
        |        doc_id % 4) AS mask
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.mask, b.mask)) AS INTEGER) AS hamming
        |FROM m a JOIN m b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.mask, b.mask)) <= 3""".stripMargin,

    // the planted-mask replica: mask = hash60(id div 4) XOR (id mod 4),
    // brute-force pairs within Hamming 3, corrupt ids (÷50) excluded —
    // equality with the Spark side proves decode→aHash recovered every
    // mask exactly AND the blocked probe achieved exact recall
    "q_multimodal_image_dedup" ->
      """WITH m AS (SELECT doc_id,
        |    xor(CAST(concat('0x', substr(sha256(concat(CAST(doc_id // 4 AS VARCHAR), ':ahash')), 1, 15)) AS BIGINT),
        |        doc_id % 4) AS mask
        |  FROM documents WHERE doc_id % 50 <> 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.mask, b.mask)) AS INTEGER) AS hamming
        |FROM m a JOIN m b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.mask, b.mask)) <= 3""".stripMargin,

    // the budget selector's semantics, stated naively: global (score desc,
    // id) order, keep while the running token total fits
    "q_curate_budget" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, n_chars, n_tokens FROM c WHERE cum <= 200000""".stripMargin,

    // temperature-mix replica: same counts, same correctly-rounded
    // 2000·sqrt(nmax/n) threshold (no pow — not correctly rounded, would
    // drift across engines), same 60-bit hash keep-rule
    "q_sample_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS nmax FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
        |WHERE CAST(concat('0x', substr(sha256(CAST(d.doc_id AS VARCHAR) || ':tmix'), 1, 15)) AS BIGINT)
        |        % 10000 < least(10000, floor(2000 * sqrt(m.nmax / c.n)))""".stripMargin,

    // calibration replica: the naive per-source row_number window the
    // engine's range-partition + base-offset decomposition must match on
    // every integer ppm value
    "q_curate_calibrate" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_chars,
        |    CAST(CASE WHEN n = 1 THEN 1000000
        |         ELSE (rk - 1) * 1000000 // (n - 1) END AS BIGINT) AS cal_ppm
        |  FROM r)
        |SELECT doc_id, source, n_chars, cal_ppm FROM c WHERE cal_ppm >= 900000""".stripMargin,

    // per-source cap replica: the naive global row_number the engine's
    // slice/boundary decomposition must reproduce exactly
    "q_curate_source_cap" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(concat('0x', substr(sha256(CAST(event_id AS VARCHAR) || ':cap'), 1, 15)) AS BIGINT),
        |        event_id) AS rn
        |  FROM events) WHERE rn <= 2000""".stripMargin,

    // winsorize replica: same integer ceil-division ranks, same cents
    // grid, same discrete clip bounds
    "q_events_winsorize" ->
      """WITH v AS (SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |b AS (SELECT event_type,
        |    MIN(CASE WHEN rn = GREATEST((n * 5 + 99) // 100, 1) THEN cents END) AS lo_cents,
        |    MIN(CASE WHEN rn = GREATEST((n * 95 + 99) // 100, 1) THEN cents END) AS hi_cents
        |  FROM r GROUP BY 1)
        |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(lo_cents) AS lo_cents, MIN(hi_cents) AS hi_cents,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_cents,
        |  CAST(CAST(SUM(LEAST(GREATEST(cents, lo_cents), hi_cents)) AS BIGINT) AS DOUBLE)
        |    / COUNT(*) AS winsorized_mean_cents
        |FROM v JOIN b USING (event_type) GROUP BY 1""".stripMargin,

    // FD replica: per-pair fan-out CTEs; FLOOR before the BIGINT cast on
    // both sides (Spark's double→long cast truncates, DuckDB's rounds)
    "q_profile_fds" ->
      """WITH f1 AS (SELECT COUNT(DISTINCT o_custkey) AS fan FROM orders GROUP BY o_orderkey),
        |f2 AS (SELECT COUNT(DISTINCT o_orderstatus) AS fan FROM orders GROUP BY o_custkey),
        |f3 AS (SELECT COUNT(DISTINCT o_orderstatus) AS fan FROM orders GROUP BY o_orderpriority)
        |SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |  CAST(COUNT(*) AS BIGINT) AS n_lhs_distinct,
        |  CAST(COALESCE(SUM(fan), 0) AS BIGINT) AS n_pairs_distinct,
        |  CAST(COALESCE(MAX(fan), 0) AS BIGINT) AS max_rhs_per_lhs,
        |  COALESCE(MAX(fan), 0) <= 1 AS exact_fd,
        |  CASE WHEN COALESCE(SUM(fan), 0) > 0 THEN CAST(FLOOR(
        |    CAST(COUNT(*) AS BIGINT) * 1000000 / CAST(SUM(fan) AS BIGINT)) AS BIGINT) END AS conf_ppm
        |FROM f1
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(fan), 0) AS BIGINT), CAST(COALESCE(MAX(fan), 0) AS BIGINT),
        |  COALESCE(MAX(fan), 0) <= 1,
        |  CASE WHEN COALESCE(SUM(fan), 0) > 0 THEN CAST(FLOOR(
        |    CAST(COUNT(*) AS BIGINT) * 1000000 / CAST(SUM(fan) AS BIGINT)) AS BIGINT) END
        |FROM f2
        |UNION ALL
        |SELECT 'o_orderpriority', 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(fan), 0) AS BIGINT), CAST(COALESCE(MAX(fan), 0) AS BIGINT),
        |  COALESCE(MAX(fan), 0) <= 1,
        |  CASE WHEN COALESCE(SUM(fan), 0) > 0 THEN CAST(FLOOR(
        |    CAST(COUNT(*) AS BIGINT) * 1000000 / CAST(SUM(fan) AS BIGINT)) AS BIGINT) END
        |FROM f3""".stripMargin,

    // canonicalization replica: components are closed-form (base = id mod
    // 100000 for the synthetic chains), argmax via row_number over
    // (quality DESC, id) — rn = 1 is the canonical member
    "q_dedup_canonical" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 10 = 0 AND doc_id < 100000),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 100000, substr(text, 1, 50) FROM base
        |  UNION ALL SELECT doc_id + 200000, text || ' extra extra pad' FROM base),
        |m AS (SELECT doc_id % 100000 AS component, doc_id,
        |    CAST(length(text) AS BIGINT) AS q FROM aug),
        |r AS (SELECT component, doc_id, q,
        |    row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY component) AS n
        |  FROM m)
        |SELECT CAST(component AS BIGINT) AS component, doc_id AS canonical_id,
        |  q AS best_quality, CAST(n AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin,

    // incremental-components replica: the final labeling is closed-form —
    // copies 0/1/2 of each base id merge into component = base id, the
    // brand-new 3/4 pair labels to its min (base id + 300000)
    "q_dedup_components_incr" ->
      """WITH ids AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id < 100000)
        |SELECT doc_id AS node, doc_id AS component FROM ids
        |UNION ALL SELECT doc_id + 100000, doc_id FROM ids
        |UNION ALL SELECT doc_id + 200000, doc_id FROM ids
        |UNION ALL SELECT doc_id + 300000, doc_id + 300000 FROM ids
        |UNION ALL SELECT doc_id + 400000, doc_id + 300000 FROM ids""".stripMargin,

    // equi-depth replica: identical integer cum-before · nBins // n bin rule
    "q_profile_eqdepth" ->
      """WITH d AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, COUNT(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, c,
        |    COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS bef,
        |    SUM(c) OVER () AS n FROM d)
        |SELECT CAST(bef * 8 // n AS BIGINT) AS bin, MIN(v) AS lo, MAX(v) AS hi,
        |  CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |FROM cum GROUP BY 1""".stripMargin,

    // schema-drift union replica: DuckDB re-plays the same widen-and-null
    // projections; REAL→DOUBLE is the identical IEEE widening on both sides
    "q_union_evolve" ->
      """SELECT CAST(o_orderkey AS INT)::BIGINT AS o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice * 2, o_orderstatus
        |FROM orders""".stripMargin,

    // canonicalization replica: DuckDB's nfc_normalize must compose the
    // same decomposed suffix (combining acute/diaeresis, appended via
    // single-quoted concat because triple-quoted Scala does not process
    // \uXXXX) to the same lowercase bytes
    "q_text_canonical" ->
      ("SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(text || ' CAFE\u0301 NAI\u0308VE')), " +
        "'\\s+', ' ', 'g')) AS canon FROM documents WHERE text IS NOT NULL"),

    // markup-strip replica: the SQL is GENERATED from the operator's own
    // pattern/replacement chains (stripMarkupSql), so the two cannot
    // drift; only the page construction is restated here
    "q_text_markup" -> {
      val html = "'<html><head><style>p { color: red; }</style></head>" +
        "<body onload=\"init()\"><h1>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "'</h1><p>' || text || '</p>' || " +
        "CASE WHEN doc_id % 3 = 0 THEN " +
        "'<script type=\"text/javascript\">var x = 1 < 2;</script>' " +
        "ELSE '' END || " +
        "'<!-- footer --><p>a&nbsp;b &lt;tag&gt; &quot;q&quot; " +
        "&#39;s&#39; T&amp;C &amp;lt;</p></body></html>'"
      s"SELECT doc_id, ${graft.functions.TextAnalysis.stripMarkupSql(html)} AS clean " +
        "FROM documents WHERE text IS NOT NULL"
    },

    // group-topk replica: the naive full-sort row_number the heap
    // aggregate must reproduce exactly, ties to smaller event_id
    "q_group_topk" ->
      """SELECT event_type, rank, cents, event_id FROM (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id) AS BIGINT) AS rank
        |  FROM events WHERE value IS NOT NULL) WHERE rank <= 10""".stripMargin,

    // hash-ring negative sampling replica: ranks from a window (fine at
    // oracle scale), offsets from the same "i:salt" sha recipe, rotation
    // joins on the target rank
    "q_sample_negatives" ->
      """WITH ring0 AS (SELECT doc_id,
        |    CAST(concat('0x', substr(sha256(concat(CAST(doc_id AS VARCHAR), ':neg')), 1, 15)) AS BIGINT) AS pos
        |  FROM (SELECT DISTINCT doc_id FROM documents)),
        |ring AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY pos, doc_id) - 1 AS rk FROM ring0),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM ring),
        |offs0 AS (SELECT j, CASE WHEN oo = 0 THEN 1 ELSE oo END AS off FROM (
        |  SELECT j, CAST(concat('0x', substr(sha256(concat(CAST(j AS VARCHAR), ':neg')), 1, 15)) AS BIGINT) % cnt AS oo
        |  FROM range(76) t(j) CROSS JOIN n) s),
        |firsts AS (SELECT off, MIN(j) AS fj FROM offs0 GROUP BY off),
        |offs AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY fj) - 1 AS INTEGER) AS i, off
        |  FROM firsts ORDER BY fj LIMIT 3),
        |probes AS (SELECT r.doc_id AS anchor_id, offs.i AS probe_idx,
        |    (r.rk + offs.off) % cnt AS rk
        |  FROM ring r CROSS JOIN offs CROSS JOIN n)
        |SELECT p.anchor_id, p.probe_idx, t.doc_id AS neg_id
        |FROM probes p JOIN ring t ON t.rk = p.rk""".stripMargin,

    // skip-gram PMI replica: pairs from a bounded position self-join
    // (b.p in (a.p, a.p+2]), the same per-term micro-bit log composition
    "q_text_pmi" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''),
        |uni AS (SELECT unnest(w) AS tok FROM toks),
        |ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
        |ut AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM ucnt),
        |pos AS (SELECT doc_id, generate_subscripts(w, 1) AS p, unnest(w) AS tok FROM toks),
        |prs AS (SELECT a.tok AS w1, b.tok AS w2 FROM pos a JOIN pos b
        |  ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 2),
        |pcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM prs GROUP BY 1, 2),
        |pt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS tp FROM pcnt)
        |SELECT w1, w2, n_pair,
        |  CAST(ROUND(LOG2(CAST(n_pair AS DOUBLE)) * 1000000) AS BIGINT)
        |  + 2 * CAST(ROUND(LOG2(CAST(tu AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(tp AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(c1.c AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(c2.c AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micro
        |FROM pcnt
        |JOIN ucnt c1 ON c1.tok = pcnt.w1
        |JOIN ucnt c2 ON c2.tok = pcnt.w2
        |CROSS JOIN ut CROSS JOIN pt
        |WHERE n_pair >= 5""".stripMargin,

    // gaps-and-islands replica: running-max end over (start, end) order
    // opens an island when start exceeds it; islands aggregate to spans
    "q_events_intervals" ->
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000 AS st,
        |    epoch_ns(ts) // 1000 + 7200000000 AS en FROM events),
        |m AS (SELECT user_id, st, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |f AS (SELECT user_id, st, en,
        |    CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS nw FROM m),
        |i AS (SELECT user_id, st, en,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY st, en
        |                  ROWS UNBOUNDED PRECEDING) AS isl FROM f)
        |SELECT user_id, MIN(st) AS span_start_us, MAX(en) AS span_end_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals
        |FROM i GROUP BY user_id, isl""".stripMargin,

    "q_events_gaps" ->
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000 AS st,
        |    epoch_ns(ts) // 1000 + 7200000000 AS en FROM events),
        |m AS (SELECT user_id, st, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |f AS (SELECT user_id, st, en,
        |    CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS nw FROM m),
        |i AS (SELECT user_id, st, en,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY st, en
        |                  ROWS UNBOUNDED PRECEDING) AS isl FROM f),
        |spans AS (SELECT user_id, MIN(st) AS span_start, MAX(en) AS span_end
        |  FROM i GROUP BY user_id, isl)
        |SELECT user_id, pe AS gap_start_us, span_start AS gap_end_us FROM (
        |  SELECT user_id, span_start,
        |    LAG(span_end) OVER (PARTITION BY user_id ORDER BY span_start) AS pe
        |  FROM spans) t
        |WHERE pe IS NOT NULL""".stripMargin,

    "q_sim_pq_topk" -> pqTopKOracleSql,

    "q_sim_ivfpq_topk" -> ivfPqTopKOracleSql(),
    // minhash+LSH verified pairs ⊆ brute-force pairs by construction (the
    // verify step recomputes exact Jaccard); equality with the brute-force
    // set additionally asserts full recall at the configured banding.
    "q_dedup_minhash" ->
      """WITH w AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin,

    "q_dedup_simhash" -> simhashOracleSql,

    // brute-force CROSS-side jaccard (new batch × history) — the incremental
    // operator's banding reaches full recall at this setting, so equality
    // with the exhaustive cross set also asserts recall
    "q_dedup_minhash_incr" ->
      """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 800000, text FROM documents WHERE doc_id % 35 = 1),
        |tn AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM newb)),
        |th AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM hist)),
        |sn AS (SELECT doc_id, COUNT(*) n FROM tn GROUP BY doc_id),
        |sh AS (SELECT doc_id, COUNT(*) n FROM th GROUP BY doc_id),
        |co AS (SELECT n.doc_id AS new_id, h.doc_id AS hist_id,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tn n JOIN th h ON n.tok = h.tok GROUP BY 1, 2)
        |SELECT new_id, hist_id,
        |  CAST(inter AS DOUBLE) / CAST(sn.n + sh.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sn ON sn.doc_id = new_id JOIN sh ON sh.doc_id = hist_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sn.n + sh.n - inter AS DOUBLE) >= 0.8""".stripMargin,

    "q_sim_lsh_topk" -> lshTopKOracleSql,

    "q_dedup_embedding_lsh" -> embeddingLshOracleSql,

    "q_dedup_semantic" -> semanticDecontaminateOracleSql,

    "q_sim_ivf_topk" -> ivfTopKOracleSql,

    "q_multimodal_decode" ->
      """WITH h AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb,
        |    CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) AS hv
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE hv % 1920 + 1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE (hv // 1920) % 1080 + 1 END AS INTEGER) AS height,
        |  CAST(CASE WHEN nb = 0 THEN 0 ELSE 3 END AS INTEGER) AS channels,
        |  nb AS n_bytes
        |FROM h""".stripMargin,
    // Closed-form mirror of the real-PNG round trip: syntheticPngs paints a
    // constant-gray (v = id%256) image of (id%30+1)×(id%17+1), so the
    // decoded dims are the formulas, channels is 3 (RGB PNG), and the
    // 1-band mean luminance is exactly v/255 (BT.601 luma of r=g=b=v is v;
    // float32 rounding absorbs the double-accumulation error). Truncated
    // payloads (id%50=0) degrade to zeros by the codec contract.
    "q_multimodal_real_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 30 + 1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 17 + 1 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 3 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0.0
        |       ELSE (doc_id % 256) / 255.0 END AS REAL) AS band_luma
        |FROM documents""".stripMargin,

    // Closed-form mirror of the real-WAV round trip (see syntheticWavs):
    // n = id%400+50 constant-amplitude frames at 8 kHz mono; RMS of a
    // constant signal is |v|/32768 exactly (power-of-two divisor, 14-bit
    // amplitude — float-exact); truncated payloads degrade to zeros
    "q_multimodal_audio" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 400 + 50 END AS INTEGER) AS n_frames,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 8000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 1 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0.0
        |       ELSE abs((doc_id % 1024) - 512) * 32 / 32768.0 END AS REAL) AS rms
        |FROM documents""".stripMargin,

    // Closed-form mirror of the real-MJPEG round trip (see syntheticMjpegs):
    // n = id%4+1 frames of (id%28+8)×(id%20+8) — dims/count survive JPEG's
    // lossy pixel path because they come from the header walk and segment
    // parse; truncated streams (id%50=0) degrade to zeros
    "q_multimodal_video" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 28 + 8 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 20 + 8 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE doc_id % 4 + 1 END AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    "q_s1_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'""".stripMargin,

    "q_s2_table_scan" -> "SELECT r_regionkey, r_name FROM region",

    // the round trip must be lossless, so the oracle reads the ORIGINAL
    // table: any write/read corruption in either sink shows up as a sum or
    // count mismatch between the two re-read copies and this baseline
    "q_sink_roundtrip" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents_bkt
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // replicates windowedStats' tumbling 1h windows (epoch-aligned, as
    // Spark's window() is) over micro-quantized values; the streamed
    // complete-mode result must equal the full batch aggregation
    "q_stream_windowed" ->
      """SELECT (epoch_ns(ts) // 1000) // 3600000000 * 3600000000 AS window_start_us,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micros
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the injected duplicates are byte-identical rows, so streaming
    // first-occurrence dedup must reproduce exactly the distinct row set
    "q_stream_dedup" ->
      """SELECT DISTINCT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id,
        |  event_type, value FROM events""".stripMargin,

    "q_s5_local_broadcast" ->
      """SELECT r.r_regionkey, r.r_name, v.expected_name
        |FROM region r
        |JOIN (VALUES (0, 'AFRICA'), (1, 'AMERICA')) v(r_regionkey, expected_name)
        |  ON r.r_regionkey = v.r_regionkey""".stripMargin,

    "q_p3_checksum" ->
      """SELECT c_custkey, sha256(concat_ws('', c_name, c_mktsegment)) AS row_chk
        |FROM customer""".stripMargin,

    "q_p4_rename" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS l_quantity_src,
        |  l_extendedprice AS l_extendedprice_src FROM lineitem""".stripMargin,

    "q_a1_condsum" ->
      """SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders""".stripMargin,

    "q_a2_dup_keys" ->
      """WITH u AS (SELECT * FROM customer
        |           UNION ALL SELECT * FROM customer WHERE c_custkey % 100 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS dup_key_count
        |FROM (SELECT c_custkey FROM u GROUP BY c_custkey HAVING COUNT(*) > 1) g""".stripMargin,

    "q_w1_dup_window" ->
      """SELECT l_orderkey, l_linenumber,
        |  COUNT(*) OVER (PARTITION BY l_orderkey) - 1 AS duplicate_count
        |FROM lineitem""".stripMargin,

    "q_u2_unpivot" ->
      """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount,
        |  CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS high_tax
        |  FROM lineitem)
        |SELECT 'high_discount' AS column_name, high_discount AS unmatched_rows_count FROM a
        |UNION ALL
        |SELECT 'high_tax' AS column_name, high_tax AS unmatched_rows_count FROM a""".stripMargin,

    "q_j1_full_outer" ->
      """WITH src AS (SELECT o_orderkey, o_totalprice AS price_src FROM orders WHERE o_orderkey % 3 != 0),
        |tgt AS (SELECT o_orderkey, o_totalprice AS price_target FROM orders WHERE o_orderkey % 5 != 0)
        |SELECT COALESCE(src.o_orderkey, tgt.o_orderkey) AS o_orderkey, price_src, price_target,
        |  CASE WHEN price_src IS NULL THEN 'MISSING_AT_SOURCE'
        |       WHEN price_target IS NULL THEN 'MISSTING_AT_TARGET'
        |       ELSE 'PRESENT_IN_BOTH' END AS missing_row_status
        |FROM src FULL OUTER JOIN tgt ON src.o_orderkey = tgt.o_orderkey""".stripMargin,

    "q_j2_left_coalesce" ->
      """SELECT o_orderkey, COALESCE(c_name, 'UNKNOWN') AS cust_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q_j3_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,

    "q_j4_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    // the Bloom prefilter is exactness-preserving (no false negatives +
    // exact verify join), so the oracle is the plain EXISTS
    "q_j5_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey
        |    AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    // GROUPING() in DuckDB and grouping_id() in Spark emit the same
    // bitmask (left column = MSB, 1 = aggregated-away)
    "q_a6_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_a8_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    // quantile_cont ≡ Spark percentile: linear interpolation between the
    // two adjacent order statistics; exact on integer cents at quarter
    // fractions
    "q_a7_percentile" ->
      """SELECT o_orderpriority,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25) AS p25_cents,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)  AS p50_cents,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75) AS p75_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_w3_topn_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_u4_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q_u5_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // the DIRECT one-shot rollup — proving Incremental.mergeStats ∘
    // partialStats collapses to the same answer
    "q_agg_incremental" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(l_quantity) AS BIGINT) AS n_vals,
        |  CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  CAST(MIN(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS min_scaled,
        |  CAST(MAX(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS max_scaled
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // replicates partialQuantiles+mergeQuantiles via the merge law (bin
    // directly): floor-division bins, exact integer ceil thresholds, the
    // first bin whose cumulative count reaches rank ⌈q·N/10⁶⌉
    "q_agg_quantile_state" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |bins AS (SELECT l_returnflag,
        |    (v - ((v % 100000 + 100000) % 100000)) // 100000 AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT *,
        |    SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    SUM(n) OVER (PARTITION BY l_returnflag) AS total
        |  FROM bins),
        |q AS (SELECT c.*, q_ppm FROM c
        |  CROSS JOIN (VALUES (250000), (500000), (900000), (990000)) AS qs(q_ppm)),
        |sel AS (SELECT *, GREATEST((q_ppm * total + 999999) // 1000000, 1) AS thresh FROM q)
        |SELECT l_returnflag, CAST(q_ppm AS BIGINT) AS q_ppm,
        |  CAST(bin * 100000 AS BIGINT) AS q_lo_scaled,
        |  CAST(bin * 100000 + 99999 AS BIGINT) AS q_hi_scaled,
        |  CAST(total AS BIGINT) AS n_rows
        |FROM sel WHERE cum >= thresh AND cum - n < thresh""".stripMargin,

    // replicates Layout.planCompaction: running-sum next-fit groups per
    // lang partition in path order
    "q_layout_compact" ->
      """WITH f AS (SELECT lang, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
        |    n_chars AS bytes FROM documents),
        |w AS (SELECT *, coalesce(sum(bytes) OVER (PARTITION BY lang ORDER BY path
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr FROM f)
        |SELECT lang, path, bytes,
        |  CAST(bfr // 20000 AS BIGINT) AS compaction_group,
        |  bytes >= 20000 AS is_right_sized
        |FROM w""".stripMargin,

    "q_o1_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_d1_dropdup" -> "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",

    "q_d2_distinct" -> "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    // fingerprint replica: same scenario CTEs (minus the price column the
    // query excludes), same '0x'+sha256-prefix row hash, same bucket mod,
    // exact DECIMAL(38,0) sums — one wrong byte in the concat order, hash
    // width, or null handling breaks the hash match. Each column is
    // isnull-tagged ('0' | '1'+value) exactly as Fingerprint.tagged does,
    // so NULL-position swaps hash differently on both engines.
    "q_compare_fingerprint" -> {
      def tag(c: String): String =
        s"concat(CASE WHEN $c IS NULL THEN '0' ELSE '1' END, COALESCE(CAST($c AS VARCHAR), ''))"
      val rowTags = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority").map(tag).mkString(",\n      ")
      s"""WITH src AS (SELECT * FROM orders WHERE o_orderkey % 19 != 0),
        |t0 AS (SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 13 != 0),
        |tgt AS (SELECT * FROM t0 UNION ALL SELECT * FROM t0
        |        WHERE o_orderkey % 1000 = 17 AND o_orderkey % 7 != 0
        |          AND o_orderkey % 11 != 0 AND o_orderkey % 23 != 0),
        |sh AS (SELECT ${tag("o_orderkey")} AS tk,
        |    concat_ws('|', $rowTags) AS tr FROM src),
        |th AS (SELECT ${tag("o_orderkey")} AS tk,
        |    concat_ws('|', $rowTags) AS tr FROM tgt),
        |sf AS (SELECT
        |    CAST(concat('0x', substr(sha256(tk), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS src_rows,
        |    CAST(SUM(CAST(concat('0x', substr(sha256(tr), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS src_fp
        |  FROM sh GROUP BY 1),
        |tf AS (SELECT
        |    CAST(concat('0x', substr(sha256(tk), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS tgt_rows,
        |    CAST(SUM(CAST(concat('0x', substr(sha256(tr), 1, 15)) AS BIGINT))
        |      AS DECIMAL(38,0)) AS tgt_fp
        |  FROM th GROUP BY 1)
        |SELECT COALESCE(sf.bucket, tf.bucket) AS bucket,
        |  COALESCE(src_rows, 0) AS src_rows, COALESCE(tgt_rows, 0) AS tgt_rows,
        |  (src_rows IS NOT DISTINCT FROM tgt_rows
        |   AND src_fp IS NOT DISTINCT FROM tgt_fp) AS bucket_match
        |FROM sf FULL OUTER JOIN tf ON tf.bucket = sf.bucket""".stripMargin
    },

    "q_compare_row_lvl" ->
      (cmpCte +
        """SELECT 'orders_cmp' AS dataset_name, o_orderkey, duplicate_count,
          |  missing_row_status, all_rows_matched FROM row_lvl""".stripMargin),

    "q_compare_col_lvl" ->
      (cmpCte +
        """SELECT 'orders_cmp' AS dataset_name, c.column_name,
          |  CAST(COALESCE(SUM(CASE WHEN present AND NOT exact AND NOT tol
          |    AND NOT (CASE c.column_name
          |      WHEN 'o_custkey' THEN m_ck WHEN 'o_orderstatus' THEN m_st
          |      WHEN 'o_totalprice' THEN m_pr WHEN 'o_orderdate' THEN m_dt
          |      ELSE m_pri END)
          |    THEN cs*ct ELSE 0 END), 0) AS BIGINT) AS unmatched_rows_count
          |FROM jm CROSS JOIN (VALUES ('o_custkey'), ('o_orderstatus'), ('o_totalprice'),
          |  ('o_orderdate'), ('o_orderpriority')) c(column_name)
          |GROUP BY c.column_name""".stripMargin),

    "q_compare_overall" ->
      (cmpCte +
        """SELECT 'orders_cmp' AS dataset_name,
          |  (SELECT COUNT(*) FROM src) AS source_count,
          |  (SELECT COUNT(*) FROM tgt) AS target_count,
          |  (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched) AS matched_count,
          |  (SELECT COUNT(*) FROM s WHERE cs > 1) AS source_duplicate_count,
          |  (SELECT COUNT(*) FROM t WHERE ct > 1) AS target_duplicate_count,
          |  (SELECT COUNT(*) FROM row_lvl WHERE missing_row_status = 'MISSING_AT_SOURCE') AS source_missing_rows,
          |  (SELECT COUNT(*) FROM row_lvl WHERE missing_row_status = 'MISSTING_AT_TARGET') AS target_missing_rows,
          |  CASE WHEN (SELECT COUNT(*) FROM src) = (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched)
          |        AND (SELECT COUNT(*) FROM tgt) = (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched)
          |       THEN 'PASSED' ELSE 'FAILED' END AS test_status""".stripMargin),

    // the clean fast path: identical sides, so every key matches and the
    // verdict is PASSED iff the PK is actually unique (src_total ==
    // matched == tgt_total, the engine's exact rule)
    "q_compare_clean" ->
      """WITH k AS (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1)
        |SELECT 'orders_clean' AS dataset_name,
        |  (SELECT COUNT(*) FROM orders) AS source_count,
        |  (SELECT COUNT(*) FROM orders) AS target_count,
        |  (SELECT COUNT(*) FROM k) AS matched_count,
        |  (SELECT COUNT(*) FROM k WHERE c > 1) AS source_duplicate_count,
        |  (SELECT COUNT(*) FROM k WHERE c > 1) AS target_duplicate_count,
        |  CAST(0 AS BIGINT) AS source_missing_rows,
        |  CAST(0 AS BIGINT) AS target_missing_rows,
        |  CASE WHEN (SELECT COUNT(*) FROM orders) = (SELECT COUNT(*) FROM k)
        |       THEN 'PASSED' ELSE 'FAILED' END AS test_status""".stripMargin,

    // hot-key M×N replica: both sides hold 64 identical copies of each
    // ~1/9973rd key, so every key matches, hot keys report M·N−1 = 4095
    // cross-product duplicates, and non-hot keys 0 (o_orderkey is unique
    // in the base table)
    "q_compare_hotkey" ->
      """SELECT 'orders_hotkey' AS dataset_name, o_orderkey,
        |  CAST(CASE WHEN o_orderkey % 9973 = 17 THEN 4095 ELSE 0 END AS BIGINT) AS duplicate_count,
        |  'PRESENT_IN_BOTH' AS missing_row_status,
        |  TRUE AS all_rows_matched
        |FROM orders""".stripMargin,

    // the expected verdicts are pure key arithmetic — deliberately: the
    // oracle needs no map semantics, so the row is green ONLY if the
    // engine's key-sorted canonicalization makes insertion order invisible
    "q_compare_map" ->
      """SELECT 'orders_map' AS dataset_name, o_orderkey,
        |  CAST(0 AS BIGINT) AS duplicate_count,
        |  'PRESENT_IN_BOTH' AS missing_row_status,
        |  (o_orderkey % 11 <> 0) AS all_rows_matched
        |FROM orders""".stripMargin,

    "q_compare_widen" ->
      """SELECT 'orders_widen' AS dataset_name, o_orderkey,
        |  CAST(0 AS BIGINT) AS duplicate_count,
        |  'PRESENT_IN_BOTH' AS missing_row_status,
        |  (o_orderkey % 13 <> 0) AS all_rows_matched
        |FROM orders""".stripMargin,

    // three overall rows, all pure key arithmetic: the clean dataset
    // PASSES with full counts, the %101-drifted one FAILS with
    // count-minus-drifted matched, and the irreconcilable one is the
    // engine's FAILED-with-zeros capture shape (zeros are unambiguous —
    // an empty dataset compares PASSED, so this row can only mean "never
    // ran")
    "q_compare_failisol" ->
      """WITH n AS (SELECT COUNT(*) AS c FROM orders),
        |     m AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT 'orders_ok' AS dataset_name,
        |  (SELECT c FROM n) AS source_count,
        |  (SELECT c FROM n) AS target_count,
        |  (SELECT c FROM n) AS matched_count,
        |  CAST(0 AS BIGINT) AS source_duplicate_count,
        |  CAST(0 AS BIGINT) AS target_duplicate_count,
        |  CAST(0 AS BIGINT) AS source_missing_rows,
        |  CAST(0 AS BIGINT) AS target_missing_rows,
        |  'PASSED' AS test_status
        |UNION ALL
        |SELECT 'orders_badtype',
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), 'FAILED'
        |UNION ALL
        |SELECT 'orders_drift',
        |  (SELECT c FROM n), (SELECT c FROM n),
        |  (SELECT c FROM n) - (SELECT c FROM m),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT),
        |  CASE WHEN (SELECT c FROM m) = 0 THEN 'PASSED' ELSE 'FAILED' END""".stripMargin,

    "q_compare_multi" ->
      (cmpCte +
        """, esrc AS (SELECT * FROM embeddings WHERE vec_id % 19 != 0),
          |etgt AS (SELECT vec_id,
          |    CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding) ELSE embedding END AS embedding,
          |    label FROM embeddings WHERE vec_id % 13 != 0),
          |erow AS (SELECT COALESCE(s.vec_id, t.vec_id) AS vec_id,
          |  CASE WHEN s.vec_id IS NULL THEN 'MISSING_AT_SOURCE'
          |       WHEN t.vec_id IS NULL THEN 'MISSTING_AT_TARGET'
          |       ELSE 'PRESENT_IN_BOTH' END AS status,
          |  COALESCE(s.vec_id IS NOT NULL AND t.vec_id IS NOT NULL
          |    AND s.embedding IS NOT DISTINCT FROM t.embedding
          |    AND s.label IS NOT DISTINCT FROM t.label, FALSE) AS matched
          |  FROM esrc s FULL OUTER JOIN etgt t ON s.vec_id = t.vec_id)
          |SELECT 'orders_cmp' AS dataset_name,
          |  (SELECT COUNT(*) FROM src) AS source_count,
          |  (SELECT COUNT(*) FROM tgt) AS target_count,
          |  (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched) AS matched_count,
          |  (SELECT COUNT(*) FROM s WHERE cs > 1) AS source_duplicate_count,
          |  (SELECT COUNT(*) FROM t WHERE ct > 1) AS target_duplicate_count,
          |  (SELECT COUNT(*) FROM row_lvl WHERE missing_row_status = 'MISSING_AT_SOURCE') AS source_missing_rows,
          |  (SELECT COUNT(*) FROM row_lvl WHERE missing_row_status = 'MISSTING_AT_TARGET') AS target_missing_rows,
          |  CASE WHEN (SELECT COUNT(*) FROM src) = (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched)
          |        AND (SELECT COUNT(*) FROM tgt) = (SELECT COUNT(*) FROM row_lvl WHERE all_rows_matched)
          |       THEN 'PASSED' ELSE 'FAILED' END AS test_status
          |UNION ALL
          |SELECT 'emb_cmp' AS dataset_name,
          |  (SELECT COUNT(*) FROM esrc),
          |  (SELECT COUNT(*) FROM etgt),
          |  (SELECT COUNT(*) FROM erow WHERE matched),
          |  CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          |  (SELECT COUNT(*) FROM erow WHERE status = 'MISSING_AT_SOURCE'),
          |  (SELECT COUNT(*) FROM erow WHERE status = 'MISSTING_AT_TARGET'),
          |  CASE WHEN (SELECT COUNT(*) FROM esrc) = (SELECT COUNT(*) FROM erow WHERE matched)
          |        AND (SELECT COUNT(*) FROM etgt) = (SELECT COUNT(*) FROM erow WHERE matched)
          |       THEN 'PASSED' ELSE 'FAILED' END""".stripMargin),

    "q_compare_arrays" ->
      """WITH src AS (SELECT * FROM embeddings WHERE vec_id % 19 != 0),
        |tgt AS (SELECT vec_id,
        |    CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding) ELSE embedding END AS embedding,
        |    label FROM embeddings WHERE vec_id % 13 != 0)
        |SELECT 'emb_cmp' AS dataset_name, COALESCE(s.vec_id, t.vec_id) AS vec_id,
        |  CAST(0 AS BIGINT) AS duplicate_count,
        |  CASE WHEN s.vec_id IS NULL THEN 'MISSING_AT_SOURCE'
        |       WHEN t.vec_id IS NULL THEN 'MISSTING_AT_TARGET'
        |       ELSE 'PRESENT_IN_BOTH' END AS missing_row_status,
        |  COALESCE(s.vec_id IS NOT NULL AND t.vec_id IS NOT NULL
        |    AND s.embedding IS NOT DISTINCT FROM t.embedding
        |    AND s.label IS NOT DISTINCT FROM t.label, FALSE) AS all_rows_matched
        |FROM src s FULL OUTER JOIN tgt t ON s.vec_id = t.vec_id""".stripMargin,

    // replica of the struct-column engine scenario: to_json canonicalization
    // is injective for a fixed struct schema (a null field is OMITTED from
    // the json, never colliding with any non-null value), so checksum
    // equality ≙ null-safe field-wise equality — which DuckDB states
    // directly on the underlying fields
    "q_compare_struct" ->
      """WITH src AS (SELECT o_orderkey, o_orderstatus AS status,
        |    o_orderpriority AS priority, o_custkey
        |  FROM orders WHERE o_orderkey % 19 != 0),
        |tgt AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
        |    o_orderpriority AS priority, o_custkey
        |  FROM orders WHERE o_orderkey % 13 != 0)
        |SELECT 'orders_struct' AS dataset_name, COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CAST(0 AS BIGINT) AS duplicate_count,
        |  CASE WHEN s.o_orderkey IS NULL THEN 'MISSING_AT_SOURCE'
        |       WHEN t.o_orderkey IS NULL THEN 'MISSTING_AT_TARGET'
        |       ELSE 'PRESENT_IN_BOTH' END AS missing_row_status,
        |  COALESCE(s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
        |    AND s.status IS NOT DISTINCT FROM t.status
        |    AND s.priority IS NOT DISTINCT FROM t.priority
        |    AND s.o_custkey IS NOT DISTINCT FROM t.o_custkey, FALSE) AS all_rows_matched
        |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS INTEGER) AS n_tokens,
        |  CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS DOUBLE) END AS mean_token_len,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS upper_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(
        |              string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |              x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS DOUBLE)
        |            / CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS DOUBLE) END AS stopword_ratio
        |FROM documents""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // replicates TextAnalysis.repetitionStats over the line-dup-augmented
    // corpus: non-blank trimmed lines; word n-gram repeat fractions as
    // (total − distinct)/total — integer subtraction over one IEEE
    // division, bit-identical across engines
    "q_text_repetition" ->
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || chr(10) || 'repeat line' || chr(10) || 'repeat line'
        |         ELSE text END AS text
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
        |         END AS words
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(lines) AS INTEGER) AS n_lines,
        |  CASE WHEN len(lines) = 0 THEN 0.0
        |       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |            / CAST(len(lines) AS DOUBLE) END AS dup_line_ratio,
        |  CASE WHEN len(words) - 1 <= 0 THEN 0.0
        |       ELSE CAST((len(words) - 1) - len(list_distinct(list_transform(
        |              range(1, len(words)), i -> words[i] || ' ' || words[i+1]))) AS DOUBLE)
        |            / CAST(len(words) - 1 AS DOUBLE) END AS dup_2gram_ratio,
        |  CASE WHEN len(words) - 2 <= 0 THEN 0.0
        |       ELSE CAST((len(words) - 2) - len(list_distinct(list_transform(
        |              range(1, len(words) - 1),
        |              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS DOUBLE)
        |            / CAST(len(words) - 2 AS DOUBLE) END AS dup_3gram_ratio
        |FROM b""".stripMargin,

    // replicates sourceReport over the mirror-augmented corpus: global
    // fingerprint occurrence vote, then integer-sum per-source stats with
    // two final exact divisions
    "q_source_report" ->
      """WITH aug AS (
        |  SELECT source, lang, text FROM documents
        |  UNION ALL SELECT 'srcX', lang, text FROM documents WHERE doc_id % 10 = 0),
        |f AS (SELECT source, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS toks,
        |    sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM aug),
        |c AS (SELECT fp, COUNT(*) AS n FROM f GROUP BY fp)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction,
        |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS mean_doc_tokens
        |FROM f JOIN c USING (fp)
        |GROUP BY source""".stripMargin,

    // replicates duplicatedWindowStats over the passage-augmented corpus:
    // 5-token rolling windows (order-sensitive, duplicates kept), global
    // occurrence counts, per-doc duplicated-window stats; docs under 5
    // tokens emit no windows and no row in either engine
    "q_text_dupspans" ->
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN text || ' this exact passage was pasted into many documents verbatim'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
        |  FROM a),
        |wins AS (SELECT doc_id, unnest(list_transform(range(len(w) - 4),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS win
        |  FROM t),
        |c AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n FROM wins GROUP BY win)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction
        |FROM wins JOIN c USING (win)
        |GROUP BY doc_id""".stripMargin,

    // replicates unigramLogProbScore: per-token surprisal log2(T/C) rounded
    // to integer micro-bits (pure function of the (C, T) longs), summed
    // exactly, one division back per doc — summation-order-independent
    "q_text_unigram_ppl" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
        |costed AS (SELECT tok,
        |    CAST(round(log2(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT) AS cost
        |  FROM freq, tot)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(cost) AS DOUBLE) / COUNT(*) / 1000000.0 AS bits_per_token
        |FROM toks JOIN costed USING (tok)
        |GROUP BY doc_id""".stripMargin,

    // replicates bigramLogProbScore: ctx(w1) = Σ_w c(w1 w), micro-bit
    // rounded costs, docs with < 2 tokens coalesce to (0, 0.0)
    "q_text_bigram_ppl" ->
      """WITH w AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |bgs AS (SELECT doc_id,
        |    unnest(list_transform(range(len(words) - 1),
        |      i -> words[i+1] || ' ' || words[i+2])) AS bg
        |  FROM w),
        |freq AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bgs GROUP BY bg),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctxc FROM freq GROUP BY w1),
        |costed AS (SELECT bg,
        |    CAST(round(log2(CAST(ctxc AS DOUBLE) / c) * 1000000) AS BIGINT) AS cost
        |  FROM freq JOIN ctx USING (w1)),
        |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(cost) AS BIGINT) AS s
        |  FROM bgs JOIN costed USING (bg) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  COALESCE(CAST(sc.s AS DOUBLE) / sc.n_bigrams / 1000000.0, 0.0) AS bits_per_bigram
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // replicates TextAnalysis.langId: hits = #distinct marker words present;
    // winner = max hits, ties to the lexicographically LAST language; 'und'
    // when no marker hits at all
    "q_text_langid" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS tok
        |  FROM documents),
        |m(lang, tok) AS (VALUES
        |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
        |  ('de','nicht'),('de','ein'),('de','mit'),('de','für'),('de','auf'),
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('en','is'),('en','that'),('en','it'),('en','for'),('en','with'),
        |  ('es','el'),('es','la'),('es','los'),('es','y'),('es','es'),
        |  ('es','no'),('es','una'),('es','por'),('es','con'),('es','para'),
        |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),
        |  ('fr','pas'),('fr','une'),('fr','pour'),('fr','dans'),('fr','que')),
        |hits AS (SELECT t.doc_id, m.lang, COUNT(DISTINCT t.tok) AS h
        |         FROM toks t JOIN m ON t.tok = m.tok GROUP BY 1, 2),
        |alllang AS (SELECT d.doc_id, l.lang, COALESCE(h.h, 0) AS h
        |  FROM documents d CROSS JOIN (SELECT DISTINCT lang FROM m) l
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = l.lang),
        |best AS (SELECT doc_id, lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
        |  FROM alllang)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN b.h > 0 THEN b.lang ELSE 'und' END AS predicted_lang
        |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin,

    // replicates TextAnalysis.approxBpeTokenCount: per word,
    // max(1, ceil(len/4)) sub-word tokens, summed; 0 for blank text
    "q_text_bpe" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE list_sum(list_transform(
        |              string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |              w -> greatest(1, CAST(ceil(length(w) / 4.0) AS INTEGER))))
        |       END AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q_skew_salted_sum" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem GROUP BY 1""".stripMargin,

    // replicates Similarity.l2Normalize: the norm's fold is sequential in
    // element order on both sides (list_reduce ≙ the kernel's acc loop),
    // so the doubles are bit-identical; unnested to scalar rows to match
    // the posexplode'd Spark output component-by-component
    "q_sim_normalize" ->
      """SELECT vec_id,
        |  CAST(generate_subscripts(unit, 1) - 1 AS INTEGER) AS pos,
        |  unnest(unit) AS unit_v
        |FROM (SELECT vec_id,
        |        CASE WHEN n2 IS NULL OR n2 = 0 THEN de
        |             ELSE list_transform(de, v -> v / sqrt(n2)) END AS unit
        |      FROM (SELECT vec_id,
        |              list_transform(embedding, v -> CAST(v AS DOUBLE)) AS de,
        |              list_reduce(
        |                list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        |                (a, b) -> a + b) AS n2
        |            FROM embeddings))""".stripMargin,

    // replicates Dedup.dropSeenDocuments: anti-join on the normalized
    // sha256 fingerprint
    "q_dedup_incremental" ->
      """WITH seen AS (SELECT DISTINCT sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 3 != 0)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE sha256(trim(regexp_replace(d.text, '\s+', ' ', 'g'))) NOT IN (SELECT fp FROM seen)""".stripMargin,

    // replicates Dedup.dropRepeatedLines over the same wrapped fixture:
    // global first occurrence by (doc, pos) per distinct line (partitioning
    // by the line itself ≡ Spark's sha256-of-line shuffle key), short lines
    // always kept, documents reassembled in original line order
    "q_dedup_lines" ->
      """WITH fix AS (SELECT doc_id AS doc,
        |    'Subscribe to our newsletter today for updates and member offers!'
        |    || chr(10) || text || chr(10) || '(c) Example Corp' || chr(10)
        |    || 'All rights reserved worldwide - see the site terms of use.' AS text
        |  FROM documents),
        |ls AS (SELECT doc, string_split(text, chr(10)) AS arr FROM fix),
        |ln AS (SELECT doc, unnest(arr) AS line, unnest(range(len(arr))) AS pos FROM ls),
        |flag AS (SELECT doc, pos, line, length(trim(line)) >= 30 AS dedupable FROM ln),
        |keep AS (
        |  SELECT doc, pos, line FROM (
        |    SELECT doc, pos, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc, pos) AS rn
        |    FROM flag WHERE dedupable) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc, pos, line FROM flag WHERE NOT dedupable),
        |tot AS (SELECT doc, count(*) AS n FROM ln GROUP BY doc)
        |SELECT t.doc AS doc,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS clean_text,
        |  CAST(count(k.pos) AS BIGINT) AS n_lines_kept,
        |  CAST(any_value(t.n) - count(k.pos) AS BIGINT) AS n_lines_dropped
        |FROM tot t LEFT JOIN keep k ON t.doc = k.doc
        |GROUP BY t.doc""".stripMargin,

    // replicates dropDuplicatedSpans over the footer-salted corpus: 5-token
    // windows, global count >= 2, first (doc, pos) occurrence canonical,
    // covered positions unioned per doc, linear complement reassembly
    "q_text_despans" ->
      """WITH fix AS (SELECT doc_id AS doc,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' subscribe now for updates delivered straight to you'
        |      ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc,
        |    string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS tks
        |  FROM fix),
        |wins AS (SELECT doc, unnest(range(len(tks) - 4)) AS pos, tks
        |  FROM tk WHERE len(tks) >= 5),
        |wtext AS (SELECT doc, pos,
        |    tks[pos+1] || ' ' || tks[pos+2] || ' ' || tks[pos+3] || ' ' ||
        |    tks[pos+4] || ' ' || tks[pos+5] AS win
        |  FROM wins),
        |v AS (SELECT doc, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc, pos) AS rn
        |  FROM wtext),
        |cover AS (SELECT DISTINCT doc, cpos FROM (
        |  SELECT doc, unnest(generate_series(pos, pos + 4)) AS cpos
        |  FROM v WHERE cnt >= 2 AND rn > 1)),
        |toks AS (SELECT doc, unnest(tks) AS tok,
        |    generate_subscripts(tks, 1) - 1 AS p FROM tk),
        |kept AS (SELECT t.doc, t.tok, t.p FROM toks t
        |  LEFT JOIN cover c ON c.doc = t.doc AND c.cpos = t.p
        |  WHERE c.cpos IS NULL),
        |tot AS (SELECT doc, CAST(len(tks) AS BIGINT) AS n FROM tk)
        |SELECT tot.doc,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
        |  CAST(count(k.p) AS BIGINT) AS n_tokens_kept,
        |  CAST(any_value(tot.n) - count(k.p) AS BIGINT) AS n_tokens_dropped
        |FROM tot LEFT JOIN kept k ON tot.doc = k.doc
        |GROUP BY tot.doc""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // both engines emit NULL group markers for rollup subtotal rows, and
    // neither input column is ever NULL in the data, so rows align exactly
    "q_a5_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,

    "q_w2_running" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS order_seq,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cum_cents,
        |  lag(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS prev_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    // pivot ≡ per-group filtered counts (FILTER counts are 0, matching the
    // Spark side's coalesce of empty pivot cells)
    "q_u3_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY 1""".stripMargin,

    // JSON field extraction: DuckDB's ->> on the varchar column ≡ Spark's
    // from_json(..).k with the explicit one-field schema
    "q_events_json" ->
      """WITH e AS (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM e GROUP BY event_type""".stripMargin,

    // replicates Changelog.applyChangelog: latest row per user on each side
    // of the cut (row_number ≡ Spark's version-first struct max — the
    // (ts_ns, event_id) pair is unique), delete on 'error', else upsert
    "q_events_changelog" -> changelogOracleSql,

    // the streamed upsert converges to the identical one-shot merge (see
    // the query's key-partitioning argument), so it shares the oracle
    "q_stream_upsert" -> changelogOracleSql,

    // replicates Changelog.scd2History: lag-suppress unchanged states,
    // then lead over the SURVIVING rows yields each run's closing version
    "q_events_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events),
        |ch AS (SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS prev_st FROM ev),
        |runs AS (SELECT user_id, event_id, us, event_type FROM ch
        |  WHERE prev_st IS DISTINCT FROM event_type),
        |iv AS (SELECT *,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_event_id
        |  FROM runs)
        |SELECT user_id, event_type,
        |  us AS valid_from_us, event_id AS valid_from_event_id,
        |  valid_to_us, valid_to_event_id,
        |  valid_to_us IS NULL AS is_current
        |FROM iv""".stripMargin,

    // replicates Temporal.rollingAnomaly: trailing ROWS frame excludes the
    // current row; the z-test is division-free BIGINT arithmetic
    "q_events_anomaly" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |w AS (SELECT user_id, event_id, us, v,
        |    count(v) OVER fr AS n, sum(v) OVER fr AS s1, sum(v*v) OVER fr AS s2
        |  FROM ev WINDOW fr AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, us, event_id, v AS v_scaled, n AS win_n,
        |  (n >= 10 AND (n*v - s1)*(n*v - s1) > 9*(n*s2 - s1*s1)) AS is_anomaly
        |FROM w""".stripMargin,

    // replicates Profiling.profile on orders: n_distinct is COUNT(DISTINCT)
    // (non-null) — all-integer outputs, engine-independent
    "q_profile" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n"),

    // replicates Profiling.histogram: same round-number bin arithmetic
    // (width 25000 = (500000 - 0) / 20), clamped edge bins, NULLs dropped
    "q_profile_hist" ->
      """SELECT bin_no,
        |  0.0 + bin_no * 25000.0 AS lo_edge,
        |  0.0 + (bin_no + 1) * 25000.0 AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM (SELECT least(19, greatest(0,
        |    CAST(floor((o_totalprice - 0.0) / 25000.0) AS INTEGER))) AS bin_no
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |GROUP BY bin_no""".stripMargin,

    // replicates Profiling.driftReport: same histogram grid per side,
    // full-outer bin align, ppm = n·10⁶ // N (floor), delta = cur − base
    "q_profile_drift" ->
      """WITH b AS (SELECT least(19, greatest(0,
        |      CAST(floor((o_totalprice - 0.0) / 25000.0) AS INTEGER))) AS bin_no,
        |    CAST(count(*) AS BIGINT) AS n_base
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1),
        |c AS (SELECT least(19, greatest(0,
        |      CAST(floor((o_totalprice - 0.0) / 25000.0) AS INTEGER))) AS bin_no,
        |    CAST(count(*) AS BIGINT) AS n_cur
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |j AS (SELECT coalesce(b.bin_no, c.bin_no) AS bin_no,
        |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
        |  FROM b FULL OUTER JOIN c ON b.bin_no = c.bin_no),
        |t AS (SELECT *, sum(n_base) OVER () AS tb, sum(n_cur) OVER () AS tc FROM j)
        |SELECT bin_no, n_base, n_cur,
        |  CAST((n_base * 1000000) // nullif(tb, 0) AS BIGINT) AS p_base_ppm,
        |  CAST((n_cur * 1000000) // nullif(tc, 0) AS BIGINT) AS p_cur_ppm,
        |  CAST((n_cur * 1000000) // nullif(tc, 0)
        |     - (n_base * 1000000) // nullif(tb, 0) AS BIGINT) AS delta_ppm
        |FROM t""".stripMargin,

    // replays schemaDiff via DESCRIBE on both shapes, DuckDB type names
    // mapped onto Spark DDL (VARCHAR→STRING, INTEGER→INT)
    "q_profile_schema_diff" ->
      """WITH bt AS (SELECT column_name AS col,
        |    CASE column_type WHEN 'VARCHAR' THEN 'STRING'
        |      WHEN 'INTEGER' THEN 'INT' ELSE column_type END AS t
        |  FROM (DESCRIBE SELECT * FROM documents)),
        |ct AS (SELECT column_name AS col,
        |    CASE column_type WHEN 'VARCHAR' THEN 'STRING'
        |      WHEN 'INTEGER' THEN 'INT' ELSE column_type END AS t
        |  FROM (DESCRIBE SELECT doc_id, text, source,
        |    CAST(n_chars AS INT) AS n_chars,
        |    CAST(n_chars AS INT) > 500 AS is_long FROM documents))
        |SELECT COALESCE(bt.col, ct.col) AS "column",
        |  bt.t AS base_type, ct.t AS cur_type,
        |  CASE WHEN bt.col IS NULL THEN 'added'
        |       WHEN ct.col IS NULL THEN 'removed'
        |       WHEN bt.t = ct.t THEN 'unchanged'
        |       ELSE 'type_changed' END AS change
        |FROM bt FULL OUTER JOIN ct ON bt.col = ct.col""".stripMargin,

    // replicates sourceOverlap over the mirror-augmented corpus: distinct
    // (normalized-fingerprint, source) pairs, directional containment.
    // The maxSources=1000 cap is applied explicitly (21 sources here, so
    // a provable no-op) to keep the mirror equivalent where the cap bites.
    "q_profile_overlap" ->
      """WITH u AS (SELECT text, source FROM documents
        |  UNION ALL SELECT text, 'mirror' FROM documents WHERE doc_id % 4 = 0),
        |fps0 AS (SELECT DISTINCT
        |    sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp, source AS src
        |  FROM u),
        |keepfp AS (SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) <= 1000),
        |fps AS (SELECT fps0.* FROM fps0 JOIN keepfp USING (fp)),
        |sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_a FROM fps GROUP BY src),
        |shared AS (SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.src <> b.src
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared, n_a,
        |  CAST(n_shared AS DOUBLE) / n_a AS containment
        |FROM shared JOIN sizes ON sizes.src = src_a""".stripMargin,

    // replicates TextAnalysis.chunkDocuments: starts 1, 1+32, … (stride =
    // 40 − 8); list_slice end is inclusive so end = start + 39
    "q_text_chunks" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |starts AS (SELECT doc, tk, unnest(generate_series(1, len(tk), 32)) AS s
        |  FROM toks)
        |SELECT doc, CAST((s - 1) // 32 AS BIGINT) AS chunk_no,
        |  array_to_string(list_slice(tk, s, s + 39), ' ') AS chunk_text,
        |  CAST(len(list_slice(tk, s, s + 39)) AS INTEGER) AS n_chunk_tokens
        |FROM starts""".stripMargin,

    // replays the next-fit packing fold as a recursive CTE over the same
    // chunk derivation (chunk_no is consecutive per doc, so the recursion
    // steps ordinal+1 carrying (bin, filled) — integer-exact on both sides)
    "q_text_pack" ->
      """WITH RECURSIVE toks AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |starts AS (SELECT doc, tk, unnest(generate_series(1, len(tk), 32)) AS s
        |  FROM toks),
        |ch AS (SELECT doc, CAST((s - 1) // 32 AS BIGINT) AS chunk_no,
        |    CAST(len(list_slice(tk, s, s + 39)) AS BIGINT) AS n
        |  FROM starts),
        |rec AS (
        |  SELECT doc, chunk_no, n, 0 AS bin, n AS filled FROM ch WHERE chunk_no = 0
        |  UNION ALL
        |  SELECT c.doc, c.chunk_no, c.n,
        |    CASE WHEN r.filled + c.n > 100 THEN r.bin + 1 ELSE r.bin END AS bin,
        |    CASE WHEN r.filled + c.n > 100 THEN c.n ELSE r.filled + c.n END AS filled
        |  FROM ch c JOIN rec r ON c.doc = r.doc AND c.chunk_no = r.chunk_no + 1)
        |SELECT doc, chunk_no, CAST(bin AS INTEGER) AS bin FROM rec""".stripMargin,

    // replicates TextAnalysis.topTerms: tf per (doc, term), df per term
    // over distinct (doc, term), rank (tf DESC, df ASC, term ASC), top 5
    "q_text_topterms" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE term != '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc, tf.term, tf.tf, dfreq.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rn
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc, term, tf, df FROM r WHERE rn <= 5""".stripMargin,

    // global vocabulary head: deterministic under the (tf DESC, term) order
    "q_text_vocab" ->
      """WITH toks AS (SELECT
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS tf
        |FROM toks WHERE term != ''
        |GROUP BY term ORDER BY tf DESC, term ASC LIMIT 50""".stripMargin,

    // replicates oovBigramScore: same normalization, char bigrams via
    // generate_series + substr, top-200 vocab with (count DESC, bigram ASC)
    // tie-break, left-join scoring; one IEEE division for the ratio
    "q_text_oov" ->
      """WITH norm AS (SELECT doc_id AS doc,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |bg AS (SELECT doc, substr(t, CAST(i AS INT), 2) AS bg
        |  FROM norm, LATERAL unnest(generate_series(1, length(t) - 1)) AS u(i)
        |  WHERE length(t) >= 2),
        |vocab AS (SELECT bg FROM (
        |    SELECT bg, count(*) AS bf FROM bg GROUP BY 1
        |    ORDER BY bf DESC, bg ASC LIMIT 200)),
        |sc AS (SELECT b.doc,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CASE WHEN v.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM bg b LEFT JOIN vocab v USING (bg) GROUP BY 1)
        |SELECT d.doc_id AS doc,
        |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.n_oov, 0) AS n_oov,
        |  CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE coalesce(sc.n_oov, 0) / CAST(sc.n_bigrams AS DOUBLE) END AS oov_ratio
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc""".stripMargin,

    // replicates rankByTerms: scaled-integer idf = N·10⁶ // df, BIGINT
    // scoring, (score DESC, doc) top-25
    "q_text_rank" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('join', 'vector', 'spark', 'filter') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |sc AS (SELECT doc,
        |    CAST(SUM(tf * ((nd * 1000000) // df)) AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n GROUP BY doc)
        |SELECT doc, score, n_terms FROM sc
        |ORDER BY score DESC, doc ASC LIMIT 25""".stripMargin,

    // chains the q_text_classify gate, the q_text_despans machinery (over
    // the GATED corpus) and a min-id exact dedup on cleaned text into the
    // per-source report
    "q_curate_full" ->
      """WITH wts(term, weight) AS (VALUES
        |    ('fast', 3), ('spark', 2), ('merge', 1), ('slow', -4), ('big', -1)),
        |ctoks AS (SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS ctok
        |  FROM documents),
        |scored AS (SELECT doc_id, CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS score
        |  FROM ctoks LEFT JOIN wts ON ctok = term GROUP BY doc_id),
        |gated AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  JOIN scored s ON s.doc_id = d.doc_id AND s.score >= 0),
        |tk AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS tks
        |  FROM gated),
        |wins AS (SELECT doc, unnest(range(len(tks) - 4)) AS pos, tks
        |  FROM tk WHERE len(tks) >= 5),
        |wtext AS (SELECT doc, pos,
        |    tks[pos+1] || ' ' || tks[pos+2] || ' ' || tks[pos+3] || ' ' ||
        |    tks[pos+4] || ' ' || tks[pos+5] AS win
        |  FROM wins),
        |v AS (SELECT doc, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc, pos) AS rn
        |  FROM wtext),
        |cover AS (SELECT DISTINCT doc, cpos FROM (
        |  SELECT doc, unnest(generate_series(pos, pos + 4)) AS cpos
        |  FROM v WHERE cnt >= 2 AND rn > 1)),
        |toks AS (SELECT doc, unnest(tks) AS tok2,
        |    generate_subscripts(tks, 1) - 1 AS p FROM tk),
        |keptt AS (SELECT t.doc, t.tok2, t.p FROM toks t
        |  LEFT JOIN cover c ON c.doc = t.doc AND c.cpos = t.p
        |  WHERE c.cpos IS NULL),
        |tot AS (SELECT doc FROM tk),
        |cleaned AS (SELECT tot.doc AS doc_id,
        |    coalesce(string_agg(k.tok2, ' ' ORDER BY k.p), '') AS clean_text,
        |    CAST(count(k.p) AS BIGINT) AS n_tokens_kept
        |  FROM tot LEFT JOIN keptt k ON tot.doc = k.doc
        |  GROUP BY tot.doc),
        |dedup AS (SELECT doc_id, n_tokens_kept FROM (
        |  SELECT c.*, MIN(doc_id) OVER (PARTITION BY clean_text) AS mid FROM cleaned c)
        |  WHERE doc_id = mid)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(c.n_tokens_kept) AS BIGINT) AS n_tokens
        |FROM dedup c JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // replicates bm25Rank (k1=1.2, b=0.75 → 2200/300000/900000 milli
    // constants): micro-bit idf from exact-integer operands, one HUGEINT
    // floor-division per (doc, term), (score DESC, doc) top-25
    "q_text_bm25" -> s"WITH $bm25CandCtes SELECT doc, score, n_terms FROM cand",

    // BM25 candidates (shared CTEs) re-scored by the exact fixed-point
    // cosine against embedding 0, (cosine DESC, doc) top-10
    "q_text_rerank" ->
      s"""WITH $bm25CandCtes,
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
         |  FROM embeddings),
         |n2 AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY 1),
         |d AS (SELECT c.doc, c.score, CAST(SUM(ec.qv * eq.qv) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN e ec ON ec.vec_id = c.doc
         |  JOIN e eq ON eq.vec_id = 0 AND eq.pos = ec.pos
         |  GROUP BY 1, 2)
         |SELECT doc, score,
         |  CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
         |FROM d JOIN n2 nc ON nc.vec_id = doc JOIN n2 nq ON nq.vec_id = 0
         |ORDER BY cosine DESC, doc ASC LIMIT 10""".stripMargin,

    // replicates linearScore: same lexicon as VALUES, token-occurrence
    // (not distinct) weight sum, docs matching nothing score the bias (0)
    "q_text_classify" ->
      """WITH wts(term, weight) AS (VALUES
        |    ('fast', 3), ('spark', 2), ('merge', 1), ('slow', -4), ('big', -1)),
        |toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |sc AS (SELECT doc, CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS score
        |  FROM toks LEFT JOIN wts ON tok = term GROUP BY doc)
        |SELECT doc, score, score >= 0 AS keep FROM sc""".stripMargin,

    // replicates piiStats over the synthetically PII-salted text: same
    // RE2-safe patterns, non-overlapping match counts
    "q_text_pii" ->
      """WITH salted AS (SELECT doc_id,
        |    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
        |         || '.' || CAST(doc_id % 100 AS VARCHAR)
        |         || ' call +1-555-0123-4567 ref 987654321'
        |         || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id AS doc,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4s,
        |  CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3,4}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '\b\d{9}\b')) AS BIGINT) AS n_id_numbers,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |       len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) +
        |       len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3,4}-\d{4}')) +
        |       len(regexp_extract_all(t, '\b\d{9}\b')) AS BIGINT) AS pii_total
        |FROM salted""".stripMargin,

    // replicates TextAnalysis.scrub: mask emails, then URLs, then collapse
    // whitespace — same regexes (RE2-safe), same order
    "q_text_scrub" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |             || '@example.com   or https://example.org/d/'
        |             || CAST(doc_id AS VARCHAR) || ' now',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '(https?://|www\.)[^ \t\n\r]+', '<URL>', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin,

    // replicates Sampling.hashBucket: 60-bit hash = first 15 hex chars of
    // sha256("<key>:<salt>"); keep when bucket < round(p * granularity)
    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':demo'), 1, 15)) AS BIGINT)
        |        % 1000 < 250""".stripMargin,

    "q_sample_mix" ->
      """WITH mix AS (
        |  SELECT doc_id, 'web' AS source FROM documents WHERE doc_id % 2 = 0
        |    AND CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':web'), 1, 15)) AS BIGINT)
        |          % 1000 < 700
        |  UNION ALL
        |  SELECT doc_id, 'books' AS source FROM documents WHERE doc_id % 2 != 0
        |    AND CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':books'), 1, 15)) AS BIGINT)
        |          % 1000 < 300)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM mix GROUP BY 1""".stripMargin,

    // replicates Checks.validate row by row: integer-ppm thresholds,
    // uniqueness as n - COUNT(DISTINCT), declaration order irrelevant to
    // the hash compare
    "q_check_constraints" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
        |r AS (
        |  SELECT 'not_null' AS "check", 'o_custkey' AS target, n.n,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL) AS v,
        |    CAST(0 AS BIGINT) AS thr FROM n
        |  UNION ALL SELECT 'unique', 'o_orderkey', n.n,
        |    n.n - (SELECT CAST(COUNT(*) AS BIGINT)
        |           FROM (SELECT DISTINCT o_orderkey FROM orders)),
        |    0 FROM n
        |  UNION ALL SELECT 'unique', 'o_custkey', n.n,
        |    n.n - (SELECT CAST(COUNT(*) AS BIGINT)
        |           FROM (SELECT DISTINCT o_custkey FROM orders)),
        |    0 FROM n
        |  UNION ALL SELECT 'in_range', 'o_totalprice', n.n,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     WHERE o_totalprice IS NOT NULL
        |       AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)),
        |    100000 FROM n
        |  UNION ALL SELECT 'accepted_values', 'o_orderstatus', n.n,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F', 'O', 'P')),
        |    0 FROM n
        |  UNION ALL SELECT 'min_rows', '*', n.n,
        |    GREATEST(0, 1000 - n.n), 0 FROM n)
        |SELECT "check", target, n AS n_rows, v AS n_violations,
        |  CAST(CASE WHEN "check" = 'min_rows' THEN v * 1000000 // 1000
        |            WHEN n = 0 THEN 0 ELSE v * 1000000 // n END AS BIGINT) AS violation_ppm,
        |  CASE WHEN "check" = 'min_rows' THEN n >= 1000
        |       ELSE v * 1000000 <= thr * n END AS passed
        |FROM r""".stripMargin,

    // replicates Sampling.epochMix: ⌊w⌋ full copies + one extra for the
    // deterministic 40%/50%/0% hash slice (key = id#source, salt mix8,
    // granularity 1e6); DuckDB range(cnt) unnests to the 0-based epochs
    "q_sample_epochs" ->
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 1 END
        |    + CASE WHEN
        |        CAST(concat('0x', substr(sha256(
        |          CAST(doc_id AS VARCHAR) || '#' || source || ':mix8'), 1, 15)) AS BIGINT)
        |          % 1000000 <
        |        CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 500000 WHEN 'src2' THEN 0 END
        |      THEN 1 ELSE 0 END AS cnt
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT doc_id, source, CAST(unnest(range(cnt)) AS INT) AS epoch
        |FROM w WHERE cnt >= 1""".stripMargin,

    // replicates Sampling.hashSplit: cumulative bucket thresholds on the
    // granularity grid (0.8/0.1/0.1 at 1000 → 800/900)
    "q_sample_split" ->
      """WITH b AS (SELECT
        |    CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT)
        |      % 1000 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 800 THEN 'train'
        |            WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1""".stripMargin,

    // replicates Sampling.leakageSafeSplit on the star-pair fixture: the
    // cluster label is the hub (min member id = doc_id % 100000 for
    // copies), singletons keep their own id; then the split is the
    // standard hash-bucket rule on the CLUSTER id
    "q_sample_leakage" ->
      """WITH aug AS (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL
        |  SELECT doc_id + 200000, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000),
        |g AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id >= 100000 THEN doc_id % 100000 ELSE doc_id END AS split_group
        |  FROM aug),
        |b AS (SELECT *,
        |    CAST(concat('0x', substr(sha256(CAST(split_group AS VARCHAR) || ':lk'), 1, 15)) AS BIGINT)
        |      % 1000 AS bkt
        |  FROM g)
        |SELECT doc_id, lang, split_group,
        |  CASE WHEN bkt < 800 THEN 'train'
        |       WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // replicates Sampling.weightedSample: exact integer keep-decision
    // bucket·refWeight < round(fraction·granularity)·weight, HUGEINT math
    "q_sample_weighted" ->
      """WITH kept AS (
        |  SELECT lang, n_chars FROM documents
        |  WHERE CAST(CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':wsamp'), 1, 15)) AS BIGINT)
        |          % 1000 AS HUGEINT) * 1000
        |        < 200 * CAST(n_chars AS HUGEINT))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM kept GROUP BY lang""".stripMargin,

    // replicates Sampling.groupSample: lowest (hash, key) k per group
    "q_sample_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':eval'), 1, 15)) AS BIGINT),
        |               doc_id) AS rn
        |  FROM documents) WHERE rn <= 3""".stripMargin,

    // replicates Curation.curate over the perturbed corpus: quality gates
    // (n_chars/n_tokens/digit_ratio/upper_ratio), fingerprint dedup with
    // min-id survivor, then the langId argmax (same marker table and
    // tie-break as q_text_langid)
    "q_curate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL SELECT doc_id + 200000, upper(substr(text, 1, 15)) FROM documents WHERE doc_id % 7 = 0 AND doc_id < 100000),
        |feat AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) END AS upper_ratio
        |  FROM corpus),
        |kept AS (
        |  SELECT doc_id, text, n_tokens,
        |    sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM feat
        |  WHERE n_chars >= 20 AND n_tokens >= 5 AND digit_ratio <= 0.2 AND upper_ratio <= 0.3),
        |surv AS (
        |  SELECT k.doc_id, k.text, k.n_tokens
        |  FROM kept k JOIN (SELECT fp, min(doc_id) AS keep FROM kept GROUP BY 1) m
        |    ON k.fp = m.fp AND k.doc_id = m.keep),
        |toks AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS tok
        |  FROM surv),
        |m(lang, tok) AS (VALUES
        |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
        |  ('de','nicht'),('de','ein'),('de','mit'),('de','für'),('de','auf'),
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('en','is'),('en','that'),('en','it'),('en','for'),('en','with'),
        |  ('es','el'),('es','la'),('es','los'),('es','y'),('es','es'),
        |  ('es','no'),('es','una'),('es','por'),('es','con'),('es','para'),
        |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),
        |  ('fr','pas'),('fr','une'),('fr','pour'),('fr','dans'),('fr','que')),
        |hits AS (SELECT t.doc_id, m.lang, COUNT(DISTINCT t.tok) AS h
        |         FROM toks t JOIN m ON t.tok = m.tok GROUP BY 1, 2),
        |alllang AS (SELECT s.doc_id, l.lang, COALESCE(h.h, 0) AS h
        |  FROM surv s CROSS JOIN (SELECT DISTINCT lang FROM m) l
        |  LEFT JOIN hits h ON h.doc_id = s.doc_id AND h.lang = l.lang),
        |best AS (SELECT doc_id, lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
        |  FROM alllang),
        |pred AS (SELECT s.doc_id, s.n_tokens,
        |    CASE WHEN b.h > 0 THEN b.lang ELSE 'und' END AS lang_pred
        |  FROM surv s JOIN best b ON b.doc_id = s.doc_id AND b.rn = 1)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM pred GROUP BY 1""".stripMargin,

    // replicates Curation.quantileGate(exact): per-group continuous
    // quantile bounds (quantile_cont ≡ Spark percentile interpolation),
    // inner equi-join back, inclusive band filter
    "q_curate_qgate" ->
      """WITH b AS (SELECT lang,
        |    quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN b ON d.lang = b.lang
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin,

    "q_dedup_exact" ->
      """WITH u AS (SELECT * FROM documents
        |           UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0)
        |SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY text HAVING COUNT(*) > 1""".stripMargin,

    // The mirror applies jaccardPairs' df-cap (maxDf=1000) explicitly: a
    // (lang, shingle) posting list longer than 1000 leaves the similarity
    // universe — candidates, intersections AND set sizes — exactly as the
    // Spark operator's prefix filter does. On the test corpus no list hits
    // the cap, so this filter is a provable no-op there; it keeps the
    // oracle equivalent on corpora where the cap bites.
    "q_dedup_jaccard" ->
      """WITH w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin,

    // replicates linkPairs: side-tagged shingle streams, combined df-cap,
    // cross-side-only co-occurrence, per-side sizes in the capped space
    "q_link_records" ->
      """WITH aa AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |bb AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 <> 0
        |  UNION ALL SELECT doc_id + 700000,
        |    text || ' extra trailing words appended', lang
        |  FROM documents WHERE doc_id % 10 = 0),
        |t0 AS (
        |  SELECT 0 AS side, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM aa)
        |  UNION ALL
        |  SELECT 1, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM bb)),
        |keep AS (SELECT lang, tok FROM t0 GROUP BY lang, tok HAVING COUNT(*) <= 1000),
        |t AS (SELECT t0.* FROM t0 JOIN keep USING (lang, tok)),
        |sa AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 0 GROUP BY 1),
        |sb AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 1 GROUP BY 1),
        |co AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM t x JOIN t y
        |    ON x.tok = y.tok AND x.lang = y.lang AND x.side = 0 AND y.side = 1
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sa ON sa.doc_id = a_id JOIN sb ON sb.doc_id = b_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.7""".stripMargin,

    // q_link_records' match pairs + recursive min-label closure — every
    // linked record maps to its cluster's min id
    "q_link_resolve" ->
      """WITH RECURSIVE aa AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |bb AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 <> 0
        |  UNION ALL SELECT doc_id + 700000,
        |    text || ' extra trailing words appended', lang
        |  FROM documents WHERE doc_id % 10 = 0),
        |t0 AS (
        |  SELECT 0 AS side, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM aa)
        |  UNION ALL
        |  SELECT 1, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM bb)),
        |keep AS (SELECT lang, tok FROM t0 GROUP BY lang, tok HAVING COUNT(*) <= 1000),
        |t AS (SELECT t0.* FROM t0 JOIN keep USING (lang, tok)),
        |sa AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 0 GROUP BY 1),
        |sb AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 1 GROUP BY 1),
        |co AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM t x JOIN t y
        |    ON x.tok = y.tok AND x.lang = y.lang AND x.side = 0 AND y.side = 1
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id
        |  FROM co JOIN sa ON sa.doc_id = a_id JOIN sb ON sb.doc_id = b_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.7),
        |e AS (SELECT a_id AS a, b_id AS b FROM pairs
        |      UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM e
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN reach r ON r.node = e.b
        |  WHERE r.lbl < e.a)
        |SELECT node AS record_id, MIN(lbl) AS master_id
        |FROM reach GROUP BY node""".stripMargin,

    // same shingle/df-cap machinery as q_dedup_jaccard over the
    // excerpt-augmented corpus, final score inter / LEAST(na, nb); the
    // excerpt text is the same integer-exact (n_chars*2)//5-char prefix
    "q_dedup_containment" ->
      """WITH u AS (SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 400000,
        |    substring(text, 1, CAST((n_chars * 2) // 5 AS INT)), lang
        |  FROM documents WHERE doc_id % 25 = 0),
        |w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM u),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= 0.9""".stripMargin,

    // same candidate CTE at 0.5 (including the explicit maxDf=1000 df-cap,
    // see q_dedup_jaccard), then texts joined back and the pair kept
    // iff levenshtein <= 100 (DuckDB and Spark compute the same metric)
    "q_dedup_edit_verify" ->
      """WITH w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |cand AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
        |FROM cand JOIN documents ta ON ta.doc_id = doc_a
        |          JOIN documents tb ON tb.doc_id = doc_b
        |WHERE levenshtein(ta.text, tb.text) <= 100""".stripMargin,

    // replica of decontamination: distinct 3-gram shingles per side,
    // count of distinct shared shingles per training doc, threshold 5
    "q_dedup_decontaminate" ->
      """WITH ev AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 != 0
        |       UNION ALL
        |       SELECT doc_id + 300000, text, lang FROM documents WHERE doc_id % 50 = 0),
        |evw AS (SELECT string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words FROM ev),
        |evt AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(words) - 2),
        |          i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |        FROM evw),
        |trw AS (SELECT doc_id,
        |          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |        FROM tr),
        |trt AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(words) - 2),
        |          i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |        FROM trw),
        |bad AS (SELECT doc_id FROM trt JOIN evt USING (tok)
        |        GROUP BY doc_id HAVING COUNT(*) >= 5)
        |SELECT doc_id, lang FROM tr
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // replica of the components pipeline: the jaccard pair CTE over the
    // augmented corpus, then min-label transitive closure via a recursive
    // CTE (a label l propagates to neighbor n when l < n; the component
    // min always wins, spurious larger labels fall to the MIN aggregate)
    "q_dedup_components" ->
      """WITH RECURSIVE aug AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zz11 zz22 zz33', lang
        |    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000),
        |w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM aug),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM e
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN reach r ON r.node = e.b
        |  WHERE r.lbl < e.a),
        |cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM cc GROUP BY component""".stripMargin,

    "q_sim_cosine_topk" -> bruteTopKOracleSql(5),

    // recall replica: LEFT JOIN the brute-force top-3 (per-query truth)
    // against the composed IVF-PQ top-3, both at query boundary 20 —
    // COUNT(matched) per query IS the recall numerator
    "q_sim_recall" ->
      s"""SELECT b.query_id, CAST(COUNT(a.cand_id) AS BIGINT) AS hits,
        |  CAST(3 AS BIGINT) AS k
        |FROM (${bruteTopKOracleSql(20)}) b
        |LEFT JOIN (${ivfPqTopKOracleSql(qb = 20, subWidth = 4, nprobe = 8, surv = 48)}) a
        |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
        |GROUP BY b.query_id""".stripMargin,

    "q_multimodal_bytes" ->
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha FROM documents""".stripMargin,

    // frame-count replica: n_frames = n_bytes // 100 + 1 (the engine's
    // double division + int truncation agrees for the non-negative sizes
    // here), stride-3 indices via range (exclusive end ≡ Spark's
    // inclusive sequence to n_frames-1 on the stride grid)
    "q_multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) // 100 + 1 AS n_frames FROM documents)
        |SELECT media_id, CAST(unnest(range(0, n_frames, 3)) AS BIGINT) AS frame_no
        |FROM m""".stripMargin,

    "q_dedup_embedding" ->
      """WITH t AS (SELECT vec_id, label,
        |    list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE)*100000000) AS BIGINT)) AS ql
        |  FROM embeddings),
        |e AS (SELECT vec_id, label,
        |    CAST(list_sum(list_transform(ql, x -> x*x)) AS BIGINT) AS n2,
        |    generate_subscripts(ql, 1) AS pos, unnest(ql) AS qv FROM t),
        |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.qv*b.qv) AS BIGINT) AS dot,
        |        MIN(a.n2) AS na, MIN(b.n2) AS nb
        |      FROM e a JOIN e b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
        |FROM d
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35""".stripMargin,

    // replicates rollingDistinct: distinct (day, user) votes into day..day+6,
    // clipped to observed days, exact COUNT(DISTINCT) per target day
    "q_events_rolling" ->
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |obs AS (SELECT DISTINCT day FROM daily),
        |votes AS (SELECT day + CAST(o AS INT) AS obs_day, user_id
        |  FROM daily CROSS JOIN (SELECT unnest(range(7)) AS o)),
        |r AS (SELECT obs_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM votes JOIN obs ON obs.day = votes.obs_day GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_active FROM r""".stripMargin,

    "q_events_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // retention replica, re-derived relationally: distinct (user, day)
    // pairs, cohort = per-user min day via join (the engine uses a
    // per-user set instead — same cells, same distinct-user counts)
    "q_events_retention" ->
      """WITH ub AS (SELECT DISTINCT user_id AS u,
        |    epoch_ns(ts) // 86400000000000 AS b
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT u, MIN(b) AS cb FROM ub GROUP BY 1)
        |SELECT c.cb AS cohort_bucket, ub.b - c.cb AS offset_buckets,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ub JOIN c ON c.u = ub.u GROUP BY 1, 2""".stripMargin,

    // same gap-fill semantics rebuilt with a span join: per-user hourly
    // counts left-joined onto each user's dense [min, max] hour series
    "q_events_gapfill" ->
      """WITH per AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM per GROUP BY 1),
        |bins AS (SELECT user_id, unnest(generate_series(lo, hi)) AS hour_bucket FROM span)
        |SELECT b.user_id, b.hour_bucket, COALESCE(per.n, 0) AS n_events
        |FROM bins b LEFT JOIN per ON per.user_id = b.user_id AND per.hr = b.hour_bucket""".stripMargin,

    // replicates Temporal.funnel: per-step earliest in-order timestamps,
    // strictly increasing, all within 48 h of the first view
    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.us) AS t2
        |  FROM s1 JOIN e ON e.user_id = s1.user_id AND e.event_type = 'click'
        |    AND e.us > s1.t1 AND e.us <= s1.t1 + 172800000000
        |  GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, min(e.us) AS t3
        |  FROM s2 JOIN e ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |    AND e.us > s2.t2 AND e.us <= s2.t1 + 172800000000
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_viewed,
        |  CAST(count(s2.t2) AS BIGINT) AS n_clicked,
        |  CAST(count(s3.t3) AS BIGINT) AS n_purchased
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin,

    // semantic replica of the binned range join: a plain BETWEEN theta-join
    // (the binning is a pure execution-strategy change, invisible in results)
    "q_events_range" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    us - 14400000000 AS w_start, us AS w_end FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, value FROM e WHERE event_type = 'view')
        |SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_views,
        |  max(v.value) AS max_view_value
        |FROM v JOIN p ON v.user_id = p.user_id AND v.us BETWEEN p.w_start AND p.w_end
        |GROUP BY 1""".stripMargin,

    "q_events_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, MAX(value) AS view_value
        |  FROM e WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.us, v.view_value, v.us AS view_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us""".stripMargin,

    // the tolerance branch: plain ASOF then null out matches older than
    // leftTs − 1 h (keep the row) — exactly Temporal.asOfJoin(tolerance=)
    "q_events_asof_tol" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, MAX(value) AS view_value
        |  FROM e WHERE event_type = 'view' GROUP BY 1, 2),
        |a AS (SELECT p.event_id, p.user_id, p.us, v.view_value, v.us AS view_us
        |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us)
        |SELECT event_id, user_id, us,
        |  CASE WHEN view_us IS NOT NULL AND us - view_us <= 3600000000
        |       THEN view_value END AS view_value,
        |  CASE WHEN view_us IS NOT NULL AND us - view_us <= 3600000000
        |       THEN view_us END AS view_us
        |FROM a""".stripMargin,

    // 8 h gap = 28800000000 µs; a session closes gap after its last event.
    // Spark merges an event into the open session iff it starts STRICTLY
    // before session_end, so the split condition is diff >= gap.
    "q_events_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(ROUND(value * 1000000) AS BIGINT) AS qv FROM events),
        |m AS (SELECT user_id, us, qv,
        |    CASE WHEN us - LAG(us) OVER w >= 28800000000
        |         OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us, qv,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(us) AS session_start_us,
        |  MAX(us) + 28800000000 AS session_end_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(qv) AS BIGINT) / 1000000.0 AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin)
}

