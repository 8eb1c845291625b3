package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Temporal

/** Event-time operators over `events` (`q_events_*`) and the structured
  * streaming rows (`q_stream_*`), each checked by a batch oracle.
  */
private[graft] object EventQueries {
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

  /** The exact conf pair every catalog streaming row runs under — exposed
    * (package-private) so StreamingSpec can pin BOTH the values and their
    * observable effect (RocksDB changelog checkpoints on disk); a silent
    * edit here fails that spec instead of quietly reverting the streaming
    * family to on-heap state. StreamBench's RocksDB runs use the same pair.
    */
  private[graft] val streamingStateConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

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
  private def withStreamingConfs[T](s: SparkSession, n: Int)(body: SparkSession => T): T =
    withShufflePartitions(s, n) { child =>
      streamingStateConfs.foreach { case (k, v) => child.conf.set(k, v) }
      body(child)
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

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // semi-structured extraction: the props JSON column parsed with an
    // EXPLICIT from_json schema (one codegen'd Jackson parse per row, no
    // schema-inference scan — the only shape that works at 100 TB), then a
    // typed aggregation over the extracted field
    "q_events_json" -> CatalogQuery((s, d) =>
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
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi")),
      // JSON field extraction: DuckDB's ->> on the varchar column ≡ Spark's
      // from_json(..).k with the explicit one-field schema
      """WITH e AS (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM e GROUP BY event_type""".stripMargin),

    // CDC changelog merge: state-per-user snapshot from the first 19 days
    // of events, then the remaining days replayed as a changelog where an
    // 'error' event deletes the user and anything else upserts the user's
    // latest (event_id, us, event_type, value) state. µs timestamps — the
    // cross-engine events resolution (DuckDB reads the NANOS parquet at µs)
    "q_events_changelog" -> CatalogQuery((s, d) => {
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
    },
      // replicates Changelog.applyChangelog: latest row per user on each side
      // of the cut (row_number ≡ Spark's version-first struct max — the
      // (ts_ns, event_id) pair is unique), delete on 'error', else upsert
      changelogOracleSql),

    // SCD Type-2 dimension history: per-user event_type state runs with
    // validity intervals — consecutive same-state rows collapsed, the run
    // opened by its (us, event_id) version, closed by the next run's
    // version (NULL while current). One window shuffle; integer/string
    // outputs only, so the oracle is hash-exact
    "q_events_scd2" -> CatalogQuery((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("event_type"))
      graft.operators.Changelog.scd2History(
        ev, Seq("user_id"), Seq("us", "event_id"), Seq("event_type"))
    },
      // replicates Changelog.scd2History: lag-suppress unchanged states,
      // then lead over the SURVIVING rows yields each run's closing version
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
        |FROM iv""".stripMargin),

    // rolling z-score anomaly flags: each event vs the trailing-50 window
    // of its user's series, integer-exact ((n·x−S1)² > 9·(n·S2−S1²) on
    // ×1000 fixed-point values) so the flag is bit-identical cross-engine
    "q_events_anomaly" -> CatalogQuery((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("us"),
          col("value"))
      graft.operators.Temporal.rollingAnomaly(
        ev, Seq("user_id"), Seq("us", "event_id"), "value",
        scale = 1000L, lookback = 50, z = 3L, minN = 10)
    },
      // replicates Temporal.rollingAnomaly: trailing ROWS frame excludes the
      // current row; the z-test is division-free BIGINT arithmetic
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |w AS (SELECT user_id, event_id, us, v,
        |    count(v) OVER fr AS n, sum(v) OVER fr AS s1, sum(v*v) OVER fr AS s2
        |  FROM ev WINDOW fr AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, us, event_id, v AS v_scaled, n AS win_n,
        |  (n >= 10 AND (n*v - s1)*(n*v - s1) > 9*(n*s2 - s1*s1)) AS is_anomaly
        |FROM w""".stripMargin),

    // trailing-7-day exact distinct users per active day (rolling WAU):
    // distinct (day, user) pairs vote into the windows they serve — no
    // windowed COUNT(DISTINCT), which Spark (and SQL) cannot plan natively
    "q_events_rolling" -> CatalogQuery((s, d) =>
      graft.operators.Temporal.rollingDistinct(
          graft.sources.Events.load(s, d), "ts", "user_id", days = 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_active")),
      // replicates rollingDistinct: distinct (day, user) votes into day..day+6,
      // clipped to observed days, exact COUNT(DISTINCT) per target day
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |obs AS (SELECT DISTINCT day FROM daily),
        |votes AS (SELECT day + CAST(o AS INT) AS obs_day, user_id
        |  FROM daily CROSS JOIN (SELECT unnest(range(7)) AS o)),
        |r AS (SELECT obs_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM votes JOIN obs ON obs.day = votes.obs_day GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_active FROM r""".stripMargin),

    // retention triangle: cohort users by first active day, count distinct
    // users per (cohort, day-offset) — one user-keyed collect_set
    // aggregation, cohort = array_min of the set, no self-join
    "q_events_retention" -> CatalogQuery((s, d) =>
      graft.operators.Temporal.retentionCohorts(
        graft.sources.Events.load(s, d), "user_id", "ts_ns",
        bucketNs = 86400000000000L),
      // retention replica, re-derived relationally: distinct (user, day)
      // pairs, cohort = per-user min day via join (the engine uses a
      // per-user set instead — same cells, same distinct-user counts)
      """WITH ub AS (SELECT DISTINCT user_id AS u,
        |    epoch_ns(ts) // 86400000000000 AS b
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT u, MIN(b) AS cb FROM ub GROUP BY 1)
        |SELECT c.cb AS cohort_bucket, ub.b - c.cb AS offset_buckets,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ub JOIN c ON c.u = ub.u GROUP BY 1, 2""".stripMargin),

    // Streaming-equivalent windowed aggregation (same plan shape the
    // streaming job runs; batch here so the oracle can check it)
    "q_events_window" -> CatalogQuery((s, d) =>
      graft.sources.Events.load(s, d)
        .groupBy(
          expr("ts_ns div 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value")),
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Time-series gap-fill: per-user hourly counts with missing hours
    // zero-filled across each user's [first, last] active span. NO
    // span-join: after the per-(user, hour) aggregate, one window pass
    // finds each row's predecessor hour and explodes only the gap bins
    // owed by that row — generated rows are proportional to the gaps,
    // never a dense user × global-timeline cross product. Raw events
    // cross ONE exchange (with map-side combine); the window's re-key
    // shuffles only the already-aggregated (user, hour) frame.
    "q_events_gapfill" -> CatalogQuery((s, d) => {
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
    },
      // same gap-fill semantics rebuilt with a span join: per-user hourly
      // counts left-joined onto each user's dense [min, max] hour series
      """WITH per AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM per GROUP BY 1),
        |bins AS (SELECT user_id, unnest(generate_series(lo, hi)) AS hour_bucket FROM span)
        |SELECT b.user_id, b.hour_bucket, COALESCE(per.n, 0) AS n_events
        |FROM bins b LEFT JOIN per ON per.user_id = b.user_id AND per.hr = b.hour_bucket""".stripMargin),

    // Batch twin of the streaming session-window operator (8 h gap):
    // the oracle rebuilds the same sessions with a lag/cumsum gap split,
    // which doubles as a semantic pin of session_window's strict-< merge
    // rule. Fixed-point value sums keep it order-independent.
    "q_events_sessions" -> CatalogQuery((s, d) =>
      graft.streaming.StreamingOps
        .sessionWindows(graft.sources.Events.load(s, d), "8 hours")
        .select(
          col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("total_value")),
      // 8 h gap = 28800000000 µs; a session closes gap after its last event.
      // Spark merges an event into the open session iff it starts STRICTLY
      // before session_end, so the split condition is diff >= gap.
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
        |FROM s GROUP BY user_id, sid""".stripMargin),

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
    "q_stream_windowed" -> CatalogQuery((s, d) => withStreamingConfs(s, 8) { ss =>
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
    },
      // replicates windowedStats' tumbling 1h windows (epoch-aligned, as
      // Spark's window() is) over micro-quantized values; the streamed
      // complete-mode result must equal the full batch aggregation
      """SELECT (epoch_ns(ts) // 1000) // 3600000000 * 3600000000 AS window_start_us,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micros
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Streaming within-watermark dedup through a real PARQUET SINK: 10% of
    // events are re-injected as exact duplicate rows, the stream drops
    // re-seen event_ids (state keyed on event_id, never evicted here —
    // lateness exceeds the fixture span, making the result order-proof),
    // and the appended sink files are re-read for the hash. Duplicates are
    // byte-identical rows, so WHICH copy survives cannot change the output.
    "q_stream_dedup" -> CatalogQuery((s, d) => withStreamingConfs(s, 8) { ss =>
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
    },
      // the injected duplicates are byte-identical rows, so streaming
      // first-occurrence dedup must reproduce exactly the distinct row set
      """SELECT DISTINCT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id,
        |  event_type, value FROM events""".stripMargin),

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
    "q_stream_join" -> CatalogQuery((s, d) => withStreamingConfs(s, 8) { ss =>
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
    },
      // the interval join re-derived relationally: purchases × same-user
      // views in the 4-hour lookback, inclusive both ends (µs arithmetic)
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 AS us, user_id,
        |    event_type, value FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS p_us
        |  FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us AS v_us, value AS view_value
        |  FROM e WHERE event_type = 'view')
        |SELECT purchase_id, p.user_id, p_us, v_us, view_value
        |FROM p JOIN v ON v.user_id = p.user_id
        | AND v_us >= p_us - 14400000000 AND v_us <= p_us""".stripMargin),

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
    "q_stream_upsert" -> CatalogQuery((s, d) => withStreamingConfs(s, 8) { ss =>
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
    },
      // the streamed upsert converges to the identical one-shot merge (see
      // the query's key-partitioning argument), so it shares the oracle
      changelogOracleSql),

    // As-of join: every purchase gets the user's latest view value at or
    // before it (views pre-aggregated to unique (user, µs), the operator's
    // determinism requirement). Oracle = DuckDB's native ASOF LEFT JOIN.
    // binned range join: views landing in each purchase's 4-hour
    // lookback window (equi-join on (user, bin), never a per-key cross
    // product), aggregated per purchase; 1-hour bins → ≤ 5 explode rows
    // per interval
    "q_events_range" -> CatalogQuery((s, d) => {
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
    },
      // semantic replica of the binned range join: a plain BETWEEN theta-join
      // (the binning is a pure execution-strategy change, invisible in results)
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    us - 14400000000 AS w_start, us AS w_end FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, value FROM e WHERE event_type = 'view')
        |SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_views,
        |  max(v.value) AS max_view_value
        |FROM v JOIN p ON v.user_id = p.user_id AND v.us BETWEEN p.w_start AND p.w_end
        |GROUP BY 1""".stripMargin),

    // ordered funnel view → click → purchase within 48 h of the first view
    "q_events_funnel" -> CatalogQuery((s, d) => {
      val ev = graft.sources.Events.load(s, d)
        .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("us"))
      Temporal.funnel(ev, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"), maxSpan = 172800000000L)
        .agg(
          count(lit(1)).as("n_viewed"),
          count(col("t_click")).as("n_clicked"),
          count(col("t_purchase")).as("n_purchased"))
    },
      // replicates Temporal.funnel: per-step earliest in-order timestamps,
      // strictly increasing, all within 48 h of the first view
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
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin),

    "q_events_asof" -> CatalogQuery((s, d) => {
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
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, MAX(value) AS view_value
        |  FROM e WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.us, v.view_value, v.us AS view_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us""".stripMargin),

    // asOfJoin TOLERANCE path: matches staler than 1 h (in µs) are nulled
    // out, rows kept — the semantics DuckDB ASOF can't state in its single
    // join inequality, replicated oracle-side as a post-join CASE
    "q_events_asof_tol" -> CatalogQuery((s, d) => {
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
    },
      // the tolerance branch: plain ASOF then null out matches older than
      // leftTs − 1 h (keep the row) — exactly Temporal.asOfJoin(tolerance=)
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
        |FROM a""".stripMargin),

    // winsorized robust stats: discrete rank-quantile clip bounds on the
    // cents grid (integer ceil-division ranks — n·0.05 in doubles can ceil
    // one rank high), exact integer sums, one double division at the end
    "q_events_winsorize" -> CatalogQuery((s, d) =>
      graft.core.Profiling.winsorizedStats(
        graft.sources.Events.load(s, d).select("event_id", "event_type", "value"),
        Seq("event_type"), "value", "event_id", loPct = 5, hiPct = 95),
      // winsorize replica: same integer ceil-division ranks, same cents
      // grid, same discrete clip bounds
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
        |FROM v JOIN b USING (event_type) GROUP BY 1""".stripMargin),

    // interval union (gaps-and-islands): each event claims a 2-hour
    // activity interval, merged per user into maximal disjoint spans —
    // containment chains collapse via the running-max rule a naive
    // lag(end) split would break
    "q_events_intervals" -> CatalogQuery((s, d) => {
      val iv = graft.sources.Events.load(s, d).select(
        col("user_id"),
        expr("ts_ns div 1000").as("st"),
        (expr("ts_ns div 1000") + 7200000000L).as("en"))
      Temporal.mergeIntervals(iv, Seq("user_id"), "st", "en")
        .select(col("user_id"), col("span_start").as("span_start_us"),
          col("span_end").as("span_end_us"), col("n_intervals"))
    },
      // gaps-and-islands replica: running-max end over (start, end) order
      // opens an island when start exceeds it; islands aggregate to spans
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
        |FROM i GROUP BY user_id, isl""".stripMargin),

    // the complement: uncovered holes between each user's merged spans
    "q_events_gaps" -> CatalogQuery((s, d) => {
      val iv = graft.sources.Events.load(s, d).select(
        col("user_id"),
        expr("ts_ns div 1000").as("st"),
        (expr("ts_ns div 1000") + 7200000000L).as("en"))
      Temporal.intervalGaps(iv, Seq("user_id"), "st", "en")
        .select(col("user_id"), col("gap_start").as("gap_start_us"),
          col("gap_end").as("gap_end_us"))
    },
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
        |WHERE pe IS NOT NULL""".stripMargin))
}
