package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Events
import graft.streaming.StreamingOps

/** Structured Streaming specs: the same transforms run as a file-source
  * stream (memory sink, synchronous processAllAvailable) and as batch, and
  * must agree.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = Events.load(spark, "/root/testdata/sf0.001")

  private def streamedEvents(tmp: String) = {
    batchEvents.drop("ts").withColumnRenamed("ts_ns", "ts")
      .write.mode("overwrite").parquet(tmp) // re-write as plain longs
    Events.decorate(
      spark.readStream
        .schema(Events.rawSchema)
        .parquet(tmp))
  }

  test("Events.decorate ns→µs truncation is exact at 2026-era timestamps") {
    // Epoch nanos ~1.7e18 exceed double's 53-bit mantissa, so a double
    // division would round the microsecond value by ~1µs; `div` must not.
    val ns = Seq(
      1770000000000000999L,  // truncates down across a µs boundary
      1770000000000001000L,  // exact µs
      1799999999999999999L)  // worst-case all-nines tail
    val got = Events.decorate(ns.map(n => (1L, n)).toDF("event_id", "ts"))
      .select(unix_micros(col("ts")))
      .as[Long].collect().toSeq
    assert(got == ns.map(_ / 1000L))
  }

  test("streaming windowed stats equal the batch computation") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val stream = StreamingOps.windowedStats(streamedEvents(tmp), "1 hour", "10 minutes")
    val q = stream.writeStream
      .format("memory").queryName("win_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // append mode emits EXACTLY the windows closed by the final watermark
    // (max event time - lateness): assert set equality against the batch
    // answer restricted to closed windows, not just a nonEmpty subset
    // Spark tracks event-time watermarks in MILLISECONDS (max event time
    // truncated to ms), so compute on the same grid — a sub-ms component in
    // max(ts) must not admit a window Spark itself would not close.
    val maxTs = batchEvents.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val watermarkUs = (maxTs / 1000L - 10L * 60 * 1000L) * 1000L // lateness "10 minutes"
    val closedBatch = batch.filter { case ((start, _), _) =>
      start.getTime / 1000 * 1000000 + start.getNanos / 1000 + 3600000000L <= watermarkUs
    }
    assert(streamed.nonEmpty)
    assert(streamed == closedBatch,
      s"streamed windows must equal batch windows closed by the watermark " +
        s"(missing ${(closedBatch.keySet -- streamed.keySet).take(3)}, " +
        s"extra ${(streamed.keySet -- closedBatch.keySet).take(3)})")
  }

  test("stream dedup drops re-delivered event_ids within the watermark") {
    val tmp = Files.createTempDirectory("graft-stream-dup").toString
    val dups = batchEvents.limit(50).drop("ts").withColumnRenamed("ts_ns", "ts")
    dups.union(dups).write.mode("overwrite").parquet(tmp) // every event twice
    val deduped = StreamingOps.dedupEvents(
      Events.decorate(spark.readStream.schema(Events.rawSchema).parquet(tmp)),
      "10 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("dedup_out").select("event_id").as[Long].collect()
    assert(out.length == out.distinct.length)
    assert(out.length == 50)
  }

  test("stream-static enrichment equals the batch left join and keeps unmatched events") {
    val tmp = Files.createTempDirectory("graft-stream-enrich").toString
    val dim = Seq(("view", "browse"), ("click", "browse"), ("purchase", "convert"))
      .toDF("event_type", "funnel_stage")
    val enriched = StreamingOps.enrichEvents(streamedEvents(tmp), dim, Seq("event_type"))
      .select("event_id", "event_type", "funnel_stage")
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("enrich_out")
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    val batch = StreamingOps.enrichEvents(batchEvents, dim, Seq("event_type"))
      .select("event_id", "funnel_stage")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(streamed == batch)
    assert(streamed.size == batchEvents.count(),
      "left enrichment must never drop an event")
    assert(streamed.values.exists(_.isEmpty),
      "event types outside the dimension must survive with NULL stage")
  }

  test("stream-stream interval join equals the batch join and bounds state with watermarks") {
    val tmp = Files.createTempDirectory("graft-stream-ij").toString
    val joined = StreamingOps.viewsBeforePurchase(streamedEvents(tmp), "4 hours", "10 minutes")
    val q = joined.writeStream
      .format("memory").queryName("ij_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("purchase_id"), r.getAs[java.sql.Timestamp]("v_ts"))
    val streamed = spark.table("ij_out").collect().map(key).toSet
    val batch = StreamingOps.viewsBeforePurchase(batchEvents, "4 hours", "10 minutes")
      .collect().map(key).toSet
    // inner interval joins emit on match, not on watermark close — the
    // stream must produce the complete batch answer
    assert(streamed == batch,
      s"missing ${batch -- streamed take 5} extra ${streamed -- batch take 5}")
    assert(batch.nonEmpty, "degenerate fixture: no view-before-purchase pairs at all")
  }

  test("session windows: streaming append and flatMapGroupsWithState agree with batch") {
    // batch truth: (user, session_start_us, n_events) + each session's end,
    // so the watermark-closed subset is derivable exactly
    val batchRows = StreamingOps.sessionWindows(batchEvents, "8 hours")
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batchSessions = batchRows.map(s => (s._1, s._2, s._4)).toSet
    // same ms-grid truncation as the windowed test: Spark's watermark is
    // ms-resolution, so derive the closed set from the ms-truncated max
    val maxTs = batchEvents.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val watermarkUs = (maxTs / 1000L - 60L * 1000L) * 1000L // lateness "1 minute"
    val closedBatch = batchRows.filter(_._3 <= watermarkUs).map(s => (s._1, s._2, s._4)).toSet

    // native session_window over the stream: append emits EXACTLY the
    // sessions the final watermark closed (end <= max event - lateness)
    val tmp = Files.createTempDirectory("graft-stream-sess").toString
    val q = StreamingOps.sessionWindows(streamedEvents(tmp), "8 hours", Some("1 minute"))
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_out")
      .select(col("user_id"), unix_micros(col("session_start")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == closedBatch,
      s"streamed sessions must equal the watermark-closed batch sessions " +
        s"(missing ${(closedBatch -- streamed).take(3)}, extra ${(streamed -- closedBatch).take(3)})")

    // custom-state twin: every closed session it emits must be a batch
    // session (the per-user trailing session stays open — single batch, no
    // later watermark advance to time it out)
    val tmp2 = Files.createTempDirectory("graft-stream-fmgs").toString
    val q2 = StreamingOps.sessionizeEvents(
        spark, streamedEvents(tmp2), gapUs = 28800000000L, lateness = "1 minute")
      .toDF()
      .writeStream.format("memory").queryName("fmgs_out").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val closed = spark.table("fmgs_out")
      .select("user_id", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(closed.nonEmpty)
    assert(closed.subsetOf(batchSessions),
      s"flatMapGroupsWithState closed sessions differ: ${closed -- batchSessions}")
  }

  test("sessionizeEvents survives a checkpoint restart: no lost or duplicated closed session") {
    // The exactly-once claim: kill the query mid-stream, restart from the
    // checkpoint, and the union of emitted sessions must still be a
    // duplicate-free subset of the batch answer — with sessions SPANNING
    // the restart carrying their pre-restart state (event counts combine).
    val srcDir = Files.createTempDirectory("graft-ckpt-src").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt-state").toString
    val outDir = Files.createTempDirectory("graft-ckpt-out").toString
    val gapUs = 28800000000L // 8 hours, as the batch-truth test uses

    val raw = batchEvents.drop("ts").withColumnRenamed("ts_ns", "ts")
    val splitNs = raw.stat.approxQuantile("ts", Array(0.6), 0.0)(0).toLong
    // phase 1 now (one time-ordered file per phase: each phase is one
    // microbatch, so the watermark advances between phases, not within)
    raw.filter(col("ts") <= splitNs).orderBy("ts").coalesce(1)
      .write.mode("overwrite").parquet(srcDir)

    def startQuery() = StreamingOps.sessionizeEvents(
        spark,
        Events.decorate(spark.readStream.schema(Events.rawSchema).parquet(srcDir)),
        gapUs, lateness = "1 minute")
      .toDF()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckptDir)
      .outputMode("append").start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // "crash" after phase 1
    val phase1Count = spark.read.parquet(outDir).count()

    // phase 2 arrives while the query is down; restart from the checkpoint
    raw.filter(col("ts") > splitNs).orderBy("ts").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir)
      .select("user_id", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly-once across the restart: no session emitted twice (a lost
    // checkpoint would re-read phase-1 files; lost state would re-open and
    // re-close sessions at shifted starts)
    assert(out.length == out.distinct.length, "duplicate sessions after restart")
    assert(out.map(s => (s._1, s._2)).distinct.length == out.length,
      "same session start emitted twice with different contents")
    assert(out.length > phase1Count, "restart emitted nothing — phase-2 state lost")

    // every emitted session is a true batch session over the FULL data
    val batchSessions = StreamingOps.sessionWindows(batchEvents, "8 hours")
      .select(col("user_id"), unix_micros(col("session_start")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.toSet.subsetOf(batchSessions),
      s"restart emitted sessions unknown to batch: ${out.toSet -- batchSessions take 5}")

    // at least one emitted session spans the restart: it started at or
    // before the split and ended after it, so its state crossed the
    // checkpoint — and its n_events matches batch exactly (asserted by the
    // subset check above; a state loss would have emitted a fragment)
    val splitUs = splitNs / 1000L
    val spanning = out.filter(s => s._2 <= splitUs && s._2 + gapUs > splitUs)
    assert(spanning.nonEmpty, "fixture degenerate: no session spanned the restart")
  }

  test("upsertSink materializes a CDC stream: upserts, deletes, inserts across micro-batches") {
    val base = Files.createTempDirectory("graft-upsert").toString
    val in = s"$base/in"; val snap = s"$base/snap"; val ckpt = s"$base/ckpt"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("name", "string").add("v", "long").add("op", "string")
    def feed(rows: Seq[(Long, String, Long, String)]): Unit =
      rows.toDF("id", "name", "v", "op").repartition(1)
        .write.mode("append").parquet(in)

    feed(Seq((1L, "alice", 100L, "U"), (2L, "bob", 100L, "U"), (3L, "carol", 100L, "U")))
    val q = StreamingOps.upsertSink(
      spark.readStream.schema(schema).parquet(in),
      snap, ckpt, Seq("id"), Seq("v"), "op")
    try {
      q.processAllAvailable()
      def state() = StreamingOps.readSnapshot(spark, snap).get
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
      assert(state() == Map(1L -> "alice", 2L -> "bob", 3L -> "carol"))

      // second micro-batch: update bob, delete carol, insert dave
      feed(Seq((2L, "bob2", 101L, "U"), (3L, "x", 101L, "D"), (4L, "dave", 101L, "U")))
      q.processAllAvailable()
      assert(state() == Map(1L -> "alice", 2L -> "bob2", 4L -> "dave"),
        "cross-batch merge must update, delete, insert, and carry untouched keys")
    } finally q.stop()

    // replay idempotence (the exactly-once claim): re-merging the last
    // batch into the final snapshot must be a no-op
    val last = Seq((2L, "bob2", 101L, "U"), (3L, "x", 101L, "D"), (4L, "dave", 101L, "U"))
      .toDF("id", "name", "v", "op")
    val snapDf = StreamingOps.readSnapshot(spark, snap).get
    val replayed = graft.operators.Changelog
      .applyChangelog(snapDf, last, Seq("id"), Seq("v"), "op")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(replayed == Map(1L -> "alice", 2L -> "bob2", 4L -> "dave"))
  }

  test("upsertSink recovers from a crash between the swap renames (.bak fallback)") {
    val base = Files.createTempDirectory("graft-upsert-crash").toString
    val in = s"$base/in"; val snap = s"$base/snap"; val ckpt = s"$base/ckpt"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("name", "string").add("v", "long").add("op", "string")
    def feed(rows: Seq[(Long, String, Long, String)]): Unit =
      rows.toDF("id", "name", "v", "op").repartition(1)
        .write.mode("append").parquet(in)
    def run(): Unit = {
      val q = StreamingOps.upsertSink(
        spark.readStream.schema(schema).parquet(in),
        snap, ckpt, Seq("id"), Seq("v"), "op")
      try q.processAllAvailable() finally q.stop()
    }
    feed(Seq((1L, "alice", 100L, "U"), (2L, "bob", 100L, "U")))
    run()
    // crash window: live was renamed to .bak, the new live never landed
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(snap),
      new org.apache.hadoop.fs.Path(snap + ".bak")))
    // reads fall back to the .bak generation
    val fallback = StreamingOps.readSnapshot(spark, snap).get
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(fallback == Map(1L -> "alice", 2L -> "bob"))
    // the restarted sink merges onto the .bak generation and restores live
    feed(Seq((2L, "bob2", 101L, "U"), (3L, "carol", 101L, "U")))
    run()
    assert(fs.exists(new org.apache.hadoop.fs.Path(snap)), "live snapshot restored")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snap + ".bak")), ".bak cleaned up")
    val state = StreamingOps.readSnapshot(spark, snap).get
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(state == Map(1L -> "alice", 2L -> "bob2", 3L -> "carol"))
  }

  test("streaming ingest dedup: micro-batches link against the persisted history index") {
    import graft.operators.Dedup
    val base = Files.createTempDirectory("graft-ingest-dedup").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val histA = "the quick brown fox jumps over the lazy dog tonight again"
    val histB = "completely different text about spark engines and planning"
    val hist = Seq((1L, histA), (2L, histB)).toDF("doc_id", "text")
    // the persisted index: banded once, never recomputed per batch
    val store = Dedup.minhashBandBuckets(
      Dedup.minhashSignatures(hist, "doc_id", "text", numHashes = 48),
      bands = 16, rowsPerBand = 3)
    store.cache().count()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1).write.mode("append").parquet(in)

    val collected = scala.collection.mutable.Set.empty[(Long, Long)]
    feed(Seq((100L, histA), (101L, "a fresh document matching nothing in history")))
    val q = spark.readStream.schema(schema).parquet(in)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected.synchronized {
          collected ++= Dedup
            .incrementalMinhashLinks(batch, "doc_id", "text", store, hist,
              threshold = 0.9, numHashes = 48, bands = 16)
            .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("hist_id")))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(collected.toSet == Set((100L, 1L)), s"batch 1 must link its leak: $collected")
      feed(Seq((102L, histB), (103L, "yet another novel document entirely")))
      q.processAllAvailable()
      assert(collected.toSet == Set((100L, 1L), (102L, 2L)),
        s"each micro-batch links only against the static index: $collected")
    } finally { q.stop(); store.unpersist() }
  }

  test("mapGroupsWithState running stats (batch-mode execution)") {
    val stats = StreamingOps.userRunningStats(spark, batchEvents.limit(200))
      .collect().map(s => s.user_id -> s.n_events).toMap
    val expected = batchEvents.limit(200).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats == expected)
  }

  test("long_top_k aggregates across micro-batches: streamed == batch top-k") {
    // the TypedImperativeAggregate's serialize/merge path is exactly what
    // streaming state updates exercise: each micro-batch merges its partial
    // heaps into the state store's, so complete-mode output must equal the
    // batch aggregation over all input seen
    val tmp = Files.createTempDirectory("graft-topk-stream").toString
    val in = streamedEvents(tmp)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
    val agged = in.groupBy("event_type")
      .agg(graft.functions.AggExpressions.longTopK(col("cents"), col("event_id"), 5).as("top"))
    val q = agged.writeStream
      .format("memory").queryName("topk_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), col("pos"), col("col.ord"), col("col.id"))
      .as[(String, Int, Long, Long)].collect().toSet
    val streamed = flat(spark.table("topk_out"))
    val batch = flat(
      batchEvents
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"), col("event_id"))
        .groupBy("event_type")
        .agg(graft.functions.AggExpressions.longTopK(col("cents"), col("event_id"), 5).as("top")))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("catalog streaming confs put keyed state in RocksDB changelog checkpoints") {
    // Pin the conf pair every catalog q_stream_* row runs under...
    val confs = catalog.EventQueries.streamingStateConfs.toMap
    assert(confs("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    assert(confs(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    // ...and their OBSERVABLE effect: a keyed-state stream under these
    // confs checkpoints state as RocksDB `<v>.changelog` files, never the
    // HDFS provider's on-heap-map `<v>.delta` files. A silent revert of the
    // conf flips the file extension and fails here.
    val ss = spark.newSession()
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    val base = Files.createTempDirectory("graft-rocksdb-pin").toString
    batchEvents.drop("ts").withColumnRenamed("ts_ns", "ts")
      .limit(200).write.mode("overwrite").parquet(s"$base/src")
    val q = StreamingOps.dedupEvents(
      Events.decorate(ss.readStream.schema(Events.rawSchema).parquet(s"$base/src")),
      "10 minutes")
      .writeStream.format("memory").queryName("rocksdb_pin").outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val names = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ckpt/state"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toVector
      } finally s.close()
    }
    assert(names.exists(_.endsWith(".changelog")),
      s"no RocksDB changelog checkpoint written; state files: $names")
    assert(!names.exists(_.endsWith(".delta")),
      s"HDFS-backed provider .delta files present — RocksDB conf not engaged: $names")
  }
}
