package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Graphs, Similarity, Skew}

/** Unit specs for the dedup / similarity / text extension operators. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  /** A session whose graph layouts keep `partitions` partitions: the
    * shuffle-partition count is set, and the advisory partition size is
    * one byte, so no input is small enough for [[Graphs.layoutPartitions]]
    * to size a layout below it.
    */
  private def layoutSession(partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    s
  }

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy dog", "en"), // near dup of 1
    (4L, "completely different text about spark engines", "en"),
    (5L, "der hund ist nicht ein tier mit flügeln", "de")
  ).toDF("doc_id", "text", "lang")

  test("exact duplicate groups find the duplicated text with min-id survivor") {
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", Seq("text")).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
    assert(groups.head.getAs[Long]("n_copies") == 2L)
  }

  test("dropExactDuplicates keeps the deterministic min-id row") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("rollingDistinct counts trailing-window distinct keys, clipped to observed days") {
    import graft.operators.Temporal
    val ev = Seq(
      ("2026-01-01 10:00:00", 1L), ("2026-01-01 11:00:00", 1L), // dup same day
      ("2026-01-02 09:00:00", 2L),
      ("2026-01-10 09:00:00", 1L) // gap: days 3..9 have no events → no rows
    ).toDF("ts_s", "user_id").select(col("ts_s").cast("timestamp").as("ts"), col("user_id"))
    val out = Temporal.rollingDistinct(ev, "ts", "user_id", days = 3)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("n_active"))
      .toMap
    // day1: {1}; day2: {1 (from day1), 2}; day10: {1}; days 3,4,11,12 not observed → absent
    assert(out == Map("2026-01-01" -> 1L, "2026-01-02" -> 2L, "2026-01-10" -> 1L),
      s"got $out")
  }

  test("retentionCohorts builds the distinct-user triangle; repeats within a bucket collapse") {
    import graft.operators.Temporal
    val day = 10L // tiny buckets keep the arithmetic legible
    val ev = Seq(
      // user 1: cohort bucket 0, returns in 1 and 3 (twice in 3 — one vote)
      (1L, 5L), (1L, 12L), (1L, 30L), (1L, 35L),
      // user 2: cohort 0 only
      (2L, 9L),
      // user 3: cohort 1, returns in 3 (offset 2)
      (3L, 15L), (3L, 33L)
    ).toDF("user_id", "ts_ns")
    val got = Temporal.retentionCohorts(ev, "user_id", "ts_ns", bucketNs = day)
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L), s"got $got")
    // null users and timestamps drop, not crash
    val withNulls = Seq((Some(1L), Some(5L)), (None, Some(7L)), (Some(2L), None))
      .toDF("user_id", "ts_ns")
    val g2 = Temporal.retentionCohorts(withNulls, "user_id", "ts_ns", bucketNs = day)
      .as[(Long, Long, Long)].collect().toSet
    assert(g2 == Set((0L, 0L, 1L)), s"got $g2")
    // brute-force cross-check on random data: the set-based one-shuffle
    // engine path vs a literal min-join reference
    val rng = new scala.util.Random(17)
    val raw = (1 to 400).map(_ => (rng.nextInt(25).toLong, rng.nextInt(200).toLong))
    val ref = {
      val pairs = raw.map { case (u, t) => (u, t / day) }.distinct
      val cohort = pairs.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      pairs.groupBy { case (u, b) => (cohort(u), b - cohort(u)) }.view
        .mapValues(_.size.toLong).toMap
    }
    val gotR = Temporal.retentionCohorts(raw.toDF("user_id", "ts_ns"),
        "user_id", "ts_ns", bucketNs = day)
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    assert(gotR == ref, s"random mismatch: got ${gotR.size} ref ${ref.size}")
  }

  test("retentionCohorts floors negative timestamps (pre-1970) like the oracle's //") {
    import graft.operators.Temporal
    val day = 10L
    // user 1 at ts -5: floor(-5/10) = -1, NOT Spark div's trunc-to-zero 0;
    // its return at ts 5 (bucket 0) is then offset 1 from cohort -1
    val ev = Seq((1L, -5L), (1L, 5L), (2L, -25L)).toDF("user_id", "ts_ns")
    val got = Temporal.retentionCohorts(ev, "user_id", "ts_ns", bucketNs = day)
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    assert(got == Map((-1L, 0L) -> 1L, (-1L, 1L) -> 1L, (-3L, 0L) -> 1L), s"got $got")
  }

  test("rollingDistinctApprox tracks the exact path within HLL error on real event data") {
    import graft.operators.Temporal
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val exact = Temporal.rollingDistinct(ev, "ts", "user_id", days = 7)
      .select(col("day").cast("string"), col("n_active"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_active")).toMap
    val approx = Temporal.rollingDistinctApprox(ev, "ts", "user_id", days = 7)
      .select(col("day").cast("string"), col("n_active_approx"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_active_approx")).toMap
    assert(approx.keySet == exact.keySet, "both paths must report the same days")
    exact.foreach { case (d, n) =>
      val a = approx(d)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"day $d: approx $a vs exact $n — outside 5% HLL band")
    }
  }

  test("linkPairs links across frames only — in-frame duplicates never emit") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val a = Seq(
      (1L, shared, "en"),
      (2L, shared, "en"), // exact in-frame duplicate of 1 — must NOT pair with it
      (3L, "totally different content on this side", "en")
    ).toDF("doc_id", "text", "lang")
    val b = Seq(
      (10L, shared + " iota", "en"), // near-match of 1 and 2
      (11L, "unrelated text on the b side entirely", "en")
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.linkPairs(a, b, "doc_id", "text", "lang", threshold = 0.7)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got == Set((1L, 10L), (2L, 10L)),
      s"expected exactly the cross-frame links, got $got")
  }

  test("Checks.validate: one pass, exact ppm thresholds, tolerances and min-rows semantics") {
    import graft.core.Checks._
    val df = Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (2L, None, 999.0), (3L, Some("z"), -5.0)
    ).toDF("id", "status", "v")
    val out = graft.core.Checks.validate(spark, df, Seq(
        NotNull("status"),                            // 1/4 null → 250000 ppm → fail
        NotNull("status", maxViolationPpm = 300000L), // tolerated → pass
        Unique(Seq("id")),                            // id 2 duplicated → fail
        InRange("v", 0.0, 100.0),                     // 999 and -5 violate → fail
        AcceptedValues("status", Seq("a", "b")),      // "z" violates → fail
        MinRows(4L),                                  // exactly 4 → pass
        MinRows(5L)))                                 // fail
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_violations"),
        r.getAs[Long]("violation_ppm"), r.getAs[Boolean]("passed")))
    assert(out(0) == ("not_null", "status", 1L, 250000L, false))
    assert(out(1) == ("not_null", "status", 1L, 250000L, true))
    assert(out(2) == ("unique", "id", 1L, 250000L, false))
    assert(out(3) == ("in_range", "v", 2L, 500000L, false))
    assert(out(4) == ("accepted_values", "status", 1L, 250000L, false))
    assert(out(5) == ("min_rows", "*", 0L, 0L, true))
    // min_rows ppm is relative to the REQUIRED minimum (1 missing of 5 →
    // 200 000), not the actual count (which would read 250 000 here and
    // overflow past 10⁶ on tiny frames)
    assert(out(6) == ("min_rows", "*", 1L, 200000L, false))
  }

  test("incrementalMinhashLinks: new batch links against the persisted index, cross-side only") {
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (4L, "completely different text about spark engines and planning"),
      (5L, "der hund ist nicht ein tier mit flügeln oder so")
    ).toDF("doc_id", "text")
    val newBatch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"), // copy of 1
      (101L, "a brand new document that matches nothing in the history"),
      (102L, "a brand new document that matches nothing in the history")   // batch-internal dup
    ).toDF("doc_id", "text")
    val store = Dedup.minhashBandBuckets(
      Dedup.minhashSignatures(hist, "doc_id", "text", numHashes = 48),
      bands = 16, rowsPerBand = 3)
    val got = Dedup.incrementalMinhashLinks(newBatch, "doc_id", "text", store, hist,
        threshold = 0.9, numHashes = 48, bands = 16)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("hist_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == Set((100L, 1L, 1.0)),
      s"expected exactly the planted history link (batch-internal dups are not links): $got")
  }

  test("mergeMinhashIndex: k-batch ingest converges to the one-shot index; retirement anti-joins") {
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val b2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
    val b3 = Seq((5L, "one two three four five six seven eight")).toDF("doc_id", "text")
    def idx(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashIndex(df, "doc_id", "text", numHashes = 32, bands = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc"), r.getAs[Int]("band"),
        r.getAs[Long]("bucket"))).toSet
    // ingest three batches incrementally vs index the union once
    val incremental = Dedup.mergeMinhashIndex(Dedup.mergeMinhashIndex(idx(b1), idx(b2)), idx(b3))
    val oneShot = idx(b1.unionByName(b2).unionByName(b3))
    assert(rows(incremental) == rows(oneShot),
      "k incremental merges must equal the one-shot index over the union")
    // meta stamp survives the merge (so tomorrow's link can still verify it)
    assert(incremental.columns.toSet ==
      Set("doc", "band", "bucket", "__num_hashes", "__bands", "__tokenizer"))
    // retirement: doc 2's rows disappear, everything else is untouched
    val retired = Dedup.mergeMinhashIndex(idx(b1), idx(b2),
      retiredDocs = Some(Seq(2L).toDF("doc_id")))
    assert(rows(retired) == rows(idx(b1.unionByName(b2))).filterNot(_._1 == 2L))
    // pure compaction: an EMPTY batch must pass the index through unchanged
    val compacted = Dedup.mergeMinhashIndex(idx(b1), idx(b1.limit(0)),
      retiredDocs = Some(Seq(1L).toDF("doc_id")))
    assert(rows(compacted) == rows(idx(b1)).filterNot(_._1 == 1L),
      "empty-batch compaction must keep all unretired rows")
  }

  test("index meta stamp: drifted parameters fail fast at link and merge time") {
    val hist = Seq((1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val batch = Seq((9L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val store48 = Dedup.minhashIndex(hist, "doc_id", "text", numHashes = 48, bands = 16)
    // matching params: the stamped path works and finds the planted link
    val ok = Dedup.incrementalMinhashLinks(batch, "doc_id", "text", store48, hist,
      threshold = 0.9, numHashes = 48, bands = 16, tokenizerId = Some("shingles3")).count()
    assert(ok == 1L)
    // numHashes drift: the link JOB fails (not a silent recall loss)
    val e1 = intercept[Exception] {
      Dedup.incrementalMinhashLinks(batch, "doc_id", "text", store48, hist,
        threshold = 0.9, numHashes = 32, bands = 8).count()
    }
    assert(exceptionChain(e1).exists(_.getMessage != null) &&
      exceptionChain(e1).exists(t => Option(t.getMessage).exists(_.contains("meta mismatch"))),
      s"expected the meta-mismatch raise, got $e1")
    // tokenizer drift caught when the caller declares its tokenizer id
    val e2 = intercept[Exception] {
      Dedup.incrementalMinhashLinks(batch, "doc_id", "text", store48, hist,
        threshold = 0.9, numHashes = 48, bands = 16, tokenizerId = Some("words")).count()
    }
    assert(exceptionChain(e2).exists(t => Option(t.getMessage).exists(_.contains("meta mismatch"))))
    // merge refuses to fold mismatched stamps into one index (collect, not
    // count: a bare count() prunes every column including the guarded one —
    // real consumers, writes and probe joins, always read `bucket`)
    val store32 = Dedup.minhashIndex(batch, "doc_id", "text", numHashes = 32, bands = 8)
    val e3 = intercept[Exception] { Dedup.mergeMinhashIndex(store48, store32).collect() }
    assert(exceptionChain(e3).exists(t => Option(t.getMessage).exists(_.contains("stamp mismatch"))))
    // an UNSTAMPED (legacy) index still links, unchecked
    val bare = store48.drop("__num_hashes", "__bands", "__tokenizer")
    assert(Dedup.incrementalMinhashLinks(batch, "doc_id", "text", bare, hist,
      threshold = 0.9, numHashes = 48, bands = 16).count() == 1L)
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq

  test("linkPairs matches a driver-side brute-force model on a seeded mutated corpus") {
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 60).map(i => s"w$i")
    val aRows = (0 until 30).map { i =>
      (i.toLong, (0 until 25).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "), "en")
    }
    // B = mutated copies of A (i%6 words replaced) + 10 fresh docs —
    // jaccards straddle the threshold from both sides
    val bRows = aRows.map { case (i, t, l) =>
      val w = t.split(" ")
      (0 until (i % 6).toInt).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
      (1000L + i, w.mkString(" "), l)
    } ++ (0 until 10).map { i =>
      (2000L + i, (0 until 25).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "), "en")
    }
    def shingles(t: String): Set[String] = {
      val w = t.trim.split("\\s+")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val threshold = 0.3
    val expected = (for {
      (ai, at, _) <- aRows
      (bi, bt, _) <- bRows
      sa = shingles(at); sb = shingles(bt)
      inter = (sa & sb).size
      if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= threshold
    } yield (ai, bi, j)).toSet
    assert(expected.size >= 10 && expected.size < aRows.size * bRows.size,
      s"fixture must straddle the threshold, got ${expected.size}")
    val got = Dedup.linkPairs(
        aRows.toDF("doc_id", "text", "lang"), bRows.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", threshold)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("jaccard")))
      .toSet
    assert(got == expected, s"model mismatch: extra ${got -- expected}, missing ${expected -- got}")
  }

  test("mergeQuantiles: merge law holds, reported bin contains the exact rank value, negatives floor") {
    import graft.operators.Incremental
    val vals = spark.range(0, 1000)
      .select(lit("k").as("key"), col("id").as("v"),
        (col("id") % 3).as("bucket")) // 3 arbitrary ingest buckets
    val qs = Seq(250000L, 500000L, 990000L)
    val merged = Incremental.mergeQuantiles(
      Incremental.partialQuantiles(vals, Seq("key"), "bucket", "v", binWidth = 10L),
      Seq("key"), qs, binWidth = 10L)
    val oneShot = Incremental.mergeQuantiles(
      Incremental.partialQuantiles(vals.withColumn("bucket", lit(0)),
        Seq("key"), "bucket", "v", binWidth = 10L),
      Seq("key"), qs, binWidth = 10L)
    assert(merged.collect().toSet == oneShot.collect().toSet,
      "partial-then-merge must be bit-identical to one-shot")
    val m = merged.collect().map(r => r.getAs[Long]("q_ppm") ->
      (r.getAs[Long]("q_lo_scaled"), r.getAs[Long]("q_hi_scaled"))).toMap
    // values 0..999: rank ⌈q·1000⌉ (1-indexed) = value ⌈q·1000⌉−1
    assert(m(500000L) == (490L, 499L) && m(250000L) == (240L, 249L) &&
      m(990000L) == (980L, 989L), s"rank containment broken: $m")
    // q_ppm = 0 selects the MIN bin (rank clamps to 1), not zero rows
    val q0 = Incremental.mergeQuantiles(
      Incremental.partialQuantiles(vals, Seq("key"), "bucket", "v", binWidth = 10L),
      Seq("key"), Seq(0L), binWidth = 10L).collect()
    assert(q0.length == 1 && q0.head.getAs[Long]("q_lo_scaled") == 0L,
      s"q=0 must report the min bin: ${q0.toSeq}")
    // negatives: floor bins, not truncate-toward-zero (no double-width bin at 0)
    val neg = Seq(("k", -7L, 0), ("k", -1L, 0), ("k", 3L, 0)).toDF("key", "v", "bucket")
    val nb = Incremental.partialQuantiles(neg, Seq("key"), "bucket", "v", binWidth = 5L)
      .select("bin").as[Long].collect().sorted
    assert(nb.sameElements(Array(-2L, -1L, 0L)), s"floor bins expected, got ${nb.toSeq}")
  }

  test("dropDuplicatedSpans: canonical copy survives, re-pastes and self-repetition vanish") {
    val boiler = "all rights reserved please see terms" // 6 tokens → 2 windows at w=5
    val corpus = Seq(
      (1L, s"unique one content here $boiler"),  // canonical (min doc) — keeps boiler
      (2L, s"other prose entirely different $boiler"), // re-paste — loses boiler
      (3L, "a b c d e f a b c d e f"), // self-repetition: 2nd "a b c d e f" covered
      (4L, "nothing shared with anyone at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicatedSpans(corpus, "doc_id", "text", w = 5, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens_dropped"))).toMap
    assert(out(1L)._1 == s"unique one content here $boiler" && out(1L)._2 == 0L,
      s"first occurrence must keep the span: ${out(1L)}")
    assert(out(2L)._1 == "other prose entirely different" && out(2L)._2 == 6L,
      s"re-paste must lose exactly the boilerplate tokens: ${out(2L)}")
    assert(out(3L)._1 == "a b c d e f" && out(3L)._2 == 6L,
      s"within-doc repetition must collapse to one copy: ${out(3L)}")
    assert(out(4L) == ("nothing shared with anyone at all", 0L))
  }

  test("bm25Rank: length normalization and tf saturation order documents correctly") {
    val fill = (1 to 45).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (1L, "x " + (1 to 4).map(i => s"f$i").mkString(" ")), // 1 hit, 5 tokens
      (2L, "x " + fill),                                    // 1 hit, 46 tokens
      (3L, ("x " * 10) + fill)                              // 10 hits, 55 tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(corpus, "doc_id", "text", Seq("x"), k = 3)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("score")).toMap
    assert(out(1L) > out(2L), s"same tf, shorter doc must score higher: $out")
    assert(out(3L) > out(2L), s"more hits must score higher at similar length: $out")
    assert(out(3L) < 10 * out(2L), s"tf must saturate, not scale linearly: $out")
  }

  test("sourceOverlap: directional containment, format-dup texts count once, no-overlap absent") {
    val corpus = Seq(
      ("doc one", "big"), ("doc two", "big"), ("doc three", "big"), ("doc four", "big"),
      ("doc one", "small"), ("doc  one ", "small"), // normalized dup — one distinct fp
      ("hermit text", "lonely")
    ).toDF("text", "source")
    val out = graft.core.Profiling.sourceOverlap(corpus, "text", "source")
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Double]("containment"))).toMap
    assert(out(("small", "big")) == (1L, 1L, 1.0), s"small is fully contained in big: $out")
    assert(out(("big", "small")) == (1L, 4L, 0.25), s"big barely overlaps small: $out")
    assert(out.size == 2, s"lonely shares nothing — must be absent: $out")
  }

  test("bigramLogProbScore: rare transitions cost more; <2-token docs score (0, 0.0)") {
    val corpus = Seq(
      (1L, "x y x y x y x y x y x y x y x y x"), // only the dominant transitions
      (2L, "x x y y x x y y"),                   // rare transitions (xx, yy)
      (3L, "z")                                  // no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbScore(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("bits_per_bigram"))).toMap
    assert(out(3L) == (0L, 0.0), s"single-token doc must coalesce to zero, got ${out(3L)}")
    assert(out(1L)._2 < out(2L)._2,
      s"consistent transitions must be cheaper than rare ones: $out")
    assert(out(2L)._1 == 7L && out(1L)._1 == 16L)
  }

  test("linearScore: occurrence-weighted integer sum, case-folded, NULL text scores the bias") {
    val lex = Seq(("fast", 3L), ("slow", -4L)).toDF("term", "weight")
    val corpus = Seq(
      (1L, "fast fast slow"), // 3+3-4 = 2 → keep
      (2L, "Slow SLOW"),      // -8 → drop (case-folded probe)
      (3L, "neutral words"),  // 0 → keep
      (4L, null.asInstanceOf[String]) // bias (0) → keep
    ).toDF("doc_id", "text")
    val out = TextAnalysis.linearScore(corpus, "doc_id", "text", lex)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score"), r.getAs[Boolean]("keep")))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, true), (2L, -8L, false), (3L, 0L, true), (4L, 0L, true)))
  }

  test("containmentPairs finds a short doc embedded in a long one that jaccard misses") {
    val parent = (1 to 40).map(i => s"tok$i").mkString(" ") // 38 shingles
    val excerpt = (1 to 12).map(i => s"tok$i").mkString(" ") // 10 shingles, all ⊆ parent
    val corpus = Seq(
      (1L, parent, "en"),
      (2L, excerpt, "en"),
      (3L, (100 to 140).map(i => s"tok$i").mkString(" "), "en") // disjoint
    ).toDF("doc_id", "text", "lang")
    val c = Dedup.containmentPairs(corpus, "doc_id", "text", "lang", threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
    assert(c.toSeq == Seq((1L, 2L, 1.0)), s"expected the excerpt pair only, got ${c.toSeq}")
    val j = Dedup.jaccardPairs(corpus, "doc_id", "text", "lang", threshold = 0.5).count()
    assert(j == 0, "jaccard at any dedup threshold must miss the excerpt pair")
  }

  test("semanticDecontaminate drops verbatim and near eval leaks, keeps dissimilar rows") {
    val eval = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),       // verbatim leak of eval 1 → drop
      (11L, Array(0f, 1f, 0f, 0f)),       // orthogonal to both → keep
      (12L, Array(-1f, 0.01f, 0f, 0f)),   // anti-parallel → keep
      (13L, Array(0.01f, 0f, 1f, 1f))     // near-leak of eval 2 (cos≈1) → drop
    ).toDF("vec_id", "embedding")
    // exhaustive-recall setting at this scale: 1 plane per table = every
    // pair of same-sign vectors collides somewhere across the 8 tables
    val kept = Similarity.semanticDecontaminate(
        corpus, "vec_id", "embedding", eval, "vec_id", "embedding",
        threshold = 0.9, numPlanes = 1, numTables = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L), s"expected {11, 12} survivors, got $kept")
  }

  test("dropSeenDocuments anti-joins on the normalized fingerprint (formatting-invariant)") {
    val incoming = Seq(
      (10L, "the quick brown fox"),
      (11L, "  the   quick brown fox  "), // formatting-only copy of a seen doc
      (12L, "a genuinely new document")
    ).toDF("doc_id", "text")
    val seen = Seq("the quick brown fox").toDF("t")
      .select(graft.functions.TextAnalysis.fingerprint(col("t")).as("fingerprint"))
    val kept = Dedup.dropSeenDocuments(incoming, "text", seen)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"formatting-only copies must be dropped: kept $kept")
  }

  test("dropRepeatedLines keeps first occurrence globally, short lines always, order intact") {
    val boiler = "subscribe to our newsletter for all the updates" // 47 chars, dedupable
    val multi = Seq(
      (2L, s"unique line of document two content\n$boiler\nok"),
      (1L, s"$boiler\nunique line of document one content\nok"),
      (3L, boiler) // every line a corpus-dup -> must still emit a row
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedLines(multi, "doc_id", "text", minChars = 30)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped")))
      .toMap
    assert(out.size == 3, s"one row per input document, got ${out.keySet}")
    // doc 1 is the global first occurrence of the boilerplate (min doc id)
    assert(out(1L) == ((s"$boiler\nunique line of document one content\nok", 3L, 0L)))
    // doc 2 loses the boilerplate but keeps its own line + the short "ok"
    assert(out(2L) == (("unique line of document two content\nok", 2L, 1L)))
    // doc 3 loses everything yet still appears
    assert(out(3L) == (("", 0L, 1L)))
  }

  test("dropRepeatedLines reassembly is linear: a 100k-line document is no blowup") {
    // Regression guard for the O(lines × kept) array_contains reassembly:
    // at 100k lines the quadratic shape costs ~5×10⁹ in-row comparisons
    // (tens of seconds for ONE row); the indexed reassembly is O(n log n).
    val n = 100000
    val own = (0 until n).map(i => f"document one keeps this distinct content line $i%07d")
    val big = Seq(
      (1L, own.mkString("\n")),
      // doc 2: every odd position repeats doc 1's lines, evens are its own
      (2L, (0 until n).map(i =>
        if (i % 2 == 0) f"doc two original content at position $i%07d"
        else own(i)).mkString("\n"))
    ).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = Dedup.dropRepeatedLines(big, "doc_id", "text", minChars = 30)
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped")))
      .toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out(1L)._2 == n && out(1L)._3 == 0, "doc 1 owns every first occurrence")
    assert(out(1L)._1 == own.mkString("\n"), "doc 1 reassembles byte-identically in order")
    assert(out(2L)._2 == n / 2 && out(2L)._3 == n / 2)
    assert(out(2L)._1 ==
      (0 until n by 2).map(i => f"doc two original content at position $i%07d").mkString("\n"),
      "doc 2 keeps only its own lines, original order intact")
    assert(secs < 60, f"reassembly took $secs%.1f s — quadratic regression?")
  }

  test("sourceReport surfaces cross-source duplication and per-source token stats") {
    import graft.operators.Curation
    val corpus = Seq(
      ("A", "en", "shared mirror text body"),
      ("A", "en", "unique text in source a"),
      ("A", "de", "noch ein text"),
      ("B", "en", "  shared   mirror text body "), // formatting-only copy of A's doc
      ("B", "en", "")                              // blank: 0 tokens
    ).toDF("source", "lang", "text")
    val out = Curation.sourceReport(corpus, "source", "text", "lang")
      .collect().map(r => r.getAs[String]("source") -> ((
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_docs"),
        r.getAs[Long]("n_langs"), r.getAs[Double]("mean_doc_tokens"))))
      .toMap
    assert(out("A") == ((3L, 12L, 1L, 2L, 4.0)))
    assert(out("B") == ((2L, 4L, 1L, 1L, 2.0)),
      "the normalized fingerprint must catch the formatting-only mirror copy")
  }

  test("duplicatedWindowStats counts cross-document and in-document repeated spans") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // 2 windows, 1st shared with doc 2
      (2L, "alpha beta gamma delta epsilon eta"),        // 2 windows, 1st shared with doc 1
      (3L, "one two three four five one two three four five one"), // in-doc repeats
      (4L, "short text")                                 // < 5 tokens: no windows, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.duplicatedWindowStats(corpus, "doc_id", "text", w = 5)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("dup_windows"), r.getAs[Double]("dup_fraction"))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    // 7 windows; starts 1 & 6 repeat ("one two three four five") and 2 & 7
    // ("two three four five one") — 4 duplicated occurrences
    assert(out(3L) == ((7L, 4L, 4.0 / 7)))
  }

  test("unigramLogProbScore is the exact micro-bit mean of corpus surprisal") {
    val corpus = Seq((1L, "aa aa"), (2L, "aa bb")).toDF("doc_id", "text")
    // corpus: C(aa)=3, C(bb)=1, T=4 — mirror the operator's integer
    // micro-bit rounding exactly
    def cost(c: Long) = math.round(math.log(4.0 / c) / math.log(2.0) * 1e6)
    val out = TextAnalysis.unigramLogProbScore(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("bits_per_token"))))
      .toMap
    assert(out(1L) == ((2L, 2 * cost(3) / 2.0 / 1e6)))
    assert(out(2L) == ((2L, (cost(3) + cost(1)) / 2.0 / 1e6)))
    // rare-token doc scores strictly higher — the filter's ordering signal
    assert(out(2L)._2 > out(1L)._2)
  }

  test("fingerprint dedup is whitespace-normalization invariant") {
    val messy = Seq(
      (1L, "a b  c"), (2L, "a b c"), (3L, " a b c "), (4L, "a b d")
    ).toDF("doc_id", "text")
    val groups = Dedup.fingerprintDuplicateGroups(messy, "doc_id", "text").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n_copies") == 3L)
  }

  test("jaccard pairs rank the near-dup above unrelated docs (shingles)") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", threshold = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0) // identical
    // one word changed of 9 → 3 of 7 trigram shingles differ → 4/10
    assert(math.abs(byPair((1L, 3L)) - 0.4) < 1e-12)
    assert(!byPair.contains((1L, 4L))) // unrelated below threshold
  }

  test("jaccard pairs with word-set tokenizer sees the near-dup as more similar") {
    val byPair = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", threshold = 0.5,
        tokenizer = array_distinct(_))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(byPair((1L, 3L)) > 0.7) // word sets barely notice the 1-word swap
  }

  test("jaccard chunked pair emission is exact on a posting list wider than one chunk") {
    // 600 identical docs (> the 512-id emission chunk) sharing every token:
    // the chunked emission must produce EXACTLY C(600,2) pairs — in-chunk
    // pairs + cross-chunk grid, no duplicates, none lost — each at
    // jaccard 1.0, even with maxDf raised far past the default.
    val n = 600
    val same = (0 until n).map(i => (i.toLong, "alpha beta gamma", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.jaccardPairs(same, "doc_id", "text", "lang", threshold = 0.9,
        tokenizer = array_distinct(_), maxDf = 1000000)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(pairs.length == n * (n - 1) / 2,
      s"expected C($n,2)=${n * (n - 1) / 2} pairs, got ${pairs.length}")
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length, "duplicate pairs emitted")
    assert(pairs.forall(p => p._1 < p._2), "pair order must stay a < b across chunks")
    assert(pairs.forall(_._3 == 1.0))
  }

  test("chunked pair emission is exact at the chunk-size boundaries") {
    // The off-by-one hazards: a list exactly one chunk (512), one over
    // (513), and one spilling a single element into a third chunk (1025,
    // whose last chunk has C(1,2)=0 in-chunk pairs and must still cross).
    for (n <- Seq(511, 512, 513, 1025)) {
      val same = (0 until n).map(i => (i.toLong, "alpha beta gamma", "en"))
        .toDF("doc_id", "text", "lang")
      val got = Dedup.jaccardPairs(same, "doc_id", "text", "lang", threshold = 0.9,
          tokenizer = array_distinct(_), maxDf = n + 1)
        .count()
      assert(got == n.toLong * (n - 1) / 2, s"n=$n: got $got pairs")
    }
  }

  test("editVerifiedPairs confirms jaccard candidates by edit distance") {
    // strict: only the byte-identical pair survives maxEdits = 0
    val strict = Dedup.editVerifiedPairs(docs, "doc_id", "text", "lang",
        candidateThreshold = 0.3, maxEdits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(strict == Set((1L, 2L, 0L)))
    // loose: the one-word swap ("the" -> "a", distance 3) gets confirmed;
    // the unrelated doc 4 was never even a candidate
    val loose = Dedup.editVerifiedPairs(docs, "doc_id", "text", "lang",
        candidateThreshold = 0.3, maxEdits = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(loose == Set((1L, 2L, 0L), (1L, 3L, 3L), (2L, 3L, 3L)))
  }

  test("minhash signatures of identical texts are identical; near-dups collide in LSH") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 16)
      .collect().map(r => r.getAs[Long]("doc") -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.9, numHashes = 16, bands = 8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash: identical texts hash equal, near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) < java.lang.Long.bitCount(sh(1L) ^ sh(4L)))
  }

  test("jaccard df-cap bounds posting lists on a hot-token corpus and reports the drops") {
    // every doc shares one boilerplate sentence (a hot shingle set); each
    // near-dup pair also shares rare shingles of its own
    val boiler = "this content is licensed under the apache license version two"
    val hot = (1L to 40L).map { i =>
      val grp = (i + 1) / 2 // docs 2k-1, 2k are near-dups of each other
      (i, s"$boiler document group $grp body text variant ${if (i % 2 == 0) "x" else "x"}", "en")
    }.toDF("doc_id", "text", "lang")
    val ran = Dedup.jaccardPairs(hot, "doc_id", "text", "lang", threshold = 0.9,
      maxDf = 10, dropsMetric = Some("jaccard_drops"))
    val pairs = ran.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the hot boilerplate shingles (df=40 > 10) are dropped from candidate
    // generation, yet the within-group duplicate pairs survive via their
    // rare group shingles
    assert((1L to 40L by 2).forall(i => pairs.contains((i, i + 1))))
    val dropped = Dedup.droppedTokens(ran, "jaccard_drops")
    assert(dropped > 0, s"expected hot shingles to be dropped, observed $dropped")
  }

  test("jaccard maxDf is a hard per-token emission bound (boundary-exact)") {
    // 6 docs share exactly one token ("zzz", df = 6); everything else is
    // unique. At cap = df the posting row is emitted (6·5/2 = 15 pairs,
    // each with |∩| = 1); at cap = df − 1 the row — and with it every
    // pair — is dropped, pinning that maxDf caps the in-row pair
    // expansion at maxDf·(maxDf−1)/2 structs.
    val corpus = (1L to 6L).map(i => (i, s"zzz u$i v$i w$i x$i", "en"))
      .toDF("doc_id", "text", "lang")
    def pairsAt(cap: Int): Long =
      Dedup.jaccardPairs(corpus, "doc_id", "text", "lang", threshold = 0.0001,
        tokenizer = array_distinct(_), maxDf = cap).count()
    assert(pairsAt(6) == 15L)
    assert(pairsAt(5) == 0L)
  }

  test("simhash multi-probe blocking finds every pair within maxHamming (exact recall)") {
    // corpus where near-dup pairs can differ anywhere in the 64-bit hash —
    // multi-probe must find exactly the pairs a brute-force join finds
    val corpus = (1L to 30L).map { i =>
      val base = s"shared prefix words for group ${(i + 2) / 3} with more body text here"
      (i, if (i % 3 == 0) base + " tail" else base, "en")
    }.toDF("doc_id", "text", "lang")
    val blocked = Dedup.simhashNearDuplicates(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val sh = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("simhash")).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    assert(blocked == brute, s"multi-probe missed ${brute -- blocked}")
    assert(brute.nonEmpty) // the fixture must actually exercise the path
  }

  test("multi-table LSH bounds bucket sizes and boosts candidate recall on real embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val buckets = Similarity.lshBuckets(embs, "vec_id", "embedding") // 16 planes × 8 tables
    val sizes = buckets.groupBy("table", "bucket").count()
      .agg(max("count"), count(lit(1))).head()
    val (maxBucket, nBuckets) = (sizes.getLong(0), sizes.getLong(1))
    // 16 sign bits shatter 500 rows far below the quadratic-join danger zone
    assert(maxBucket <= 50, s"hot bucket of $maxBucket rows")
    assert(nBuckets >= 100L)
    // every id appears in exactly numTables probe tables
    val perId = buckets.groupBy("id").count().select("count").distinct().as[Long].collect()
    assert(perId.toSeq == Seq(8L))
  }

  test("salted join equals the plain join and spreads a hot key across salts") {
    val big = spark.range(100000)
      .select((col("id") % 1000).as("k"), col("id").as("payload"))
      .union(spark.range(50000).select(lit(7L).as("k"), (col("id") + 1000000).as("payload")))
    val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
    val plain = big.join(dim, Seq("k")).agg(count(lit(1)), sum("v"), sum("payload")).head()
    val salted = Skew.saltedJoin(big, dim, Seq("k"), saltFactor = 8)
      .agg(count(lit(1)), sum("v"), sum("payload")).head()
    assert(plain == salted)
    // the hot key's rows really do carry >1 distinct salt value
    val salts = big.withColumn("s", org.apache.spark.sql.functions.pmod(
        xxhash64(big.columns.map(col): _*), lit(8)))
      .filter(col("k") === 7L).select("s").distinct().count()
    assert(salts >= 4, s"hot key only spread over $salts salts")

    val plainSum = big.groupBy("k").agg(sum("payload").as("sum_payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltedSum = Skew.saltedSum(big, Seq("k"), "payload", saltFactor = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plainSum == saltedSum)
  }

  test("saltedSum spreads a hot key even when the value column is constant") {
    // The pathological case saltedSum exists for: one dominant group key
    // summing a flag (value ≡ 1). A value-column salt would collapse to one
    // salt here; the whole-row salt must still fan the partials out.
    val hot = spark.range(50000)
      .select(lit("hot").as("k"), col("id"), lit(1L).as("flag"))
    val salts = hot.withColumn("s", org.apache.spark.sql.functions.pmod(
        xxhash64(hot.columns.map(col): _*), lit(8)))
      .select("s").distinct().count()
    assert(salts == 8, s"constant-value hot key only spread over $salts of 8 salts")
    val out = Skew.saltedSum(hot, Seq("k"), "flag", saltFactor = 8).head()
    assert(out.getString(0) == "hot" && out.getLong(1) == 50000L)
  }

  test("IVF top-k recalls brute-force neighbors; iters=0 equals the sha-pivot oracle path") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") < 5
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, "vec_id", "embedding", pred, k = 3))
    // production path: Lloyd-refined cells, deterministic pivots
    val ivf = pairs(Similarity.ivfTopK(embs, "vec_id", "embedding", pred, k = 3,
      nlist = 16, nprobe = 4, iters = 2))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low (ivf=$ivf, brute=$brute)")
    // deterministic across runs (hash pivots, tie-broken argmax)
    val ivf2 = pairs(Similarity.ivfTopK(embs, "vec_id", "embedding", pred, k = 3,
      nlist = 16, nprobe = 4, iters = 2))
    assert(ivf == ivf2)
  }

  test("IVF recall sweep (Lloyd path, sf0.01): monotone in nprobe, exact at nprobe = nlist") {
    // Documents the recall/nprobe trade for the PRODUCTION configuration
    // (Lloyd iters = 2, xxhash64 pivots — the path q_sim_ivf_topk's
    // iters=0 oracle does NOT cover). Probing more cells only ever adds
    // candidates, and the verify stage is exact, so recall is monotone;
    // at nprobe = nlist every corpus cell is probed and the result IS the
    // brute-force top-k.
    val embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") < 10
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, "vec_id", "embedding", pred, k = 5))
    val recalls = Seq(1, 4, 16).map { np =>
      val r = pairs(Similarity.ivfTopK(embs, "vec_id", "embedding", pred, k = 5,
        nlist = 16, nprobe = np, iters = 2))
      np -> (brute & r).size.toDouble / brute.size
    }
    assert(recalls.sliding(2).forall { case Seq((_, a), (_, b)) => a <= b },
      s"recall not monotone in nprobe: $recalls")
    // measured on this synthetic corpus: ~0.2 @ nprobe=1, ~0.6 @ 4, 1.0 @ 16
    // — near-uniform random embeddings are ANN's worst case, so the
    // documented trade is the sweep itself, not a high floor
    assert(recalls.head._2 > 0.0, s"nprobe=1 recall collapsed: $recalls")
    assert(recalls.last._2 == 1.0, s"nprobe=nlist must equal brute force: $recalls")
  }

  test("LSH recall sweep (PRODUCTION xxhash64 weights, sf0.01): monotone in tables, planes set the floor") {
    // The q_sim_lsh_topk CORRECTNESS row runs the sha-weight oracle
    // configuration; this sweep measures the DEFAULT xxPlaneWeight path a
    // production user actually runs. At fixed numPlanes the per-table plane
    // groups (g = table*numPlanes + plane) are independent of numTables, so
    // table sets are nested prefixes: more tables only ever ADDS candidate
    // pairs, and the verify stage is exact cosine — recall is monotone in
    // numTables. Across planes the buckets are NOT nested (different group
    // indices), so planes are sampled, not asserted against each other.
    val embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") < 10
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, "vec_id", "embedding", pred, k = 5))
    val sweep = for (planes <- Seq(4, 8); tables <- Seq(1, 4, 8)) yield {
      val r = pairs(Similarity.lshBucketedTopK(
        embs, "vec_id", "embedding", pred, k = 5, numPlanes = planes, numTables = tables))
      (planes, tables) -> (brute & r).size.toDouble / brute.size
    }
    info(s"xxhash64-weight LSH recall by (planes, tables): $sweep")
    Seq(4, 8).foreach { planes =>
      val byTables = sweep.collect { case ((p, t), r) if p == planes => (t, r) }
      assert(byTables.sliding(2).forall { case Seq((_, a), (_, b)) => a <= b },
        s"recall not monotone in numTables at planes=$planes: $byTables")
    }
    // near-uniform random embeddings are ANN's worst case (same caveat as
    // the IVF sweep): the documented trade is the sweep itself. Floors
    // pinned from measurement: coarse buckets + all 8 probe tables must
    // recover a large fraction of the true top-k even here.
    val coarse = sweep.toMap
    assert(coarse((4, 8)) >= 0.5, s"planes=4, tables=8 recall collapsed: $sweep")
    assert(coarse((8, 8)) > 0.0, s"planes=8, tables=8 recall collapsed: $sweep")
  }

  test("LSH-blocked embedding near-duplicates find cross-block pairs without a label") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0),
      (4L, Array(0.95f, 0.05f), 1) // near 1 and 2, but in a different label block
    ).toDF("vec_id", "embedding", "label")
    // label-blocked misses (1,4)/(2,4); the LSH-blocked variant needs no
    // block column and finds all three high-cosine pairs
    val pairs = Similarity.lshNearDuplicates(emb, "vec_id", "embedding", threshold = 0.9,
        numPlanes = 4, numTables = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"got $pairs")
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (10L, Array(1.0f, 0.01f, 0.0f, 0.0f)), // ~query 0
    (11L, Array(0.0f, 0.99f, 0.1f, 0.0f)), // ~query 1
    (12L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k finds the aligned vector first") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") < 10, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cand_id")).toMap
    assert(top(0L) == 10L)
    assert(top(1L) == 11L)
  }

  test("embedding near-duplicates within blocks") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0),
      (4L, Array(0.95f, 0.05f), 1) // near 1 but different block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embeddingNearDuplicates(emb, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("embedding near-dup sub-chunking never changes the output") {
    // 60 vectors in ONE block around the unit circle: at chunk size 7 the
    // block splits into 9 hash chunks (45 chunk-pair keys vs 1 block key);
    // the pair set and exact fixed-point cosines must be identical to the
    // single-chunk (naive) plan — chunking is pure parallelism.
    val rows = (0 until 60).map { i =>
      (i.toLong, Array(math.cos(i * 0.15).toFloat, math.sin(i * 0.15).toFloat), 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    def run(chunk: Int): Set[(Long, Long, Double)] =
      Similarity.embeddingNearDuplicates(emb, "vec_id", "embedding", "label", 0.95, chunk)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine")))
        .toSet
    val naive = run(Int.MaxValue)
    val chunked = run(7)
    assert(naive.nonEmpty, "degenerate test: no near-dup pairs at all")
    // cos distance 0.15 rad ≈ 0.9888 ≥ 0.95: adjacent pairs must be found
    assert(naive.exists { case (a, b, _) => b == a + 1 })
    assert(chunked == naive, s"chunked minus naive: ${chunked -- naive}; missing: ${naive -- chunked}")
  }

  test("l2Normalize yields unit vectors, passes zero vectors through, preserves direction") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("id", "e")
    val out = df.select(col("id"), Similarity.l2Normalize(col("e")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(0.6, 0.8))
    assert(out(2L) == Seq(0.0, 0.0)) // no NaN poisoning
    assert(out(3L) == Seq(-1.0, 0.0))
  }

  test("cosineExpr matches hand-computed cosine") {
    val c = vecs.filter(col("vec_id") === 0L)
      .select(Similarity.cosineExpr(col("embedding"), col("embedding")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("token/text functions") {
    val t = Seq((1L, "  Hello   world!  ")).toDF("id", "text")
    assert(t.select(TextAnalysis.tokenCount(col("text"))).as[Int].head() == 2)
    val fp1 = t.select(TextAnalysis.fingerprint(col("text"))).as[String].head()
    val fp2 = Seq((1L, "Hello world!")).toDF("id", "text")
      .select(TextAnalysis.fingerprint(col("text"))).as[String].head()
    assert(fp1 == fp2)
  }

  test("compactEmbedding round-trips within quantization error and preserves cosine") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).select(col("vec_id"), col("embedding"))
    for (bits <- Seq(8, 16)) {
      val qMax = (1 << (bits - 1)) - 1
      val rt = vecs.select(
        col("embedding"),
        Similarity.expandEmbedding(Similarity.compactEmbedding(col("embedding"), bits)).as("back"))
      // per-component reconstruction error <= scale/2 = absMax/(2*qMax)
      val maxRelErr = rt.select(
        max(array_max(zip_with(col("embedding"), col("back"),
          (a, b) => abs(a.cast("double") - b))) /
          array_max(transform(col("embedding"), v => abs(v.cast("double")))))).head().getDouble(0)
      assert(maxRelErr <= 0.5 / qMax + 1e-12, s"bits=$bits: rel err $maxRelErr")
      // cosine between original and reconstruction stays ~1
      val minCos = rt.select(min(Similarity.cosineExpr(
        transform(col("embedding"), _.cast("double")), col("back")))).head().getDouble(0)
      assert(minCos > (if (bits == 8) 0.999 else 0.9999995), s"bits=$bits: min cosine $minCos")
    }
    // zero vector: scale 1.0, all-zero quanta, exact round trip
    val z = Seq(Tuple1(Array(0f, 0f, 0f))).toDF("embedding")
      .select(Similarity.compactEmbedding(col("embedding")).as("c"))
    val zr = z.select(col("c.scale"), col("c.q")).head()
    assert(zr.getDouble(0) == 1.0 && zr.getSeq[Byte](1) == Seq(0, 0, 0))
  }

  test("decontaminate drops leaked eval text at the shingle threshold, keeps clean docs") {
    import graft.operators.Dedup
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta and more words"), // leak: 6 shared
      (2L, "alpha beta gamma unrelated words follow here now"), // 1 shared shingle
      (3L, "completely different content with no overlap at all")
    ).toDF("doc_id", "text")
    def ids(min: Int) =
      Dedup.decontaminate(train, "doc_id", "text", eval, "text", minSharedShingles = min)
        .select("doc_id").as[Long].collect().toSet
    assert(ids(5) == Set(2L, 3L), "the leak shares 6 shingles and must drop at threshold 5")
    assert(ids(1) == Set(3L), "at threshold 1 any shared shingle contaminates")
  }

  test("connectedComponents resolves chains transitively; dropNearDuplicates keeps one survivor per cluster") {
    import graft.operators.Dedup
    // a 4-node chain (1-2-3-4: never all pairwise-similar, the case
    // pairwise dropping gets wrong), a 2-node pair, and an untouched node
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val corpus = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 10L, 99L))
  }

  test("connectedComponents converges in ~log2(diameter) rounds on a high-diameter chain") {
    import graft.operators.Dedup
    // a 1024-node path: diameter 1023 — plain label propagation would need
    // ~1023 rounds; pointer jumping doubles reach per round, so convergence
    // must land near log2 (with slack for the min-label interleaving).
    // This is the small twin of SkewBench's 400k-node chain case. Laid
    // out in one partition, the loop's local contraction would solve the
    // chain before the first round, so the layout keeps 4 partitions.
    val s = layoutSession(4)
    val chain = s.range(1023).select(col("id").as("a"), (col("id") + 1).as("b"))
    assert(Graphs.layoutPartitions(chain) == 4)
    // smallGraphEdges = 0 forces the distributed loop — this test PINS the
    // loop's round count, which the driver fast path would short-circuit
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain, "a", "b",
      maxRounds = 32, smallGraphEdges = 0L)
    val comps = labels.select("component").distinct().collect().map(_.getLong(0)).toSeq
    assert(comps == Seq(0L), s"one component labeled by its min node, got $comps")
    assert(rounds <= 16, s"log-rounds bound violated: $rounds rounds for diameter 1023")
    assert(rounds >= 5, s"a 1023-diameter chain cannot converge in $rounds rounds " +
      "- the rounds counter itself must be broken")
  }

  test("connectedComponents driver fast path equals the distributed loop") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(20260815L)
    val pairs = (1 to 3000).map(_ => (rnd.nextInt(800).toLong, rnd.nextInt(800).toLong))
      .filter { case (a, b) => a != b }
    val df = pairs.toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(df, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.connectedComponents(df, "doc_a", "doc_b", smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop, s"fast path diverged: ${fast.size} vs ${loop.size} nodes")
    // string node ids: min must follow UTF-8 byte order like the loop's min()
    val sdf = Seq(("b", "aa"), ("aa", "z"), ("q", "qq")).toDF("doc_a", "doc_b")
    val sFast = Dedup.connectedComponents(sdf, "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sLoop = Dedup.connectedComponents(sdf, "doc_a", "doc_b", smallGraphEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sFast == sLoop && sFast("z") == "aa", s"got $sFast")
    // null endpoints: partner stays isolated, one (null, null) row — parity
    val ndf = Seq((Some(1L), Option.empty[Long]), (Some(5L), Some(6L)))
      .toDF("doc_a", "doc_b")
    val nFast = Dedup.connectedComponents(ndf, "doc_a", "doc_b")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val nLoop = Dedup.connectedComponents(ndf, "doc_a", "doc_b", smallGraphEdges = 0L)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(nFast == nLoop, s"null parity broke: $nFast vs $nLoop")
  }

  test("connectedComponents: the contracted distributed loop equals the driver union-find at 1, 4 and 16 partitions") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.operators.Dedup
    // The loop first unions each cached edge partition locally, so its
    // answer must not depend on how edges fall into partitions. Graphs
    // carry self-loops, duplicate and reversed pairs and null endpoints.
    val rnd = new scala.util.Random(20261019L)
    def randomEdges(nodes: Int, n: Int): Seq[(Option[Long], Option[Long])] = {
      val base = Seq.fill(n)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      val repeated = base.take(n / 10) ++ base.slice(n / 10, n / 5).map(_.swap)
      rnd.shuffle((base ++ repeated).map { case (a, b) =>
        rnd.nextInt(40) match {
          case 0 => (None, Some(b))
          case 1 => (Some(a), None)
          case _ => (Some(a), Some(b))
        }
      }) :+ ((None, None))
    }
    // string ids whose UTF-8 byte order differs from UTF-16 order
    val prefixes = Seq("", "Z", "\u00e9", "\uFF5E", "\uD83D\uDE00")
    def named(e: Seq[(Option[Long], Option[Long])]): Seq[(Option[String], Option[String])] =
      e.map { case (a, b) =>
        (a.map(i => prefixes((i % 5).toInt) + i), b.map(i => prefixes((i % 5).toInt) + i)) }
    // model: per-edge min-label relaxation to its fixpoint, under the
    // UTF-8 byte order Spark's min uses
    def less(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
      case (x: Long, y: Long) => x < y
    }
    def model(edges: Seq[(Option[Any], Option[Any])]): Set[(Option[Any], Option[Any])] = {
      val linked = edges.collect { case (Some(a), Some(b)) => (a, b) }
      var label = edges.flatMap(e => e._1.toSeq ++ e._2.toSeq).map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- linked) {
          val m = if (less(label(b), label(a))) label(b) else label(a)
          if (label(a) != m || label(b) != m) { label ++= Seq(a -> m, b -> m); changed = true }
        }
      }
      label.map { case (n, c) => (Option(n), Option(c)) }.toSet ++
        (if (edges.exists(e => e._1.isEmpty || e._2.isEmpty)) Set((None, None)) else Set.empty)
    }
    def rows(df: DataFrame): Seq[(Option[Any], Option[Any])] =
      df.collect().toSeq.map(r => (Option(r.get(0)), Option(r.get(1))))
    val sparse = randomEdges(300, 260)
    val dense = randomEdges(200, 500)
    val strings = named(randomEdges(150, 140))
    val graphs = Seq[(String, Seq[(Option[Any], Option[Any])], SparkSession => DataFrame)](
      ("sparse Long", sparse, _.createDataFrame(sparse).toDF("a", "b")),
      ("dense Long", dense, _.createDataFrame(dense).toDF("a", "b")),
      ("String", strings, _.createDataFrame(strings).toDF("a", "b")))
    for ((name, edges, frame) <- graphs) {
      val want = model(edges)
      val driver = rows(Dedup.connectedComponents(frame(spark), "a", "b"))
      assert(driver.toSet == want, s"$name: driver union-find diverged from the model")
      for (partitions <- Seq(1, 4, 16)) {
        val s = layoutSession(partitions)
        assert(Graphs.layoutPartitions(frame(s)) == partitions, s"$name at $partitions")
        val got = rows(Dedup.connectedComponents(frame(s), "a", "b", smallGraphEdges = 0L))
        assert(got.size == got.distinct.size, s"$name at $partitions: a node labelled twice")
        assert(got.toSet == want, s"$name at $partitions partitions: ${(got.toSet -- want).take(5)}")
        // null endpoints: exactly one (null, null) row; partners isolated
        // unless a non-null edge links them
        assert(got.count(_._1.isEmpty) == 1 && got.contains((None, None)), s"$name: $partitions")
      }
    }
  }

  test("connectedComponents: local contraction cuts the rounds on a cluster graph") {
    import graft.operators.Dedup
    // rings and circulants under a seeded id permutation, 8 partitions:
    // label propagation alone needs 5 rounds here
    val (edges, clusters) = GraphFixtures.clusterGraph(2000, seed = 1L)
    val s = layoutSession(8)
    val pairs = s.createDataFrame(edges).toDF("a", "b")
    assert(Graphs.layoutPartitions(pairs) == 8)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(
      pairs, "a", "b", smallGraphEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == clusters.flatMap(c => c.map(_ -> c.min)).toMap)
    assert(rounds <= 3, s"contracted loop took $rounds rounds")
  }

  test("graph loops return the same results with the sized layout and with 8 and 16 partitions") {
    import org.apache.spark.sql.{DataFrame, Row}
    // The layout's partition count follows the input's size, so the four
    // loops must not depend on it. The random graph carries self-loops,
    // duplicate and reversed pairs and null endpoints.
    val (cluster, clusters) = GraphFixtures.clusterGraph(300, seed = 3L)
    val rnd = new scala.util.Random(20261021L)
    val base = Seq.fill(360)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      Seq.tabulate(8)(i => (i.toLong, i.toLong))
    val random = rnd.shuffle(base ++ base.take(40) ++ base.slice(40, 80).map(_.swap))
      .map { case (a, b) =>
        rnd.nextInt(30) match {
          case 0 => (Option.empty[Long], Some(b))
          case 1 => (Some(a), Option.empty[Long])
          case _ => (Some(a), Some(b))
        }
      }
    val graphs = Seq[(String, SparkSession => DataFrame, Seq[Long])](
      ("cluster graph", _.createDataFrame(cluster).toDF("a", "b"),
        clusters.indices.filter(_ % 4 == 0).map(clusters(_).head)),
      ("random graph", _.createDataFrame(random).toDF("a", "b"), Seq(0L, 7L, 50L)))
    def results(s: SparkSession, pairs: DataFrame, seeds: Seq[Long]): Map[String, Set[Row]] = {
      val seedFrame = s.createDataFrame(seeds.map(Tuple1(_))).toDF("s")
      Map(
        "pageRank" -> Graphs.pageRank(pairs, "a", "b", iters = 3),
        "kCoreReleased" -> Graphs.kCoreReleased(pairs, "a", "b", k = 3),
        "bfsHops" -> Graphs.bfsHops(pairs, "a", "b", seedFrame, "s", maxHops = 3),
        "connectedComponents" -> Dedup.connectedComponents(pairs, "a", "b", smallGraphEdges = 0L)
      ).map { case (op, df) => op -> df.collect().toSet }
    }
    for ((name, frame, seeds) <- graphs) {
      val sizedPairs = frame(spark)
      assert(Graphs.layoutPartitions(sizedPairs) == 1, name)
      val sized = results(spark, sizedPairs, seeds)
      assert(sized.values.forall(_.nonEmpty), s"$name: $sized")
      for (partitions <- Seq(8, 16)) {
        val s = layoutSession(partitions)
        val pairs = frame(s)
        assert(Graphs.layoutPartitions(pairs) == partitions, s"$name at $partitions")
        val forced = results(s, pairs, seeds)
        for (op <- sized.keys)
          assert(forced(op) == sized(op), s"$name, $op: $partitions partitions differ from the sized layout")
      }
    }
  }

  test("every graph loop's returned frame reads the same twice, after every other loop ran") {
    import org.apache.spark.sql.DataFrame
    // The loops release the checkpoints and caches they no longer need
    // (kCore's superseded degree generations and removed sets, BFS's empty
    // last level, pageRankConverged's superseded ranks, CC's edge cache).
    // A returned frame whose plan still read one of them would fail, or
    // differ, on a later read. All loops run first, so every release has
    // happened before any frame is read.
    val (edges, clusters) = GraphFixtures.clusterGraph(200, seed = 9L)
    val pairs = edges.toDF("a", "b")
    val seeds = clusters.map(_.head).toDF("s")
    val (kCore, _, releaseKCore) = Graphs.kCoreManaged(pairs, "a", "b", k = 3)
    val frames: Seq[(String, DataFrame)] = Seq(
      "pageRank" -> Graphs.pageRank(pairs, "a", "b", iters = 3),
      "pageRankConverged" -> Graphs.pageRankConverged(pairs, "a", "b")._1,
      "kCoreManaged" -> kCore,
      "kCoreReleased" -> Graphs.kCoreReleased(pairs, "a", "b", k = 3),
      "bfsHops" -> Graphs.bfsHops(pairs, "a", "b", seeds, "s", maxHops = 50),
      "connectedComponents" -> Dedup.connectedComponents(pairs, "a", "b", smallGraphEdges = 0L))
    val first = frames.map { case (op, df) => op -> df.collect().toSet }
    val second = frames.map { case (op, df) => op -> df.collect().toSet }
    for (((op, a), (_, b)) <- first.zip(second)) {
      assert(a.nonEmpty, op)
      assert(a == b, s"$op read differently the second time")
    }
    releaseKCore()
  }

  test("repetitionStats: hand-computed dup line/n-gram fractions; empty inputs are 0") {
    val corpus = Seq(
      // 4 non-blank lines, "dup" twice → dup_line_ratio 1/4;
      // words: a b c a b c d (7 tokens) → 6 bigrams, distinct {ab,bc,ca,cd}=4
      // wait: bigrams: ab bc ca ab bc cd → distinct 4 → dup 2/6
      (1L, "a b c\ndup\n   \ndup\na b c d"),
      (2L, "x y"), // 1 line; 1 bigram, 0 trigrams → trigram ratio 0
      (3L, "   ") // blank: everything 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(corpus, "text")
      .select("doc_id", "n_lines", "dup_line_ratio", "dup_2gram_ratio", "dup_3gram_ratio")
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))).toMap
    // doc 1 lines: "a b c","dup","dup","a b c d" → 4 lines, 3 distinct
    assert(r(1L)._1 == 4 && r(1L)._2 == 0.25)
    // doc 1 words: a b c dup dup a b c d → 8 bigrams ("a b","b c","c dup",
    // "dup dup","dup a","a b","b c","c d") distinct 6 → 2/8
    assert(r(1L)._3 == 0.25)
    // 7 trigrams, "a b c" repeats once → 1/7
    assert(math.abs(r(1L)._4 - 1.0 / 7) < 1e-15)
    assert(r(2L) == ((1, 0.0, 0.0, 0.0)))
    assert(r(3L) == ((0, 0.0, 0.0, 0.0)))
  }

  test("oovBigramScore: prose scores near 0, junk loads on the OOV tail, blanks score 0") {
    // 30 prose docs built from one phrase → their bigrams ARE the corpus
    // head; one mojibake doc shares almost none of them
    val prose = (1L to 30L).map(i => (i, "the quick brown fox jumps over the lazy dog " * 3))
    val corpus = (prose ++ Seq((98L, "zqxj##@@||~~^^zzqqxxjj"), (99L, "   ")))
      .toDF("doc_id", "text")
    val r = TextAnalysis.oovBigramScore(corpus, "doc_id", "text", vocabK = 40)
      .collect().map(x => x.getAs[Long]("doc") ->
        ((x.getAs[Long]("n_bigrams"), x.getAs[Long]("n_oov"), x.getAs[Double]("oov_ratio")))).toMap
    assert(r.size == 32, "one output row per input document")
    assert(r(99L) == ((0L, 0L, 0.0)), "blank doc scores 0")
    val proseRatio = r(1L)._3
    val junkRatio = r(98L)._3
    assert(proseRatio < 0.2, s"prose should sit in the vocab head, got $proseRatio")
    assert(junkRatio > 0.8, s"mojibake should be mostly OOV, got $junkRatio")
    // n_bigrams = normalized length - 1
    assert(r(98L)._1 == "zqxj##@@||~~^^zzqqxxjj".length - 1)
  }

  test("packChunks: next-fit bins in chunk order, oversize chunks get their own bin") {
    val chunks = Seq(
      // doc 1: 60+50 overflow at 100 → bins 0,1; +40 fits bin 1 (90); +30 overflows → bin 2
      (1L, 0L, 60), (1L, 1L, 50), (1L, 2L, 40), (1L, 3L, 30),
      // doc 2: oversize 150 opens alone in bin 0; next 10 must NOT join it
      (2L, 0L, 150), (2L, 1L, 10),
      // doc 3: exact fits — 100 fills bin 0, 100 fills bin 1
      (3L, 0L, 100), (3L, 1L, 100)
    ).toDF("doc", "chunk_no", "n")
    val out = TextAnalysis.packChunks(chunks, "doc", "chunk_no", "n", maxTokens = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(out == Map(
      (1L, 0L) -> 0, (1L, 1L) -> 1, (1L, 2L) -> 1, (1L, 3L) -> 2,
      (2L, 0L) -> 0, (2L, 1L) -> 1,
      (3L, 0L) -> 0, (3L, 1L) -> 1))
  }

  test("chunkDocuments covers every token with the configured overlap; blank docs emit nothing") {
    val corpus = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "short doc here"), // 3 tokens → one short chunk
      (3L, "   ") // blank → no chunks
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(corpus, "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("chunk_no"),
        r.getAs[String]("chunk_text").split(" ").toSeq))
    val byDoc = chunks.groupBy(_._1)
    assert(!byDoc.contains(3L))
    assert(byDoc(2L).map(_._3).toSeq == Seq(Seq("short", "doc", "here")))
    // doc 1: starts 1, 33, 65, 97 → 4 chunks; consecutive chunks share 8 tokens
    val d1 = byDoc(1L).sortBy(_._2).map(_._3)
    assert(d1.length == 4 && d1(0).length == 40 && d1(3).length == 4)
    assert(d1(0).takeRight(8) == d1(1).take(8), "overlap must repeat the last 8 tokens")
    // coverage: concatenating chunks minus overlaps reproduces the document
    val rebuilt = d1.head ++ d1.tail.flatMap(_.drop(8))
    assert(rebuilt == (1 to 100).map(i => s"t$i"))
  }

  test("topTerms ranks by (tf desc, df asc, term asc) and returns k per doc") {
    val corpus = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry cherry date"),
      (3L, "apple banana")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(corpus, "doc_id", "text", k = 2)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("df")))
    val byDoc = out.groupBy(_._1)
    assert(byDoc.forall(_._2.length == 2))
    // doc 1: apple tf=2 first; banana vs cherry tie at tf=1 → banana df=3 > cherry df=2 → cherry wins
    assert(byDoc(1L).map(t => t._2 -> t._3).toSet == Set("apple" -> 2L, "cherry" -> 1L))
    // doc 2: banana/cherry tf=2 tie → cherry df=2 < banana df=3 → cherry then banana
    assert(byDoc(2L).map(_._2).toSet == Set("cherry", "banana"))
    // df counts documents, not occurrences
    assert(out.find(_._2 == "apple").get._4 == 2L)
  }

  test("language-ID picks the language with most marker-word hits") {
    val preds = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist nicht ein tier mit format"),
      (3L, "el perro es una mascota por la casa"),
      (4L, "xyzzy qwerty asdf")
    ).toDF("id", "text")
      .select(col("id"), TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "de")
    assert(preds(3L) == "es")
    assert(preds(4L) == "und")
  }

  test("asOfJoin carries a matched row's NULL value (not an older non-null) — DuckDB ASOF semantics") {
    import graft.operators.Temporal
    // right side: non-null @10, NULL @20, non-null @30 for the same key
    val right = Seq(
      (Some(100L), "k", 10L), (None: Option[Long], "k", 20L), (Some(300L), "k", 30L)
    ).toDF("v", "key", "rts").select(col("key"), col("rts"), col("v"))
    val left = Seq(("k", 5L), ("k", 15L), ("k", 25L), ("k", 35L)).toDF("key", "lts")
    val out = Temporal.asOfJoin(left, right, Seq("key"), "lts", "rts", Seq("v"))
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(5L) == (None, None)) // before any right row: left-outer NULLs
    assert(out(15L) == (Some(100L), Some(10L)))
    // the matched row AT ts=20 has v = NULL: NULL must attach, and the
    // matched ts must come from that SAME row — never (100 @ 20)
    assert(out(25L) == (None, Some(20L)))
    assert(out(35L) == (Some(300L), Some(30L)))
  }

  test("asOfJoin matches a driver-side model on seeded random series (with and without tolerance)") {
    import graft.operators.Temporal
    // Model-based property test (the ChangelogSpec pattern): random left
    // points and right series per seed, as-of fold in plain Scala, exact
    // multiset equality. Stresses equal-timestamp inclusivity, NULL right
    // values riding wholesale, keys with no right rows, duplicate left
    // rows, and tolerance nulling values while keeping rows.
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val leftRows = (1 to 60).map(_ =>
        (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
      // right unique per (key, rts) — the operator's documented precondition
      val rightRows = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Option[Long]]
      (1 to 40).foreach { _ =>
        rightRows.getOrElseUpdate(
          (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toLong))
      }
      val left = leftRows.toDF("k", "lts", "p")
      val right = rightRows.toSeq.map { case ((k, t), v) => (k, t, v) }.toDF("k", "rts", "v")

      def model(tol: Option[Long]): Map[(Long, Long, Long, Option[Long], Option[Long]), Int] =
        leftRows.map { case (k, lts, p) =>
          val cand = rightRows.collect { case ((rk, rts), v) if rk == k && rts <= lts => (rts, v) }
          val matched = if (cand.isEmpty) None else Some(cand.maxBy(_._1))
          val bounded = matched.filter { case (rts, _) => tol.forall(t => lts - rts <= t) }
          (k, lts, p, bounded.flatMap(_._2), bounded.map(_._1))
        }.groupBy(identity).view.mapValues(_.size).toMap

      for (tol <- Seq(None, Some(7L))) {
        val got = Temporal.asOfJoin(left, right, Seq("k"), "lts", "rts", Seq("v"), tolerance = tol)
          .collect().map(r => (
            r.getAs[Long]("k"), r.getAs[Long]("lts"), r.getAs[Long]("p"),
            Option(r.get(r.fieldIndex("v_asof"))).map(_.asInstanceOf[Long]),
            Option(r.get(r.fieldIndex("rts_asof"))).map(_.asInstanceOf[Long])))
          .toSeq.groupBy(identity).view.mapValues(_.size).toMap
        val want = model(tol)
        assert(got == want,
          s"seed=$seed tol=$tol: missing ${(want.keySet -- got.keySet).take(3)}, " +
            s"extra ${(got.keySet -- want.keySet).take(3)}")
      }
    }
  }

  test("rangeJoin matches the brute-force theta join on seeded random intervals") {
    import graft.operators.Temporal
    // Bin-boundary off-by-ones are the hazard here: sweep bin widths that
    // are smaller than, comparable to, and larger than the interval spans,
    // against a plain-Scala containment fold. Inverted intervals (end <
    // start) must drop; both interval ends are inclusive.
    for (seed <- 1 to 4; binWidth <- Seq(1L, 7L, 64L)) {
      val rnd = new scala.util.Random(seed)
      val leftRows = (1 to 50).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(60).toLong, i.toLong))
      val rightRows = (1 to 30).map { i =>
        val s = rnd.nextInt(50).toLong
        val e = if (rnd.nextInt(8) == 0) s - 3 else s + rnd.nextInt(15) // some inverted
        (rnd.nextInt(4).toLong, s, e, i.toLong)
      }
      val got = Temporal.rangeJoin(
          leftRows.toDF("k", "ts", "lid"), rightRows.toDF("k", "s", "e", "rid"),
          Seq("k"), "ts", "s", "e", binWidth)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (lk, ts, lid) <- leftRows
        (rk, s, e, rid) <- rightRows
        if lk == rk && e >= s && ts >= s && ts <= e
      } yield (lid, rid)).toSet
      assert(got == want,
        s"seed=$seed binWidth=$binWidth: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    }
  }

  test("funnel matches a driver-side model on seeded random event streams") {
    import graft.operators.Temporal
    // Model: t1 = min ts of step 1; t_k = min ts of step k with
    // ts > t_{k-1} and ts <= t1 + maxSpan; NULL from the first gap on.
    // One row per entity that performed step 1.
    val steps = Seq("a", "b", "c")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 120).map(_ =>
        (rnd.nextInt(8).toLong, steps(rnd.nextInt(3)), rnd.nextInt(50).toLong))
      val maxSpan = 20L
      val byKey = events.groupBy(_._1)
      val want = byKey.flatMap { case (k, evs) =>
        val t1 = evs.collect { case (_, "a", t) => t }.minOption
        t1.map { t0 =>
          val t2 = evs.collect { case (_, "b", t) if t > t0 && t <= t0 + maxSpan => t }.minOption
          val t3 = t2.flatMap(p =>
            evs.collect { case (_, "c", t) if t > p && t <= t0 + maxSpan => t }.minOption)
          (k, Option(t0), t2, t3)
        }
      }.toSet
      val got = Temporal.funnel(events.toDF("user", "etype", "ts"),
          "user", "etype", "ts", steps, maxSpan)
        .collect().map(r => (
          r.getAs[Long]("user"),
          Option(r.get(r.fieldIndex("t_a"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("t_b"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("t_c"))).map(_.asInstanceOf[Long]))).toSet
      assert(got == want,
        s"seed=$seed: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    }
  }

  test("funnel: earliest in-order completion, strict ordering, span-bounded") {
    import graft.operators.Temporal
    val events = Seq(
      // A completes in order
      ("A", "view", 10L), ("A", "click", 20L), ("A", "purchase", 30L),
      // B's only click precedes its view → funnel stops at view
      ("B", "click", 5L), ("B", "view", 10L),
      // C: purchase@15 precedes the click → the LATER purchase completes
      ("C", "view", 10L), ("C", "purchase", 15L), ("C", "click", 20L), ("C", "purchase", 25L),
      // D clicks beyond the 100-tick span of its first view
      ("D", "view", 10L), ("D", "click", 200L),
      // E never viewed → absent from the funnel entirely
      ("E", "click", 1L), ("E", "purchase", 2L)
    ).toDF("user_id", "event_type", "us")
    val out = Temporal.funnel(events, "user_id", "event_type", "us",
        Seq("view", "click", "purchase"), maxSpan = 100L)
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out.keySet == Set("A", "B", "C", "D"))
    assert(out("A") == ((Some(10L), Some(20L), Some(30L))))
    assert(out("B") == ((Some(10L), None, None)))
    assert(out("C") == ((Some(10L), Some(20L), Some(25L))))
    assert(out("D") == ((Some(10L), None, None)))
  }

  test("rangeJoin equals the naive theta-join, inclusive both ends, across bin widths") {
    import graft.operators.Temporal
    val rnd = new scala.util.Random(7)
    val points = Seq.tabulate(500)(i =>
      (i.toLong, (i % 5).toString, rnd.nextInt(10000).toLong)).toDF("pid", "k", "ts")
    val intervals = Seq.tabulate(60) { i =>
      val s = rnd.nextInt(9500).toLong
      (1000L + i, (i % 5).toString, s, s + rnd.nextInt(500))
    }.toDF("iid", "k", "s", "e")
    val naive = points.join(intervals, Seq("k"))
      .filter(col("ts") >= col("s") && col("ts") <= col("e"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    for (w <- Seq(1L, 100L, 1000L, 100000L)) {
      val binned = Temporal.rangeJoin(points, intervals, Seq("k"), "ts", "s", "e", binWidth = w)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(binned == naive, s"binWidth $w: missing ${naive -- binned}, extra ${binned -- naive}")
    }
    assert(naive.nonEmpty)
    // inclusivity: point exactly at each end matches
    val edge = Temporal.rangeJoin(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 9L), (4L, "a", 21L)).toDF("pid", "k", "ts"),
      Seq((9L, "a", 10L, 20L)).toDF("iid", "k", "s", "e"),
      Seq("k"), "ts", "s", "e", binWidth = 7)
      .select("pid").as[Long].collect().toSet
    assert(edge == Set(1L, 2L))
  }

  test("rangeJoin fails fast on an interval spanning too many bins") {
    import graft.operators.Temporal
    val e = intercept[Exception] {
      Temporal.rangeJoin(
        Seq((1L, "a", 5L)).toDF("pid", "k", "ts"),
        Seq((9L, "a", 0L, 10000000L)).toDF("iid", "k", "s", "e"),
        Seq("k"), "ts", "s", "e", binWidth = 10, maxBinsPerInterval = 100)
        .collect()
    }
    assert(e.getMessage.contains("rangeJoin") || e.getCause != null)
  }

  test("minhashNearDuplicates rejects non-positive threshold (documented precondition)") {
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.0)
    }
    assert(e.getMessage.contains("threshold > 0"))
  }

  test("approx_percentile tracks exact percentile within its accuracy bound (the 100 TB path)") {
    // q_a7_percentile is the oracle-able EXACT variant (buffers each
    // group's values — fine for 5 bounded groups). At scale the same
    // query runs on approx_percentile's mergeable sketch; pin that the
    // swap is sound: with accuracy a, rank error is <= n/a, so on n rows
    // the value at rank r±n/a brackets the approximation.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val cents = round(col("o_totalprice") * 100).cast("long")
    val approx = Tables.load(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_percentile(cents, array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // ground truth: each group's sorted value list (groups are ~300 rows
    // at sf0.001 — a bounded driver-side fixture, not a scale pattern)
    val sorted = Tables.load(spark, sf, "orders")
      .select(col("o_orderpriority"), cents.as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(approx.keySet == sorted.keySet)
    for ((prio, qs) <- approx; (a, p) <- qs.zip(Seq(0.25, 0.5, 0.75))) {
      val vs = sorted(prio)
      // approx_percentile returns a real element of the group whose RANK
      // is within n/accuracy of the target (here n << accuracy, so the
      // bracketing order statistics around rank p*(n-1) are the bound);
      // exact percentile interpolates BETWEEN those same two statistics,
      // which is why a value-distance bound is the wrong assertion.
      val r = p * (vs.length - 1)
      val lo = vs(math.floor(r).toInt)
      val hi = vs(math.ceil(r).toInt)
      assert(a >= lo && a <= hi,
        s"$prio p$p: approx $a outside bracketing order statistics [$lo, $hi]")
    }
  }

  test("quantileGate keeps the inclusive per-group band; NULL group keys drop; approx tracks exact") {
    import org.apache.spark.sql.functions._
    val rows = (1 to 100).map(i => ("g1", i.toLong)) ++
      (1 to 50).map(i => ("g2", i.toLong * 10)) :+ ((null.asInstanceOf[String], 5L))
    val df = rows.toDF("g", "v")
    val exact = graft.operators.Curation
      .quantileGate(df, "v", Seq("g"), 0.1, 0.9, exact = true)
      .groupBy("g").agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // g1 = 1..100: p10 = 10.9, p90 = 90.1 (continuous interpolation) → keep 11..90
    assert(exact("g1") == ((80L, 11L, 90L)))
    // g2 = 10..500 step 10: p10 = 59, p90 = 451 → keep 60..450
    assert(exact("g2") == ((40L, 60L, 450L)))
    assert(!exact.contains(null), "NULL group key cannot be placed — dropped")
    val approxN = graft.operators.Curation
      .quantileGate(df, "v", Seq("g"), 0.1, 0.9)
      .count()
    assert(math.abs(approxN - 120L) <= 5, s"approx band should track exact, kept $approxN")
  }

  test("bloomPrunedSemiJoin is row-identical to the plain semi join (dups, nulls, misses)") {
    import org.apache.spark.sql.functions._
    val big = Seq[(java.lang.Long, String)](
      (1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (null, "e"), (9L, "f"))
      .toDF("k", "payload")
    val small = Seq[(java.lang.Long, String)](
      (1L, "x"), (1L, "y"), (3L, "z"), (null, "w"))
      .toDF("sk", "tag")
    val got = graft.operators.Pruning
      .bloomPrunedSemiJoin(big, small, "k", "sk", expectedItems = 10L)
      .select("k", "payload").collect().map(r => (r.get(0), r.getString(1))).toSet
    val want = big.join(small, col("k") === col("sk"), "left_semi")
      .select("k", "payload").collect().map(r => (r.get(0), r.getString(1))).toSet
    assert(got == want)
    assert(got == Set((1L, "a"), (1L, "b"), (3L, "d")),
      "dup keys kept once each, null and missing keys dropped")
  }

  test("bloomPruneFilter's session-conf raise is monotonic — a higher user setting is never lowered") {
    val maxBitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val maxItemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prevBits = spark.conf.getOption(maxBitsKey)
    val prevItems = spark.conf.getOption(maxItemsKey)
    try {
      // user pinned the ceilings HIGHER than this filter's sizing needs:
      // the documented contract says the call must leave them untouched
      val highBits = 1L << 33
      val highItems = 500000000L
      spark.conf.set(maxBitsKey, highBits.toString)
      spark.conf.set(maxItemsKey, highItems.toString)
      val big = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      val small = Seq(Tuple1(1L)).toDF("sk")
      graft.operators.Pruning
        .bloomPrunedSemiJoin(big, small, "k", "sk", expectedItems = 10L)
        .count()
      assert(spark.conf.get(maxBitsKey).toLong == highBits,
        "monotonic contract: an already-higher maxNumBits must survive the call")
      assert(spark.conf.get(maxItemsKey).toLong == highItems,
        "monotonic contract: an already-higher maxNumItems must survive the call")
      // and a LOW ceiling is raised to (at least) the filter's sizing —
      // and stays raised after the call (the documented high-water behavior)
      spark.conf.set(maxBitsKey, "1024")
      spark.conf.set(maxItemsKey, "16")
      val wantItems = 20000000L
      graft.operators.Pruning
        .bloomPrunedSemiJoin(big, small, "k", "sk", expectedItems = wantItems)
        .count()
      assert(spark.conf.get(maxItemsKey).toLong >= wantItems,
        "a too-low ceiling must be raised to the explicit filter's sizing")
      assert(spark.conf.get(maxBitsKey).toLong >= wantItems,
        "numBits scales past numItems at 3% fpp — the raise must cover it")
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v match { case Some(s) => spark.conf.set(k, s); case None => spark.conf.unset(k) }
      restore(maxBitsKey, prevBits)
      restore(maxItemsKey, prevItems)
    }
  }

  test("scd2History collapses no-change runs and chains validity intervals") {
    val chg = Seq(
      (1L, 10L, "bronze"), (1L, 20L, "bronze"), // no-change → collapsed
      (1L, 30L, "silver"), (1L, 40L, "gold"),
      (2L, 15L, "gold") // single-version key
    ).toDF("uid", "v", "tier")
    val h = graft.operators.Changelog
      .scd2History(chg, Seq("uid"), Seq("v"), Seq("tier"))
      .collect()
      .map(r => (r.getAs[Long]("uid"), r.getAs[String]("tier"),
        r.getAs[Long]("valid_from_v"), r.getAs[Any]("valid_to_v"),
        r.getAs[Boolean]("is_current"))).toSet
    assert(h == Set(
      (1L, "bronze", 10L, 30L, false),
      (1L, "silver", 30L, 40L, false),
      (1L, "gold", 40L, null, true),
      (2L, "gold", 15L, null, true)))
  }

  test("scd2History reopens a state that returns after an intervening change") {
    val chg = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a")).toDF("uid", "v", "st")
    val h = graft.operators.Changelog
      .scd2History(chg, Seq("uid"), Seq("v"), Seq("st"))
    assert(h.count() == 3, "a→b→a is three runs, not two")
    assert(h.filter(col("is_current")).select("st").as[String].collect().sameElements(Array("a")))
  }

  test("rollingAnomaly flags a spike against its trailing window, never itself in later math") {
    // constant series with one spike: the spike is flagged (window is the
    // flat history); post-spike rows are NOT flagged (their windows absorb
    // the spike's variance, and |x-mean| stays small)
    val rows = (1 to 40).map(i => (1L, i.toLong, if (i == 30) 500.0 else 10.0))
    val out = graft.operators.Temporal
      .rollingAnomaly(rows.toDF("uid", "t", "value"), Seq("uid"), Seq("t"), "value",
        scale = 1000L, lookback = 20, z = 3L, minN = 5)
    val flagged = out.filter(col("is_anomaly")).select("t").as[Long].collect().toSet
    assert(flagged == Set(30L), s"only the spike should flag, got $flagged")
    // cold start: first minN rows can never flag even if wild
    val cold = graft.operators.Temporal
      .rollingAnomaly(Seq((1L, 1L, 999.0), (1L, 2L, -999.0)).toDF("uid", "t", "value"),
        Seq("uid"), Seq("t"), "value", minN = 5)
    assert(cold.filter(col("is_anomaly")).count() == 0)
  }

  test("rollingAnomaly never flags a zero-variance window match") {
    val rows = (1 to 30).map(i => (1L, i.toLong, 7.0))
    val out = graft.operators.Temporal
      .rollingAnomaly(rows.toDF("uid", "t", "value"), Seq("uid"), Seq("t"), "value", minN = 3)
    assert(out.filter(col("is_anomaly")).count() == 0,
      "x == mean on zero variance must not flag (strict inequality)")
  }

  test("planCompaction packs next-fit groups per partition and flags right-sized files") {
    val files = Seq(
      ("p1", "f01", 6L), ("p1", "f02", 6L), ("p1", "f03", 6L), // 18 → group 0 closes past 10
      ("p1", "f04", 3L), // before=18 → group 1
      ("p1", "f05", 25L), // oversized: own group eventually, right_sized
      ("p2", "f01", 2L) // other partition restarts at group 0
    ).toDF("part", "path", "bytes")
    val plan = graft.sources.Layout
      .planCompaction(files, Seq("part"), "path", "bytes", targetBytes = 10L)
      .collect()
      .map(r => (r.getAs[String]("part"), r.getAs[String]("path"),
        r.getAs[Long]("compaction_group"), r.getAs[Boolean]("is_right_sized"))).toSet
    assert(plan == Set(
      ("p1", "f01", 0L, false), ("p1", "f02", 0L, false),
      ("p1", "f03", 1L, false), // 12 bytes before it → group 1
      ("p1", "f04", 1L, false), // 18 before → still group 1
      ("p1", "f05", 2L, true),
      ("p2", "f01", 0L, false)))
  }

  test("rankByTerms scores tf·⌊N·scale/df⌋ and breaks score ties by doc id") {
    val corpus = Seq(
      (1L, "spark spark spark"), // tf(spark)=3
      (2L, "spark join"), // tf(spark)=1, tf(join)=1
      (3L, "join join other words"), // tf(join)=2
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .rankByTerms(corpus, "doc_id", "text", Seq("spark", "join"), k = 3, idfScale = 100L)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("score"), r.getAs[Long]("n_terms")))
    // N=4; df(spark)=2 → idf=200; df(join)=2 → idf=200; 400-tie → doc asc
    assert(got.toSeq == Seq((1L, 600L, 1L), (2L, 400L, 2L), (3L, 400L, 1L)),
      s"got ${got.toSeq}")
  }

  test("piiStats counts each class independently and in-text digit runs don't leak across classes") {
    val df = Seq(
      (1L, "mail a@b.com and c.d@e.org, ip 10.0.0.1, call +1-555-0123-4567 id 123456789"),
      (2L, "clean text with number 12345678 only"), // 8 digits: no class hit
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiStats(df, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_ipv4s"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("n_id_numbers"), r.getAs[Long]("pii_total"))).toSet
    assert(got == Set(
      (1L, 2L, 1L, 1L, 1L, 5L),
      (2L, 0L, 0L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("Incremental: merge of per-bucket partials equals the one-shot aggregation (sketch incl.)") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      (s"k${i % 3}", i % 12, (rng.nextInt(2000) - 500).toLong)
    }
    val df = rows.toDF("key", "bucket", "v")
    val merged = graft.operators.Incremental.mergeStats(
      graft.operators.Incremental.partialStats(df, Seq("key"), "bucket", "v", withSketch = true),
      Seq("key"))
    val direct = df.groupBy("key").agg(
      count(lit(1)).as("n_rows"), count(col("v")).as("n_vals"),
      sum("v").as("sum_scaled"), min("v").as("min_scaled"), max("v").as("max_scaled"),
      hll_sketch_estimate(hll_sketch_agg(col("v"))).as("approx_distinct"))
    val m = merged.collect().map(r => r.getAs[String]("key") -> r.toSeq.tail).toMap
    val d = direct.collect().map(r => r.getAs[String]("key") -> r.toSeq.tail).toMap
    assert(m == d, s"merged $m != direct $d — partials must merge exactly")
  }

  test("correlationReport matches brute-force Pearson; handles nulls pairwise and constants") {
    import graft.core.Profiling
    val rng = new scala.util.Random(23)
    val rows = (1 to 1000).map { i =>
      val x = rng.nextInt(1000).toDouble / 10
      // y strongly correlated with x, z independent, c constant, w has nulls
      (x, 2.0 * x + rng.nextInt(100) / 10.0, rng.nextInt(1000) / 10.0, 7.0,
        if (i % 5 == 0) None else Some(x + rng.nextInt(10)))
    }
    val df = rows.toDF("x", "y", "z", "c", "w")
    val got = Profiling.correlationReport(df, Seq("x", "y", "z", "c", "w"), scale = 10L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    def brute(a: Seq[Long], b: Seq[Long]): Double = {
      val n = a.length.toDouble
      val (sa, sb) = (a.sum.toDouble, b.sum.toDouble)
      val num = n * a.zip(b).map { case (u, v) => u.toDouble * v }.sum - sa * sb
      num / math.sqrt((n * a.map(u => u.toDouble * u).sum - sa * sa) *
        (n * b.map(u => u.toDouble * u).sum - sb * sb))
    }
    val xs = rows.map(r => math.floor(r._1 * 10).toLong)
    val ys = rows.map(r => math.floor(r._2 * 10).toLong)
    val (nXY, corrXY) = got(("x", "y"))
    assert(nXY == 1000L && math.abs(corrXY.get - brute(xs, ys)) < 1e-12)
    assert(corrXY.get > 0.95, s"planted strong correlation, got ${corrXY.get}")
    assert(math.abs(got(("y", "z"))._2.get) < 0.15, "independent columns should be ~0")
    // constant column: zero variance → NULL, never NaN/div-by-zero
    assert(got(("x", "c"))._2.isEmpty)
    // pairwise completeness: w's nulls shrink only w's pairs
    assert(got(("x", "w"))._1 == 800L && got(("x", "y"))._1 == 1000L)
    val xw = rows.collect { case (x, _, _, _, Some(w)) => (math.floor(x * 10).toLong, math.floor(w * 10).toLong) }
    assert(math.abs(got(("x", "w"))._2.get - brute(xw.map(_._1), xw.map(_._2))) < 1e-12)
  }

  test("graphProfile: hand graph exact; triangle count matches brute force on a random graph") {
    import graft.operators.Graphs
    // triangle {1,2,3} + pendant 3-4, with a reversed dup and a self-loop
    val small = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L), (2L, 2L)).toDF("a", "b")
    val r = Graphs.graphProfile(small, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((4L, 4L, 3L, 5L, 1L)))
    assert(r.getLong(5) == 600000L) // 3·1/5
    // random graph: exactly one triangle per closed wedge, vs brute force
    val rng = new scala.util.Random(5)
    val es = (1 to 300).map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val canon = es.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val brute = (for {
      Seq(a, b, c) <- canon.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted.combinations(3)
      if canon((a, b)) && canon((a, c)) && canon((b, c))
    } yield 1).size
    val got = Graphs.graphProfile(es.toDF("a", "b"), "a", "b").head()
    assert(got.getLong(4) == brute.toLong, s"triangles ${got.getLong(4)} != brute $brute")
    assert(got.getLong(1) == canon.size.toLong)
  }

  test("graphProfile: big-graph branch (broadcast gate forced off) is row-identical") {
    import graft.operators.Graphs
    // r15: below the gate the closing/wedge/degree joins broadcast (the
    // Σ out-deg² wedge relation never shuffles); above it the previous
    // shuffled shape runs. Forcing the gate to 0 must change ONLY the plan.
    val rng = new scala.util.Random(7)
    val es = (1 to 400).map(_ => (rng.nextInt(50).toLong, rng.nextInt(50).toLong)).toDF("a", "b")
    val small = Graphs.graphProfile(es, "a", "b").head()
    spark.conf.set(Graphs.ProfileClosingBroadcastMaxEdgesConf, "0")
    try {
      val big = Graphs.graphProfile(es, "a", "b").head()
      assert(small == big, s"gate branches disagree: $small vs $big")
    } finally spark.conf.unset(Graphs.ProfileClosingBroadcastMaxEdgesConf)
  }

  test("kCore: peeling reaches the exact core on hand graphs and a random graph") {
    import graft.operators.Graphs
    // clique of 5 (nodes 1-5) + pendant chain 5-6-7: 4-core = the clique
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g1 = (clique ++ Seq((5L, 6L), (6L, 7L))).toDF("a", "b")
    val core4 = Graphs.kCore(g1, "a", "b", k = 4).as[(Long, Long)].collect().toMap
    assert(core4 == (1L to 5L).map(_ -> 4L).toMap, s"expected the clique, got $core4")
    // a pure path fully unravels under k=2 (cascade: ends peel, new ends appear)
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Graphs.kCore(path, "a", "b", k = 2).isEmpty)
    // k=1 keeps every non-isolated node at its plain degree
    val deg1 = Graphs.kCore(path, "a", "b", k = 1).as[(Long, Long)].collect().toMap
    assert(deg1 == ((1L to 8L).map(n => n -> (if (n == 1L || n == 8L) 1L else 2L)).toMap))
    // maxRounds stops early with a SUPERSET of the core (path, one round:
    // only the current endpoints peel)
    val partial = Graphs.kCore(path, "a", "b", k = 2, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial.keySet == (2L to 7L).toSet, s"one peel round leaves the interior: $partial")
    // random graph vs a sequential-peeling reference (order independence)
    val rng = new scala.util.Random(29)
    val raw = (1 to 250).map(_ => (rng.nextInt(35).toLong, rng.nextInt(35).toLong))
    val canon = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    val k = 4
    var edges = canon
    var changed = true
    while (changed) {
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size).toMap
      val low = deg.collect { case (n, d) if d < k => n }.toSet
      changed = low.nonEmpty
      edges = edges.filterNot(e => low(e._1) || low(e._2))
    }
    val refCore = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val gotCore = Graphs.kCore(raw.toDF("a", "b"), "a", "b", k = k)
      .as[(Long, Long)].collect().toMap
    assert(gotCore == refCore, s"core mismatch: got ${gotCore.size} ref ${refCore.size}")
  }

  test("pageRankConverged: early exit fires, and ranks equal the fixed-iteration variant at the stop round") {
    import graft.operators.Graphs
    // 8-cycle: 2-regular, so the uniform rank is an exact integer fixpoint
    // — the very first iteration reproduces b0 at every node and the delta
    // probe reads 0, the cleanest early-exit case
    val cyc = (1L to 8L).map(i => (i, if (i == 8L) 1L else i + 1)).toDF("a", "b")
    val (conv, it) = Graphs.pageRankConverged(cyc, "a", "b",
      tolPpm = 100000L, maxIters = 10)
    assert(it == 1, s"a regular graph converges at round 1, ran $it")
    val got = conv.select("node", "rank_scaled").as[(Long, Long)].collect().toMap
    val fixed = Graphs.pageRank(cyc, "a", "b", iters = it)
      .as[(Long, Long)].collect().toMap
    assert(got == fixed,
      s"converged ranks must equal pageRank(iters=$it): got $got vs $fixed")
    // n_iters rides along on every row — the column the oracle cross-checks
    assert(conv.select("n_iters").distinct().as[Long].collect().toSeq == Seq(it.toLong))

    // star + pendants mixes SLOWLY (hub/leaf rank oscillation decays at
    // ~damp per round): the maxIters bound must cap the loop, and the
    // result must equal the fixed variant run to that same bound
    val star = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L)) ++
      (6L to 9L).map(n => (5L, n))).toDF("a", "b")
    val (capped, itCap) = Graphs.pageRankConverged(star, "a", "b",
      tolPpm = 100000L, maxIters = 4)
    assert(itCap == 4, s"slow-mixing graph must run to the bound, ran $itCap")
    val gotCap = capped.select("node", "rank_scaled").as[(Long, Long)].collect().toMap
    val fixedCap = Graphs.pageRank(star, "a", "b", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotCap == fixedCap)
  }

  test("kCoreManaged: the release hook frees every persisted/checkpointed block") {
    import graft.operators.Graphs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g = (clique ++ Seq((5L, 6L), (6L, 7L))).toDF("a", "b")
    val (core, rounds, release) = Graphs.kCoreManaged(g, "a", "b", k = 4)
    assert(core.count() == 5 && rounds > 0)
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"kCoreManaged release() must leave no persisted RDDs behind, leaked ids: $leaked")
  }

  test("kCoreReleased: repeated invocations hold only their small result frames, never graph caches") {
    import graft.operators.Graphs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g = (clique ++ Seq((5L, 6L), (6L, 7L))).toDF("a", "b")
    val results = (1 to 3).map(_ => Graphs.kCoreReleased(g, "a", "b", k = 4))
    results.foreach(r => assert(r.count() == 5))
    // the |E|-row base persist and per-round degree checkpoints are gone;
    // exactly one checkpointed RDD per invocation (the core result) remains
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.size == results.size,
      s"expected exactly ${results.size} result-frame blocks, held: $held")
    // and dropping the results returns the session to its baseline
    results.foreach { r =>
      r.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
        case other => fail(s"released result should be a LogicalRDD, was: ${other.getClass}")
      }
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("bfsHops: level-synchronous frontier matches brute-force min distance") {
    import graft.operators.Graphs
    // path 1-2-3-4-5 with a chord 1-3, pendant 5-6, isolated seed 99,
    // unreachable island 10-11: seeds {1, 99}
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (5L, 6L),
      (10L, 11L)).toDF("a", "b")
    val seeds = Seq(1L, 99L).toDF("s")
    val got = Graphs.bfsHops(g, "a", "b", seeds, "s", maxHops = 3)
      .as[(Long, Long)].collect().toMap
    // 1: seed; 2,3: 1 hop (chord makes 3 one hop, not two); 4: 2; 5: 3;
    // 6 is 4 hops — ABSENT; 99 isolated seed at 0; island absent
    assert(got == Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L),
      s"got $got")
    // exhaustion stops early: maxHops far beyond the graph's reach
    val full = Graphs.bfsHops(g, "a", "b", Seq(1L).toDF("s"), "s", maxHops = 50)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 4L),
      s"got $full")
    // random graph vs brute-force BFS (order independence of levels)
    val rng = new scala.util.Random(41)
    val raw = (1 to 150).map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val canon = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    val adjRef = (canon ++ canon.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seedSet = Set(0L, 7L)
    var ref = seedSet.map(_ -> 0L).toMap
    var fr = seedSet
    var h = 0L
    while (fr.nonEmpty && h < 4) {
      val nxt = fr.flatMap(n => adjRef.getOrElse(n, Nil)).filterNot(ref.contains)
      h += 1
      ref ++= nxt.map(_ -> h)
      fr = nxt
    }
    val gotR = Graphs.bfsHops(canon.toDF("a", "b"), "a", "b",
        seedSet.toSeq.toDF("s"), "s", maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotR == ref, s"random-graph mismatch: got ${gotR.size} ref ${ref.size}")
  }

  test("graph loops scope the cached-layout conf: caller value restored, same results") {
    import graft.operators.{Dedup, Graphs}
    // bfsHops, both PageRanks and connectedComponents rely on Spark's
    // default canChangeCachedPlanOutputPartitioning=false (the cached
    // adjacency's hash layout stays visible so rounds never re-exchange
    // 2|E| rows) and never write the key. The caller's value — unset or
    // set — must read back byte-identical, also when the loop fails, and a
    // caller's "true" must not change the result.
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val s = spark.newSession()
    val edges = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))).toDF("a", "b")
    val seeds = s.createDataFrame(Seq(Tuple1(1L))).toDF("s")
    // each loop run on the edge column `b` (a missing column fails analysis
    // inside the loop)
    val loops: Seq[(String, String => Map[Long, Long])] = Seq(
      "bfsHops" -> (b => Graphs.bfsHops(edges, "a", b, seeds, "s", maxHops = 2)
        .as[(Long, Long)].collect().toMap),
      "pageRank" -> (b => Graphs.pageRank(edges, "a", b, iters = 2)
        .as[(Long, Long)].collect().toMap),
      "pageRankConverged" -> (b => Graphs.pageRankConverged(edges, "a", b)._1
        .select("node", "rank_scaled").as[(Long, Long)].collect().toMap),
      "connectedComponents" -> (b => Dedup.connectedComponents(edges, "a", b, smallGraphEdges = 0L)
        .as[(Long, Long)].collect().toMap))
    val known = Map(
      "bfsHops" -> Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      "connectedComponents" -> Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
    def setCaller(caller: Option[String]): Unit = caller.fold(s.conf.unset(key))(s.conf.set(key, _))
    // the explicitly set value (getOption would read the default when unset)
    def callerValue: Option[String] = s.conf.getAll.get(key)
    for ((name, run) <- loops) {
      val byCaller = for (caller <- Seq(None, Some("true"))) yield {
        setCaller(caller)
        val result = run("b")
        assert(callerValue == caller, s"$name changed the caller's $caller")
        intercept[org.apache.spark.sql.AnalysisException](run("no_such_column"))
        assert(callerValue == caller, s"$name, failing, changed the caller's $caller")
        result
      }
      assert(byCaller.distinct.size == 1, s"$name: the caller's conf changed the result")
      known.get(name).foreach(want => assert(byCaller.head == want, name))
      assert(byCaller.head.nonEmpty, name)
    }
  }

  test("pageRank matches an exact integer reference implementation") {
    import graft.operators.Graphs
    val rng = new scala.util.Random(13)
    val raw = (1 to 120).map(_ => (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
    val canon = raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    // exact integer mirror of the documented update rule
    val scale = 1000000000000L
    val damp = 850000L
    val bidir = canon.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = bidir.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = deg.size
    val base0 = scale / n
    var ref = deg.keys.map(_ -> base0).toMap
    for (_ <- 1 to 3) {
      val in = bidir.groupBy(_._2).view
        .mapValues(_.map { case (src, _) => ref(src) / deg(src) }.sum).toMap
      ref = ref.keys.map(u =>
        u -> ((1000000L - damp) * base0 + damp * in.getOrElse(u, 0L)) / 1000000L).toMap
    }
    val got = Graphs.pageRank(raw.toDF("a", "b").repartition(5), "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == ref, s"rank mismatch: ${got.toSeq.sorted.take(3)} vs ${ref.toSeq.sorted.take(3)}")
    // hubs rank above leaves
    val maxDegNode = deg.maxBy { case (k, v) => (v, -k) }._1
    assert(got(maxDegNode) >= got.values.toSeq.sorted.apply(got.size / 2),
      "highest-degree node should rank above the median")
  }

  test("association pairRules matches hand-derived support/confidence/lift; mega-baskets drop") {
    import graft.operators.Association
    val rows = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, "y"), // duplicate item collapses
      (3L, "x"), (3L, "y"),
      (4L, "z"),
      (5L, "x")
    ).toDF("b", "i")
    val got = Association.pairRules(rows, "b", "i", minSupport = 2L)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // only (x,y) reaches support 2 (it has 3); x: 4 baskets, y: 3, n=5
    assert(got.keySet == Set(("x", "y"), ("y", "x")))
    val (_, _, n, sp, sa, sc, conf, lift) = got(("x", "y"))
    assert((n, sp, sa, sc) == ((5L, 3L, 4L, 3L)))
    assert(conf == 750000L && lift == 1250000L) // 3/4; (3·5)/(4·3)
    assert(got(("y", "x"))._7 == 1000000L) // y→x: 3/3
    // a 70-item mega-basket is excluded from PAIR counting (maxItems=64)
    // but still counts toward item supports
    val mega = (1 to 70).map(k => (99L, s"m$k")).toDF("b", "i")
    val withMega = Association.pairRules(rows.union(mega), "b", "i", minSupport = 2L)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(withMega.map(r => (r._1, r._2)).toSet == Set(("x", "y"), ("y", "x")),
      "mega-basket pairs must not appear")
    assert(withMega.head._3 == 6L, "mega-basket still counts as a basket")
  }

  test("groupedTrend recovers planted per-group slopes exactly") {
    import graft.core.Profiling
    val rng = new scala.util.Random(31)
    // group a: y = 3x + 5 exactly; group b: y = -2x + 100 with noise;
    // group c: a single x value (degenerate → NULL fit)
    val rows =
      (1 to 200).map(i => ("a", i.toDouble, 3.0 * i + 5.0)) ++
      (1 to 200).map(i => ("b", i.toDouble, -2.0 * i + 100.0 + rng.nextInt(3))) ++
      Seq(("c", 4.0, 1.0), ("c", 4.0, 9.0))
    val df = rows.toDF("g", "x", "y")
    val got = Profiling.groupedTrend(df, Seq("g"), "x", "y", xScale = 1L, yScale = 1L)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    val (na, slopeA, interA) = got("a")
    assert(na == 200L && math.abs(slopeA.get - 3.0) < 1e-12 && math.abs(interA.get - 5.0) < 1e-9)
    val slopeB = got("b")._2.get
    assert(slopeB < -1.9 && slopeB > -2.1, s"noisy slope $slopeB")
    // zero x-variance: NULL fit, never a divide-by-zero
    assert(got("c")._2.isEmpty && got("c")._3.isEmpty)
  }

  test("skipgramPairs and pmiPairs match a hand-derived corpus exactly") {
    val corpus = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val pairs = TextAnalysis.skipgramPairs(corpus, "text", window = 2)
      .as[(String, String, Long)].collect().toSet
    // j=1: (a,b),(b,a),(a,b),(b,c); j=2: (a,a),(b,b),(a,c)
    assert(pairs == Set(
      ("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L),
      ("a", "a", 1L), ("b", "b", 1L), ("a", "c", 1L)))
    def r(x: Long) = math.round(math.log(x.toDouble) / math.log(2.0) * 1e6)
    // Tu=5 unigrams (a=2,b=2,c=1), Tp=7 pairs
    val ab = TextAnalysis.pmiPairs(corpus, "text", window = 2, minCount = 2)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(ab == Seq(("a", "b", 2L, r(2) + 2 * r(5) - r(7) - r(2) - r(2))))
    // blank documents contribute nothing — no empty-string token pollution
    val withBlank = corpus.union(Seq((2L, "   ")).toDF("doc_id", "text"))
    assert(TextAnalysis.skipgramPairs(withBlank, "text", 2)
      .as[(String, String, Long)].collect().toSet == pairs)
  }

  test("mergeIntervals: overlap, containment chains, gap tolerance, key isolation") {
    import graft.operators.Temporal
    val iv = Seq(
      // key a: [0,100] contains [10,20]; [90,150] overlaps; [200,210] separate
      ("a", 0L, 100L), ("a", 10L, 20L), ("a", 90L, 150L), ("a", 200L, 210L),
      // key b: touching endpoints merge (start == prev end is NOT after it)
      ("b", 0L, 50L), ("b", 50L, 80L),
      ("c", 5L, 6L)
    ).toDF("k", "st", "en")
    val spans = Temporal.mergeIntervals(iv, Seq("k"), "st", "en")
      .orderBy("k", "span_start")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      ("a", 0L, 150L, 3L), ("a", 200L, 210L, 1L),
      ("b", 0L, 80L, 2L), ("c", 5L, 6L, 1L)))
    // gap=60 bridges a's 150→200 hole into one span
    val bridged = Temporal.mergeIntervals(iv, Seq("k"), "st", "en", gap = 60L)
      .filter(col("k") === "a").orderBy("span_start")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(bridged == Seq(("a", 0L, 210L, 4L)))
  }

  test("intervalGaps emits exactly the uncovered holes between merged spans") {
    import graft.operators.Temporal
    val iv = Seq(
      ("a", 0L, 100L), ("a", 90L, 150L), ("a", 200L, 210L), ("a", 300L, 310L),
      ("b", 0L, 10L)
    ).toDF("k", "st", "en")
    val gaps = Temporal.intervalGaps(iv, Seq("k"), "st", "en")
      .orderBy("k", "gap_start")
      .as[(String, Long, Long)].collect().toSeq
    assert(gaps == Seq(("a", 150L, 200L), ("a", 210L, 300L)))
    // spans ∪ gaps tile the key's full range with no overlap: total length check
    val spanLen = Temporal.mergeIntervals(iv, Seq("k"), "st", "en")
      .filter(col("k") === "a")
      .agg(sum(col("span_end") - col("span_start"))).as[Long].head()
    val gapLen = gaps.filter(_._1 == "a").map(g => g._3 - g._2).sum
    assert(spanLen + gapLen == 310L)
  }

  test("canonicalizeClusters picks argmax quality, ties to min id") {
    val frame = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // chain 1-2-3: 2 has best quality
      (10L, 7L), (11L, 7L), // pair 10-11: quality tie → min id 10
      (20L, 1L) // unclustered: never appears in output
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val canon = Dedup.canonicalizeClusters(frame, "doc_id", "q", pairs)
      .orderBy("component")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(canon == Seq((1L, 2L, 99L, 3L), (10L, 10L, 7L, 2L)))
  }

  test("dropNearDuplicatesByQuality keeps best member + unclustered rows") {
    val frame = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),
      (10L, 7L), (11L, 7L),
      (20L, 1L)
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dropNearDuplicatesByQuality(frame, "doc_id", "q", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 10L, 20L)) // best of each cluster + the loner
  }

  test("capPerSource equals the naive per-source hash-rank top-K") {
    import graft.operators.{Curation, Sampling}
    import org.apache.spark.sql.expressions.Window
    // one over-cap source (100 rows), one exactly-at-cap (10), one under (3)
    val rows = (1L to 100L).map(i => (i, "big")) ++
      (200L to 209L).map(i => (i, "atcap")) ++
      (300L to 302L).map(i => (i, "small"))
    val df = rows.toDF("id", "src")
    val capped = Curation.capPerSource(df, "src", "id", maxPerSource = 10L, salt = "t")
      .select("id").as[Long].collect().sorted.toSeq
    // independent model: a global row_number sort per source
    val naive = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(Sampling.hash60(col("id"), "t"), col("id"))))
      .filter(col("rn") <= 10)
      .select("id").as[Long].collect().sorted.toSeq
    assert(capped == naive)
    assert(capped.count(_ >= 300L) == 3) // under-cap source intact
    assert(capped.count(i => i >= 200L && i <= 209L) == 10) // at-cap source intact
    assert(capped.count(_ <= 100L) == 10) // over-cap source clipped to K
  }

  test("winsorizedStats clips at discrete rank quantiles on the cents grid") {
    // group a: 1..19 plus an outlier; n=20 → loRank=ceil(20·5/100)=1,
    // hiRank=ceil(20·95/100)=19 → clip to [1st, 19th] order statistic
    val vals = (1 to 19).map(i => ("a", i.toLong, i.toDouble)) :+ (("a", 20L, 1000.0))
    val out = graft.core.Profiling
      .winsorizedStats(vals.toDF("k", "id", "v"), Seq("k"), "v", "id", loPct = 5, hiPct = 95)
      .as[(String, Long, Long, Long, Double, Double)].head()
    val (_, n, lo, hi, mean, wmean) = out
    assert(n == 20L && lo == 100L && hi == 1900L)
    assert(mean == ((1 to 19).map(_ * 100).sum + 100000L).toDouble / 20)
    // outlier clipped to 1900 cents; all other values untouched
    assert(wmean == ((1 to 19).map(_ * 100).sum + 1900L).toDouble / 20)
  }

  test("functionalDependencies: exact FD, violated FD, and NULL semantics") {
    val df = Seq(
      (Some(1), Some("x")), (Some(1), Some("x")), // lhs 1 → {x}: fan-out 1
      (Some(2), Some("x")), (Some(2), Some("y")), // lhs 2 → {x,y}: violates
      (Some(3), None), // rhs NULL: fan-out 0, cannot violate
      (None, Some("z")) // NULL lhs is its own group
    ).toDF("l", "r")
    val rows = graft.core.Profiling.functionalDependencies(df, Seq(("l", "r")))
      .as[(String, String, Long, Long, Long, Boolean, Option[Long])].collect().toSeq
    assert(rows.size == 1)
    val (_, _, nLhs, nPairs, maxFan, exact, ppm) = rows.head
    // groups: 1, 2, 3, NULL → 4 lhs groups; distinct pairs: (1,x),(2,x),(2,y),(NULL,z)
    assert(nLhs == 4L && nPairs == 4L && maxFan == 2L && !exact)
    assert(ppm.contains(1000000L)) // 4·10⁶/4 — ppm alone can't see fan-out 0 groups
  }

  test("groupTopK equals the window row_number model, any partitioning") {
    import graft.operators.TopK
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    // heavy ties (ord drawn from 8 values), two keys, one group smaller than k
    val rows = (1L to 400L).map(i =>
      (if (i <= 395) "big" + (i % 2) else "tiny", rnd.nextInt(8).toLong - 3L, i))
    val df = rows.toDF("k", "ord", "id")
    val model = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("ord").desc, col("id"))).cast("long"))
      .filter(col("rank") <= 7)
      .select("k", "rank", "ord", "id")
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    for (parts <- Seq(1, 7)) {
      val got = TopK.groupTopK(df.repartition(parts), Seq("k"), "ord", "id", k = 7)
        .as[(String, Long, Long, Long)].collect().sorted.toSeq
      assert(got == model, s"parts=$parts")
    }
  }

  test("groupTopKRows re-attaches payload to winners via the bounded join") {
    import graft.operators.TopK
    val df = Seq(
      ("g", 3L, 1L, "pay-a"), ("g", 9L, 2L, "pay-b"),
      ("g", 5L, 3L, "pay-c"), ("h", 1L, 4L, "pay-d")
    ).toDF("k", "ord", "id", "payload")
    val got = TopK.groupTopKRows(df, Seq("k"), "ord", "id", k = 2)
      .select("k", "rank", "ord", "id", "payload")
      .as[(String, Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      ("g", 1L, 9L, 2L, "pay-b"), ("g", 2L, 5L, 3L, "pay-c"),
      ("h", 1L, 1L, 4L, "pay-d")))
  }

  test("groupTopK skips NULL ord rows and keeps whole under-k groups") {
    import graft.operators.TopK
    val df = Seq(
      (Some(5L), 1L), (None, 2L), (Some(5L), 3L), (Some(1L), 4L)
    ).toDF("ord", "id").withColumn("k", lit("g"))
    val got = TopK.groupTopK(df, Seq("k"), "ord", "id", k = 10)
      .select("rank", "ord", "id").as[(Long, Long, Long)].collect().toSeq.sorted
    // NULL ord row never ranks; ties break to smaller id
    assert(got == Seq((1L, 5L, 1L), (2L, 5L, 3L), (3L, 1L, 4L)))
  }

  test("incrementalComponents equals one-shot recompute on random graphs") {
    val rnd = new scala.util.Random(73)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (oldE, newE) = edges.splitAt(edges.size / 2)
      val oldLabels = Dedup.connectedComponents(oldE.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      val incr = Dedup.incrementalComponents(oldLabels, newE.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toSet
      val full = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(incr == full, s"trial=$trial")
    }
  }

  test("equiDepthHistogram: ~1/nBins mass per bin, hot values never split") {
    // 100 rows: value 7 holds 60 of them (1.2 bins' worth at nBins=2... use 4)
    // values 1..40 one row each, value 7 sixty rows → total 100, nBins=4 → 25/bin
    val rows = (1 to 40).map(_.toLong) ++ Seq.fill(60)(7L)
    val out = graft.core.Profiling
      .equiDepthHistogram(rows.toDF("v"), "v", nBins = 4)
      .orderBy("bin")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // domain order: 1..6 (6 rows), 7 (61 rows incl. its own 1), 8..40
    // before(7)=6 → bin 0; 7's mass runs through bins 1,2 → they are EMPTY;
    // before(8)=67 → bin 2 exists from value 8 on
    assert(out.map(_._1) == Seq(0L, 2L, 3L), s"hot value absorbs bins: $out")
    val bin0 = out.head
    assert(bin0._2 == 1L && bin0._3 == 7L && bin0._4 == 67L) // lo, hi, n_rows
    assert(out.map(_._4).sum == 100L) // every row binned exactly once
  }

  test("unionWithEvolution widens numerics, nulls absent columns, unions by NAME") {
    import graft.operators.SchemaEvolution
    val a = Seq((1, 1.5f)).toDF("id", "v") // int id, float v
    val b = Seq((2.5d, 10L, "x")).toDF("v", "id", "tag") // REORDERED cols, long id, double v
    val out = SchemaEvolution.unionWithEvolution(Seq(a, b))
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("v", "double"), ("tag", "string")))
    val rows = out.as[(Long, Double, Option[String])].collect().toSet
    assert(rows == Set((1L, 1.5d, None), (10L, 2.5d, Some("x"))))
  }

  test("unionWithEvolution widen matrix and irreconcilable-type error") {
    import graft.operators.SchemaEvolution.widen
    import org.apache.spark.sql.types._
    assert(widen(IntegerType, LongType).contains(LongType))
    assert(widen(ByteType, ShortType).contains(ShortType))
    assert(widen(LongType, FloatType).contains(DoubleType))
    assert(widen(FloatType, DoubleType).contains(DoubleType))
    assert(widen(DateType, TimestampType).contains(TimestampType))
    assert(widen(StringType, LongType).isEmpty)
    assert(widen(ArrayType(LongType), ArrayType(IntegerType)).isEmpty)
    val e = intercept[IllegalArgumentException] {
      graft.operators.SchemaEvolution.unionWithEvolution(Seq(
        Seq(1L).toDF("c"), Seq("s").toDF("c")))
    }
    assert(e.getMessage.contains("'c'") && e.getMessage.contains("bigint"))
  }

  test("incrementalComponents: batch-only nodes, bridges, and inert edges") {
    // history: {1,2} labeled 1, {10,11} labeled 10
    val oldLabels = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    // batch: an edge INSIDE an old component (inert), a bridge 2-10 (merges
    // both via contraction), and a brand-new pair 50-51
    val incr = Dedup.incrementalComponents(
      oldLabels, Seq((1L, 2L), (2L, 10L), (50L, 51L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(incr == Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L), (50L, 50L), (51L, 50L)))
    // NULL endpoints are dropped wholesale (connectedComponents hygiene):
    // no spurious (NULL, NULL) labeling row may leak through batchNodes
    val withNulls = Seq((Some(2L), Option.empty[Long]), (None, Some(60L)),
      (Some(50L), Some(51L))).toDF("doc_a", "doc_b")
    val incr2 = Dedup.incrementalComponents(oldLabels, withNulls)
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(incr2 == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(10L), Some(10L)), (Some(11L), Some(10L)),
      (Some(50L), Some(50L)), (Some(51L), Some(50L))), s"got $incr2")
  }

  test("stripMarkup: blocks dropped wholesale, tags spaced, entities decoded once") {
    val cases = Seq(
      "<p>Hello<br/>world</p>" -> "Hello world",
      // script/style CONTENT disappears, even with < > inside it
      "<script>if (a<b) { x(); }</script>after" -> "after",
      "<SCRIPT src=\"x.js\">var y = 1 > 0;</script >tail" -> "tail",
      "<style type=\"text/css\">p>a { color: red; }</style>ok" -> "ok",
      "<!-- hidden\n lines -->shown" -> "shown",
      // tags become SPACES: adjacent cells must not weld into one token
      "<td>a</td><td>b</td>" -> "a b",
      // double-decode trap: &amp;lt; is the TEXT "&lt;", never a tag
      "a&nbsp;b &amp;lt; &lt;x&gt;" -> "a b &lt; <x>",
      "&quot;q&quot; &#39;s&#39; T&amp;C" -> "\"q\" 's' T&C",
      "no markup  and   spaces" -> "no markup and spaces")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.stripMarkup(col("t")).as("c")).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }
}
