package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SessionConf
import graft.operators.{Dedup, Skew}

/** Skew stress bench: measures the skew-mitigation operators on the
  * pathological distributions they exist for — every number in the regular
  * bench runs on uniform synthetic data, where salting and the jaccard
  * df-cap are no-ops by construction.
  *
  * Fixtures (deterministic, written to `/tmp/graft-skew`):
  *  - **Hot-key lineitem**: sf0.1 lineitem replicated 4× (2.4M rows) with
  *    ~40% of all rows remapped to `l_orderkey = 1` (hash-deterministic
  *    row selection) — a single key holding 1M rows, the classic zipfian
  *    head. Orders replicated to match, keyed for the join.
  *  - **Boilerplate corpus**: every `en` document of sf0.1 (2059 docs — more
  *    than the default `maxDf` of 1000) gets the same 40-word license
  *    paragraph appended, so ~38 shingles acquire posting lists of 2059
  *    docs each: the set-similarity-join hot-token blowup.
  *
  * Cases (each warmed once, then timed on a second materialization):
  *  - skewed JOIN, AQE off: unsalted sort-merge vs [[Skew.saltedJoin]] —
  *    the raw single-reducer effect salting removes (stands in for the
  *    full-outer/agg cases AQE's skew splitting cannot touch).
  *  - skewed JOIN, AQE on (default): Spark's own skew split, for honest
  *    comparison with the manual mitigation.
  *  - skewed SUM, AQE off: unsalted groupBy-sum vs [[Skew.saltedSum]].
  *    Algebraic aggs are expected to be skew-IMMUNE here (map-side partial
  *    combine collapses the hot key before the shuffle) — the case pins
  *    that, and that salting does not regress it.
  *  - jaccard pairs capped (default maxDf=1000, drop-observation attached)
  *    vs uncapped (maxDf=10⁶): the df-cap's work saved, and proof the
  *    reported pair set is UNCHANGED (boilerplate-only pairs cannot reach
  *    the 0.8 threshold — the cap drops work, not answers, on this corpus).
  *  - simhash candidate blocking on 20M UNIFORM signatures: Σ c·(c−1)/2
  *    candidate pairs computed from bucket sizes (never materialized) for
  *    the old single-segment scheme vs the blocked-combination default —
  *    pins the ≥100× candidate cut and the bounded bucket population that
  *    justify the Manku-style keys at corpus scale.
  *  - connected components on a 400k-node chain (diameter 400k — the
  *    pointer-jumping log-rounds claim, checked as rounds ≤ 24) and on a
  *    ~90%-giant component of 500k nodes (driver holds only a per-round
  *    counter regardless of component size).
  *  - k-core peeling on a clique-with-tendrils onion (round count == the
  *    6-hop peeling depth, core == the clique exactly) and a 200k chain
  *    under maxRounds=8 (the early-stop SUPERSET contract: 2 nodes/round).
  *  - k-means on 2M synthetic vectors around 16 latent centers (broadcast
  *    argmin + floor-div update at 32M never-materialized distance rows;
  *    summary partitions the corpus).
  *  - duplicated-span removal on the same corpus: the license paragraph's
  *    ~36 interior 5-token windows each occur in ALL docs — the hot-window
  *    distribution the aggregation-based first-occurrence vote exists for
  *    (a row_number-over-hash vote would sort every hot occurrence in one
  *    unsplittable partition). Checked: every non-canonical doc loses the
  *    full 40-token paragraph.
  *
  * Output: one JSON line + `BENCH_skew.json`, with result-equality checks
  * (salted vs unsalted row counts and sums; capped vs uncapped pair sets).
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = "/tmp/graft-skew"
    // This host's page-fault path runs at ~10 CPU-min/GiB: fault the heap
    // in up front (same rationale and helper as graft.Bench) or first-touch
    // costs land inside the measured cases and swamp them.
    if (sys.env.getOrElse("SPARK_GRAFT_PRETOUCH", "1") != "0") graft.Bench.preTouchHeap()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config(graft.Bench.heartbeatTolerance)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- fixtures (written once per run; construction is not measured) ----
    // 16× replication + 60% hot share: a 9.6M-row fact with 5.8M rows on
    // ONE key, against a 150k-row dim (kept small — salting replicates the
    // small side saltFactor×, which only pays while that stays cheap
    // relative to the hot partition). Non-hot replica keys miss the dim and
    // fall out of the inner join; the skew cost — shuffling and sorting the
    // hot partition — is paid before matching either way.
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val ordStride = li0.agg(max("l_orderkey")).head().getLong(0) + 1L
    val replicated = (0 until 16).map(r =>
      li0.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordStride)))
      .reduce(_ unionAll _)
    replicated.withColumn("l_orderkey",
        when(((xxhash64(col("l_orderkey"), col("l_linenumber")) % 100) + 100) % 100 < 60,
          lit(1L)).otherwise(col("l_orderkey")))
      .write.mode("overwrite").parquet(s"$workDir/lineitem")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      .write.mode("overwrite").parquet(s"$workDir/orders")
    val boiler = ("this content is provided as is under the standard public license " +
      "agreement please retain this notice in all copies and derived works the " +
      "authors accept no liability for any damages arising from the use of this " +
      "material all trademarks remain property of their respective owners").trim
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .withColumn("text", concat(col("text"), lit(" "), lit(boiler)))
      .write.mode("overwrite").parquet(s"$workDir/documents")

    def lineitem = spark.read.parquet(s"$workDir/lineitem")
    def orders = spark.read.parquet(s"$workDir/orders")
    def documents = spark.read.parquet(s"$workDir/documents")
    val hotRows = lineitem.filter(col("l_orderkey") === 1L).count()
    val totalRows = lineitem.count()
    val nDocs = documents.count()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    /** Warm once (faults pages, JITs codegen, materializes localCheckpoints
      * the real pipeline would share), then time a second materialization of
      * the SAME instance. Returns the materialized row count for equality
      * checks.
      */
    def measure(name: String)(mk: => DataFrame): Long = {
      val df = mk
      df.queryExecution.toRdd.count() // warm
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      results += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skewbench] $name%-24s ${results(name)}%7.2f s  ($n rows)")
      n
    }

    // ---- skewed join: raw effect (AQE off, no broadcast — the 100 TB
    // shape where both sides shuffle and no runtime re-plan exists) ----
    val noAqe = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val joinUnsalted = SessionConf.scoped(spark, noAqe: _*) {
      measure("join_unsalted_noaqe")(lineitem.join(orders, Seq("l_orderkey")))
    }
    val joinSalted = SessionConf.scoped(spark, noAqe: _*) {
      measure("join_salted32_noaqe")(
        Skew.saltedJoin(lineitem, orders, Seq("l_orderkey"), saltFactor = 32))
    }
    // AQE's own mitigation on the same join (skew split, broadcast still off)
    val joinAqe = SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      measure("join_unsalted_aqe")(lineitem.join(orders, Seq("l_orderkey")))
    }
    require(joinUnsalted == joinSalted && joinUnsalted == joinAqe,
      s"salting changed the join answer: $joinUnsalted / $joinSalted / $joinAqe")

    // ---- skewed aggregation (AQE off) ----
    SessionConf.scoped(spark, noAqe: _*) {
      measure("agg_unsalted_noaqe")(
        lineitem.groupBy("l_orderkey").agg(sum("l_quantity").as("sum_l_quantity")))
      measure("agg_salted32_noaqe")(
        Skew.saltedSum(lineitem, Seq("l_orderkey"), "l_quantity", saltFactor = 32))
    }
    val aggTotals = Seq(
      lineitem.groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
        .agg(count(lit(1)), sum("s")).head(),
      Skew.saltedSum(lineitem, Seq("l_orderkey"), "l_quantity", 32)
        .agg(count(lit(1)), sum("sum_l_quantity")).head())
    require(aggTotals(0) == aggTotals(1),
      s"salting changed the aggregation answer: ${aggTotals(0)} vs ${aggTotals(1)}")

    // ---- per-group top-k: window (sort + WindowGroupLimit) vs heap agg ----
    // Spark 4's rank-limit pushdown already solves the WORST window failure
    // mode: `row_number <= k` plans a map-side `WindowGroupLimit (Partial)`,
    // so whole groups no longer ship to one reducer. What remains — and
    // what LongTopK removes — is the Sort node feeding EACH WindowGroupLimit:
    // every map partition fully sorts its 9.6M-row share (O(n log n), spills
    // at scale) before the group-limit can scan it, while the heap aggregate
    // does O(n log k) updates with NO Sort node anywhere and composes with
    // other aggregates in the same pass. Measured on the group shape the
    // operator exists for (32 groups of ~300k rows — "top docs per source");
    // a frozen unique row id makes the (cents DESC, rid) tie-break total,
    // so the outputs must match row-for-row (count + order-free signature).
    // 4× replication (~38M rows): at 9.6M the whole case is scan-bound on
    // 32 threads and neither path's cost structure is visible
    (0 until 4).map(r => lineitem.withColumn("__rep", lit(r.toLong)))
      .reduce(_ unionAll _)
      .withColumn("rid", monotonically_increasing_id())
      .withColumn("gk", pmod(xxhash64(col("rid")), lit(32L)))
      .withColumn("cents",
        round(col("l_extendedprice") * 100).cast("long") * 4 + col("__rep"))
      .select("gk", "cents", "rid")
      .write.mode("overwrite").parquet(s"$workDir/topk")
    def topkIn = spark.read.parquet(s"$workDir/topk")
    // pmod before sum: raw xxhash64 values are full-range longs, and a
    // multimillion-row sum of those overflows (ANSI mode throws) — bound
    // each term to [0, 1e9) so the signature stays exact to ~9e9 rows
    def topkSig(df: DataFrame) = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("gk"), col("rank"), col("cents"), col("rid")),
        lit(1000000007L)))).head()
    def winTopk = {
      import org.apache.spark.sql.expressions.Window
      topkIn.withColumn("rank", row_number().over(
          Window.partitionBy(col("gk")).orderBy(col("cents").desc, col("rid")))
          .cast("long"))
        .filter(col("rank") <= 10)
        .select("gk", "rank", "cents", "rid")
    }
    def heapTopk = graft.operators.TopK
      .groupTopK(topkIn, Seq("gk"), "cents", "rid", k = 10)
      .select("gk", "rank", "cents", "rid")
    // measure() re-times one plan instance, which REUSES its shuffle files —
    // skipping exactly the map stage (the per-partition sort vs the heap
    // scan) these cases exist to compare. Warm on a throwaway instance,
    // then time a FRESH lineage so the map side re-executes.
    def timeColdMap(name: String)(mk: => DataFrame): Long = {
      mk.queryExecution.toRdd.count() // warm: JIT, page cache — then discard
      val fresh = mk
      val t0 = System.nanoTime()
      val n = fresh.queryExecution.toRdd.count()
      results += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skewbench] $name%-24s ${results(name)}%7.2f s  ($n rows)")
      n
    }
    timeColdMap("topk_window")(winTopk)
    val topkRows = timeColdMap("topk_heap_agg")(heapTopk)
    val (sigW, sigH) = (topkSig(winTopk), topkSig(heapTopk))
    require(sigW == sigH, s"heap top-k diverged from the window model: $sigW vs $sigH")

    // ---- per-source calibration on a dominant-source corpus ----
    // 5M rows, 80% in ONE source — the distribution calibrateScores exists
    // for: the naive row_number window funnels the 4M-row source into a
    // single task's sort, while the range-partitioned global-rank
    // decomposition spreads exactly the same rank work across all cores.
    // Output equality is proven by signature, so the speedup is pure
    // execution strategy.
    val calIn = spark.range(0, 5000000L).select(
        col("id").as("doc_id"),
        when(col("id") % 10 < 8, "en")
          .otherwise(concat(lit("s"), col("id") % 10)).as("source"),
        (col("id") * 2654435761L % 1000000L).as("score"))
      .localCheckpoint() // fixture construction is not part of either timing
    def calSig(df: DataFrame) = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("doc_id"), col("cal_ppm")), lit(1000000007L)))).head()
    def winCal = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
      calIn
        .withColumn("__rk",
          row_number().over(w.orderBy(col("score"), col("doc_id"))).cast("long"))
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("cal_ppm", when(col("__n") === 1, lit(1000000L))
          .otherwise(expr("(__rk - 1) * 1000000L div (__n - 1)")))
        .select("doc_id", "source", "score", "cal_ppm")
    }
    def rankCal = graft.operators.Curation
      .calibrateScores(calIn, "source", "score", "doc_id")
      .select("doc_id", "source", "score", "cal_ppm")
    timeColdMap("calibrate_window")(winCal)
    val calRows = timeColdMap("calibrate_rank_decomp")(rankCal)
    val (csW, csR) = (calSig(winCal), calSig(rankCal))
    require(csW == csR, s"calibrate decomposition diverged from the window model: $csW vs $csR")

    // ---- jaccard df-cap on the boilerplate corpus ----
    // The warm count() runs the plan once untimed; the timed run collects
    // the (tiny) pair set, which doubles as the answer-equality check, and
    // its own execution carries the observed drop count.
    def pairRun(
        label: String, maxDf: Int, dropsMetric: Option[String]): (Set[(Long, Long)], DataFrame) = {
      val df = Dedup.jaccardPairs(documents, "doc_id", "text", "lang",
          threshold = 0.8, maxDf = maxDf, dropsMetric = dropsMetric)
        .select("doc_a", "doc_b")
      df.count() // warm
      val t0 = System.nanoTime()
      val rows = df.collect()
      results += label -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skewbench] $label%-24s ${results(label)}%7.2f s  (${rows.length} pairs)")
      (rows.map(r => (r.getLong(0), r.getLong(1))).toSet, df)
    }
    val (capped, cappedRun) = pairRun("jaccard_capped", 1000, Some("skew_drops"))
    val droppedTokens = Dedup.droppedTokens(cappedRun, "skew_drops")
    require(droppedTokens > 0,
      "fixture failed: the boilerplate posting lists must exceed maxDf=1000")
    val (uncapped, _) = pairRun("jaccard_uncapped", 1000000, None)
    // The cap is one-directional by construction: it can only REMOVE pairs
    // (those whose overlap is carried by hot tokens — here, short documents
    // whose similarity IS the shared boilerplate), never invent them. That
    // is the documented semantics: boilerplate carries no similarity signal,
    // so capped is the curation-correct answer AND ~35× cheaper. Both
    // counts go in the JSON so the delta is visible.
    require((capped -- uncapped).isEmpty,
      s"the cap INVENTED pairs (must be impossible): ${(capped -- uncapped).take(5)}")

    // ---- duplicated-span removal on the same boilerplate corpus ----
    // Build the frame ONCE: measure() times it, then the scrub check counts
    // over the SAME frame — a from-scratch rebuild would re-plan and verify
    // a different run than the one measured. NOT cached: persisting before
    // measure() would let the warm pass populate the cache and the timed
    // pass read it back, timing the cache instead of the operator.
    val despans = Dedup.dropDuplicatedSpans(documents, "doc_id", "text", w = 5, minCount = 2)
    measure("despans_boilerplate")(despans)
    val nScrubbed = despans.filter(col("n_tokens_dropped") >= 40).count()
    require(nScrubbed >= nDocs - 1,
      s"every non-canonical doc must lose the 40-token license paragraph: $nScrubbed of $nDocs")

    // ---- simhash candidate blocking: single-segment vs blocked combos ----
    // The scale property under test is the CANDIDATE-GENERATION data
    // structure, not pair materialization (on a corpus of mutual near-dups
    // every scheme's OUTPUT is quadratic by definition). So: 20M uniform
    // 64-bit signatures — the hash-uniform non-duplicate mass that dominates
    // a real corpus — keyed under both schemes, and the candidate pair count
    // Σ c·(c−1)/2 computed FROM THE GROUP SIZES (nothing quadratic is ever
    // materialized). Old scheme = the degenerate blocked case with
    // numBlocks = maxHamming + 1 (combination size 1): 4 tables on 16-bit
    // segments. New default: C(6,3) = 20 tables on 31–33-bit keys.
    val nSigs = 20000000L
    val sigs = spark.range(nSigs).select(xxhash64(col("id")).as("simhash"))
    def blockedStats(numBlocks: Int, maxHamming: Int): (Long, Long) = {
      val sizes = Dedup.simhashBlockSizes(numBlocks)
      val offsets = sizes.scanLeft(0)(_ + _)
      def block(b: Int) =
        shiftrightunsigned(col("simhash"), offsets(b)).bitwiseAND(lit((1L << sizes(b)) - 1))
      val combos = (0 until numBlocks).combinations(numBlocks - maxHamming).toSeq
      val keyed = sigs.select(posexplode(array(combos.map(c =>
        c.foldLeft(lit(0L): Column)((acc, b) =>
          shiftleft(acc, sizes(b)).bitwiseOR(block(b)))): _*)))
        .groupBy(col("pos"), col("col")).count()
        .agg(
          sum(col("count") * (col("count") - 1) / 2).cast("long"),
          max(col("count")))
        .head()
      (keyed.getLong(0), keyed.getLong(1))
    }
    val t0 = System.nanoTime()
    val (candSingle, maxBucketSingle) = blockedStats(numBlocks = 4, maxHamming = 3)
    results += "simhash_buckets_single_segment" -> (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (candBlocked, maxBucketBlocked) = blockedStats(numBlocks = 6, maxHamming = 3)
    results += "simhash_buckets_blocked_combos" -> (System.nanoTime() - t1) / 1e9
    System.err.println(s"[skewbench] simhash candidates: single-segment $candSingle " +
      s"(max bucket $maxBucketSingle) vs blocked $candBlocked (max bucket $maxBucketBlocked)")
    require(candBlocked * 100 < candSingle,
      s"blocked combos must cut candidate pairs >100x on uniform mass: $candBlocked vs $candSingle")
    require(maxBucketBlocked <= 64,
      s"blocked buckets must stay tiny on 20M uniform signatures, got $maxBucketBlocked")

    // ---- connected components: high-diameter chain + giant component ----
    // Chain of 400k nodes (diameter 400k): the adversarial shape for label
    // propagation — plain propagation needs diameter rounds; pointer
    // jumping must converge in ≈ log₂(diameter). Giant component: 1M
    // random edges over 500k nodes (one ~all-node component, small
    // diameter) — pins that a single component holding nearly every node
    // neither blows up the driver (one observed counter per round) nor the
    // round count.
    val chainN = 400000L
    val chain = spark.range(chainN - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val tc0 = System.nanoTime()
    val (chainLabels, chainRounds) =
      Dedup.connectedComponentsWithRounds(chain, "a", "b", maxRounds = 32)
    val chainComponents = chainLabels.select("component").distinct().count()
    results += "cc_chain_400k" -> (System.nanoTime() - tc0) / 1e9
    require(chainComponents == 1L, s"chain must collapse to one component, got $chainComponents")
    require(chainRounds <= 24,
      s"pointer jumping must stay ~log2(diameter=$chainN) rounds, took $chainRounds")

    val giantNodes = 500000L
    val giant = spark.range(1000000)
      .select((xxhash64(col("id")) % giantNodes).as("a"),
        (xxhash64(col("id") + 7777777L) % giantNodes).as("b"))
      .select(abs(col("a")).as("a"), abs(col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val tg0 = System.nanoTime()
    val (giantLabels, giantRounds) =
      Dedup.connectedComponentsWithRounds(giant, "a", "b", maxRounds = 32)
    val giantStats = giantLabels.groupBy("component").count()
      .agg(max("count"), count(lit(1))).head()
    results += "cc_giant_500k" -> (System.nanoTime() - tg0) / 1e9
    val (giantMax, giantComps) = (giantStats.getLong(0), giantStats.getLong(1))
    System.err.println(s"[skewbench] cc: chain rounds=$chainRounds; " +
      s"giant rounds=$giantRounds largest=$giantMax of ${giantNodes} (comps=$giantComps)")
    require(giantMax * 10 > giantNodes * 9,
      s"2 edges/node must produce a >90% giant component, got $giantMax")
    require(giantRounds <= 12,
      s"low-diameter giant component must converge fast, took $giantRounds rounds")

    // ---- sketches at corpus scale: state stays bounded, estimates hold ----
    // 20M rows / ~4.9M distinct keys: the HLL partial must collapse to ≤ m
    // (=64) state rows — the executor-side bound that makes shipping daily
    // sketches O(KB) at 100 TB — with the estimate inside the m=64 error
    // envelope. KMV overlap answers an exact-J=1/3 question over 6M rows
    // from one bounded TakeOrdered. CMS counters stay ≤ d·w rows under the
    // 60%-hot zipfian fact table, and the hot key's estimate never
    // undercounts (the one-sided guarantee).
    import graft.operators.Sketches
    val sketchRows = 20000000L
    val sketchDomain = 5000000L
    val sketchKeys = spark.range(sketchRows)
      .select(pmod(xxhash64(col("id")), lit(sketchDomain)).as("k"), lit("all").as("g"))
    val hllState = Sketches.hllPartial(sketchKeys, Seq("g"), "k")
    val tS0 = System.nanoTime()
    val hllStateRows = hllState.count()
    results += "sketch_hll_20m" -> (System.nanoTime() - tS0) / 1e9
    val hllEst = Sketches.hllEstimate(hllState, Seq("g"))
      .select("est_distinct").head().getLong(0)
    val hllExact = sketchKeys.select("k").distinct().count()
    require(hllStateRows <= Sketches.HllM,
      s"HLL state must stay <= ${Sketches.HllM} rows, got $hllStateRows")
    require(math.abs(hllEst - hllExact) <= (hllExact * 2) / 5,
      s"HLL estimate $hllEst drifted beyond the envelope (exact $hllExact)")
    System.err.println(s"[skewbench] sketch: hll state=$hllStateRows " +
      s"est=$hllEst exact=$hllExact (${results("sketch_hll_20m")} s)")

    // A = [0, 3M), B = [1.5M, 4.5M): exact Jaccard 1.5M/4.5M = 1/3
    val kmvA = spark.range(3000000L).select(col("id").as("k"))
    val kmvB = spark.range(1500000L, 4500000L).select(col("id").as("k"))
    val tK0 = System.nanoTime()
    val kmvRow = Sketches.kmvOverlap(kmvA, kmvB, "k", k = 128)
      .select("jaccard_ppm", "est_union").head()
    results += "sketch_kmv_overlap_6m" -> (System.nanoTime() - tK0) / 1e9
    val (kmvJ, kmvU) = (kmvRow.getLong(0), kmvRow.getLong(1))
    require(math.abs(kmvJ - 333333L) <= 150000L,
      s"KMV jaccard_ppm $kmvJ strayed from exact 333333")
    require(math.abs(kmvU - 4500000L) <= 1350000L,
      s"KMV est_union $kmvU strayed from exact 4500000")

    val cmsCounters = Sketches.cmsMerge(
      Sketches.cmsPartial(lineitem, "l_orderkey", depth = 4, width = 1024))
    val tC0 = System.nanoTime()
    val cmsRows = cmsCounters.count()
    results += "sketch_cms_hotkey" -> (System.nanoTime() - tC0) / 1e9
    val cmsHotEst = Sketches.cmsEstimate(
      cmsCounters, spark.range(1L, 2L).select(col("id").as("l_orderkey")),
      "l_orderkey", depth = 4, width = 1024)
      .select("est_count").head().getLong(0)
    require(cmsRows <= 4L * 1024L, s"CMS counters must stay <= d*w rows, got $cmsRows")
    require(cmsHotEst >= hotRows && cmsHotEst <= totalRows,
      s"CMS hot-key estimate $cmsHotEst must bracket [$hotRows, $totalRows]")
    System.err.println(s"[skewbench] sketch: kmv j_ppm=$kmvJ union=$kmvU; " +
      s"cms counters=$cmsRows hot_est=$cmsHotEst (true $hotRows)")

    // ---- graph profile under adversarial shapes ----
    // 200k-leaf star: the naive wedge join emits C(200k,2) ≈ 2·10¹⁰ pairs
    // at the hub; degree-ordered orientation points every edge INTO the
    // hub, so the oriented wedge set is EMPTY — the O(√m) claim at its
    // extreme. 400-clique: C(400,3) = 10,586,800 triangles, closed-form
    // check of the exactly-once counting under maximum density.
    import graft.operators.Graphs
    val star = spark.range(1L, 200001L).select(lit(0L).as("a"), col("id").as("b"))
    val tStar = System.nanoTime()
    val starRow = Graphs.graphProfile(star, "a", "b").head()
    results += "graph_star_200k" -> (System.nanoTime() - tStar) / 1e9
    require(starRow.getLong(4) == 0L && starRow.getLong(2) == 200000L,
      s"star: expected 0 triangles, max degree 200k, got $starRow")
    val cliqueN = 400L
    val clique = spark.range(cliqueN * cliqueN)
      .select((col("id") % cliqueN).as("a"),
        call_function("div", col("id"), lit(cliqueN)).as("b"))
      .filter(col("a") < col("b"))
    val tCl = System.nanoTime()
    val cliqueRow = Graphs.graphProfile(clique, "a", "b").head()
    results += "graph_clique_400" -> (System.nanoTime() - tCl) / 1e9
    val expectTri = cliqueN * (cliqueN - 1) * (cliqueN - 2) / 6
    require(cliqueRow.getLong(4) == expectTri,
      s"clique: expected $expectTri triangles, got ${cliqueRow.getLong(4)}")
    System.err.println(s"[skewbench] graph: star wedges=${starRow.getLong(3)} tri=0; " +
      s"clique tri=${cliqueRow.getLong(4)} (${results("graph_clique_400")} s)")

    // ---- k-core peeling: deep onion + early-stop superset ----
    // "Clique with tendrils": a 300-clique (deg 299 inside) where every
    // clique node anchors a 6-hop pendant chain. Under k=2 the chains peel
    // strictly one hop per round (only the current free end is sub-k) —
    // peeling DEPTH is the chain length, the shape that makes round count
    // the scaling risk — while the clique survives untouched. Then the
    // 200k-node pure chain under maxRounds=8 pins the documented
    // early-stop contract: a SUPERSET, shrunk by exactly 2 nodes/round.
    val tendrilLen = 6L
    val cliqueCore = spark.range(300L * 300L)
      .select((col("id") % 300).as("a"),
        call_function("div", col("id"), lit(300L)).as("b"))
      .filter(col("a") < col("b"))
    // node ids >= 1000 are tendril nodes: chain c*10+1000*step off clique node c
    val tendrils = spark.range(300L * tendrilLen)
      .select((col("id") % 300).as("c"),
        call_function("div", col("id"), lit(300L)).as("step"))
      .select(
        when(col("step") === 0, col("c"))
          .otherwise(col("c") + lit(1000L) + (col("step") - 1) * 1000L).as("a"),
        (col("c") + lit(1000L) + col("step") * 1000L).as("b"))
    val onion = cliqueCore.union(tendrils)
    val tKc0 = System.nanoTime()
    val (onionCore, onionRounds, releaseOnion) = Graphs.kCoreManaged(onion, "a", "b", k = 2)
    val onionStats = onionCore.agg(count(lit(1)), min("core_deg")).head()
    releaseOnion()
    results += "kcore_onion_clique300_t6" -> (System.nanoTime() - tKc0) / 1e9
    require(onionStats.getLong(0) == 300L && onionStats.getLong(1) == 299L,
      s"onion 2-core must be exactly the 300-clique, got $onionStats")
    require(onionRounds.toLong == tendrilLen,
      s"tendrils must peel one hop per round ($tendrilLen), took $onionRounds")

    val kchainN = 200000L
    val kchain = spark.range(kchainN - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val tKc1 = System.nanoTime()
    val (kchainCore, kchainRounds, releaseKchain) =
      Graphs.kCoreManaged(kchain, "a", "b", k = 2, maxRounds = 8)
    val kchainLeft = kchainCore.count()
    releaseKchain()
    results += "kcore_chain_200k_capped" -> (System.nanoTime() - tKc1) / 1e9
    require(kchainRounds == 8, s"chain peel must hit the round cap, took $kchainRounds")
    require(kchainLeft == kchainN - 2L * 8L,
      s"early stop must leave a superset shrunk 2/round: $kchainLeft")
    System.err.println(s"[skewbench] kcore: onion rounds=$onionRounds core=300; " +
      s"chain capped leftover=$kchainLeft (${results("kcore_chain_200k_capped")} s)")

    // ---- comparison engine under a hot duplicated PK (M×N blow-up) ----
    // The alignment join's keys are the PRIMARY keys, so a hot key can only
    // come from duplicated PKs — the data-quality defect the engine exists
    // to surface (§2.10.5). Full-outer SMJ is NOT AQE-skew-splittable
    // (replicating a side fabricates unmatched rows), so the M·N rows of
    // one duplicated key necessarily land in one task; the engine's
    // contract is (1) that cost stays proportional to the M·N output — no
    // quadratic re-sort, no meltdown beyond losing parallelism on the one
    // partition — and (2) the duplicate counts SURFACE in the overall
    // report. Control case: the same ~M² extra joined rows as unique
    // 1-match keys spread across all partitions — equal row budget,
    // maximal parallelism — so the committed pair of numbers reads as
    // "price of the hot partition" and nothing else.
    {
      import graft.config.{DatasetParams, TestParams}
      import graft.core.Comparison
      val cmpM = 2000L
      val ordCmp = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
      val hotRow = ordCmp.filter(col("o_orderkey") === 1L).localCheckpoint()
      val cmpStride = ordCmp.agg(max("o_orderkey")).head().getLong(0) + 1L
      // key 1 duplicated cmpM× per side → cmpM² joined rows on ONE key
      def dupSide = ordCmp.unionAll(
        spark.range(cmpM - 1).crossJoin(hotRow).drop("id"))
      // control: cmpM² extra UNIQUE keys, identical on both sides
      def fillerSide = ordCmp.unionAll(
        spark.range(cmpM * cmpM).crossJoin(hotRow)
          .select((col("id") + lit(cmpStride)).as("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
      def timeCompare(name: String, src: DataFrame, tgt: DataFrame): Long = {
        val t0 = System.nanoTime()
        val res = Comparison.compareDataFrames(spark, src, tgt,
          DatasetParams(name, Seq("o_orderkey"), TestParams(differenceTolerance = 0.01)))
        val overall = res.overallTestReport.collect()
        val rowRows = res.rowLvlTestReport.count()
        results += name -> (System.nanoTime() - t0) / 1e9
        res.unpersist()
        System.err.println(f"[skewbench] $name%-24s ${results(name)}%7.2f s  ($rowRows row-lvl rows)")
        val dup = overall(0).getMap[String, Long](
          overall(0).fieldIndex("duplicate_count"))
        dup.getOrElse("source", 0L)
      }
      val dupSurfaced = timeCompare("compare_hot_pk_m2000", dupSide, dupSide)
      timeCompare("compare_uniform_4m", fillerSide, fillerSide)
      // duplicate_count counts duplicated KEYS, not rows ("dups = #keys
      // with count > 1", Comparison.collectStats — the reference's
      // semantics): ONE hot key duplicated cmpM× surfaces as exactly 1;
      // the 2000-way multiplicity surfaces in the row-level report's
      // M·N−1 per-key duplicate counts instead.
      require(dupSurfaced == 1L,
        s"overall report must surface the one duplicated PK, got $dupSurfaced")
      // the hot partition costs parallelism on ONE task, never an
      // asymptotic blow-up: generous noise-proof bound, loud when broken
      require(results("compare_hot_pk_m2000") <=
          4.0 * results("compare_uniform_4m") + 15.0,
        s"hot-PK compare melted down: ${results("compare_hot_pk_m2000")} s vs " +
          s"uniform ${results("compare_uniform_4m")} s")
    }

    // ---- k-means at fleet scale: 2M vectors, 16 latent centers ----
    // Synthetic clustered corpus: center = id mod 16, 8 dims of
    // center-determined base + ±0.01 hash noise. Pins that the broadcast
    // argmin + floor-div update pipeline holds at 2M×16 distance rows
    // (never materialized — map-side combine) and that the summary
    // PARTITIONS the corpus. (Seeds are a hash sample, so two may land in
    // one latent center — cluster COUNT is ≤ k, not == 16, by design.)
    val kmN = 2000000L
    val kmVecs = spark.range(kmN).select(col("id"),
      transform(sequence(lit(0), lit(7)), j =>
        ((pmod(col("id"), lit(16L)) * 31 + j * 7) % 100).cast("double") / 100.0 - 0.5 +
          (pmod(xxhash64(col("id") * 8 + j), lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.02)
        .cast("array<float>").as("emb"))
    val tKm0 = System.nanoTime()
    val kmSummary = graft.operators.Clustering.kmeans(kmVecs, "id", "emb", k = 16, iters = 2)
      .localCheckpoint()
    val kmStats = kmSummary.agg(sum("n_members"), count(lit(1))).head()
    results += "kmeans_2m_k16" -> (System.nanoTime() - tKm0) / 1e9
    require(kmStats.getLong(0) == kmN,
      s"kmeans summary must partition the corpus: ${kmStats.getLong(0)} of $kmN")
    require(kmStats.getLong(1) <= 16L,
      s"at most k clusters, got ${kmStats.getLong(1)}")
    System.err.println(s"[skewbench] kmeans: 2M vectors -> ${kmStats.getLong(1)} clusters " +
      s"(${results("kmeans_2m_k16")} s)")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"skew_bench","unit":"sec","cases":$qs,""" +
        s""""fixture":{"lineitem_rows":$totalRows,"hot_key_rows":$hotRows,""" +
        s""""docs":$nDocs,"dropped_hot_tokens":$droppedTokens,""" +
        s""""despans_scrubbed_docs":$nScrubbed,""" +
        s""""pairs_capped":${capped.size},"pairs_uncapped":${uncapped.size},""" +
        s""""boilerplate_only_pairs_suppressed":${(uncapped -- capped).size},""" +
        s""""simhash_uniform_sigs":$nSigs,""" +
        s""""simhash_cand_single_segment":$candSingle,""" +
        s""""simhash_cand_blocked_combos":$candBlocked,""" +
        s""""simhash_max_bucket_single":$maxBucketSingle,""" +
        s""""simhash_max_bucket_blocked":$maxBucketBlocked,""" +
        s""""cc_chain_nodes":$chainN,"cc_chain_rounds":$chainRounds,""" +
        s""""cc_giant_nodes":$giantNodes,"cc_giant_rounds":$giantRounds,""" +
        s""""cc_giant_largest":$giantMax,""" +
        s""""kcore_onion_rounds":$onionRounds,"kcore_chain_capped_left":$kchainLeft,""" +
        s""""kmeans_n":$kmN,"kmeans_clusters":${kmStats.getLong(1)},""" +
        s""""topk_out_rows":$topkRows,"calibrate_rows":$calRows,""" +
        s""""sketch_hll_state_rows":$hllStateRows,"sketch_hll_est":$hllEst,""" +
        s""""sketch_hll_exact":$hllExact,"sketch_kmv_jaccard_ppm":$kmvJ,""" +
        s""""sketch_kmv_est_union":$kmvU,"sketch_cms_counter_rows":$cmsRows,""" +
        s""""sketch_cms_hot_est":$cmsHotEst},"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_skew.json"), json + "\n")
    spark.stop()
    println(json)
  }
}
