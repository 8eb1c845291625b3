package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Distributed undirected-graph analytics beyond the connected components
  * in [[Dedup.connectedComponents]] — the structural profile of a pair
  * graph (near-dup families, co-occurrence networks, record-linkage
  * candidates): how dense, how hub-dominated, how transitive.
  */
object Graphs {

  /** Canonical undirected edge list: self-loops dropped, reversed
    * duplicates collapsed onto `(lo, hi)` with lo < hi. The one place edge
    * normalization lives — both profile and PageRank build on it. The
    * deduplicating exchange lands on `parts` partitions (see [[keyed]]).
    */
  private def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String, parts: Int): DataFrame =
    keyed(
      pairs
        .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
        .select(
          least(col(aCol), col(bCol)).as("lo"),
          greatest(col(aCol), col(bCol)).as("hi")),
      parts, "lo", "hi")
      .distinct()

  /** Both orientations of every canonical edge as `(src, dst)`, built in
    * one pass over the canonical edge relation: the adjacency PageRank and
    * BFS probe by `src`. An `inline` of the two orientations reads the
    * relation once, where a union of two projections would read it twice
    * and need a side cache to keep the upstream pair pipeline from running
    * twice.
    */
  private def bidirectional(pairs: DataFrame, aCol: String, bCol: String, parts: Int): DataFrame =
    canonicalEdges(pairs, aCol, bCol, parts).select(inline(array(
      struct(col("lo").as("src"), col("hi").as("dst")),
      struct(col("hi").as("src"), col("lo").as("dst")))))

  /** Partition count of one graph call's cached layouts and of every
    * round exchange keyed like them: the size rule AQE coalesces shuffles
    * by, applied up front to the layouts it may not coalesce. Under
    * Spark's default `canChangeCachedPlanOutputPartitioning=false` a cache
    * keeps its layout (which is what lets every round read it in place),
    * so a layout at the shuffle-partition count ran one task per partition
    * in every stage of every round: 278 tasks per 2k-edge bench unit.
    *
    * The estimate is the optimizer's `sizeInBytes` of `pairs` (the
    * statistic the broadcast choice reads), doubled for the two
    * orientations the layouts hold. As in AQE's `CoalesceShufflePartitions`,
    * the target partition size is the estimate spread over the minimum
    * partition count (`spark.sql.adaptive.coalescePartitions.minPartitionNum`,
    * else the default parallelism under `parallelismFirst`, Spark's
    * default, else 1), clamped to `[minPartitionSize,
    * advisoryPartitionSizeInBytes]`; the count is the estimate over that
    * target, clamped to `[1, spark.sql.shuffle.partitions]`. So a graph
    * under `minPartitionSize` (1 MB) gets one partition, a larger one
    * keeps every core busy, and unknown statistics (Spark's
    * `defaultSizeInBytes`), any estimate above `shuffle partitions ×
    * advisory size`, or coalescing switched off give the shuffle-partition
    * count: the layouts and plans of a graph at scale are unchanged.
    */
  private[graft] def layoutPartitions(pairs: DataFrame): Int = {
    val conf = pairs.sparkSession.sessionState.conf
    val estimate = pairs.queryExecution.optimizedPlan.stats.sizeInBytes * 2
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val minCount = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        pairs.sparkSession.sparkContext.defaultParallelism
      else 1)
    val minSize = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)).min(advisory)
    val target = ((estimate + minCount - 1) / minCount).min(advisory).max(minSize)
    if (!conf.coalesceShufflePartitionsEnabled) conf.numShufflePartitions
    else ((estimate + target - 1) / target).max(1).min(conf.numShufflePartitions).toInt
  }

  /** `df` hash-partitioned on `keys` into `parts` partitions, in front of
    * an aggregate or distinct on `keys`. Left to itself that operator
    * exchanges at the shuffle-partition count, and where its output meets
    * a `parts`-partition layout the planner re-exchanges one side. At the
    * shuffle-partition count `df` is returned as it is: the planner's own
    * exchange lands on the same layout and keeps the aggregate's map-side
    * partial step.
    */
  private[operators] def keyed(df: DataFrame, parts: Int, keys: String*): DataFrame =
    if (parts >= df.sparkSession.sessionState.conf.numShufflePartitions) df
    else df.repartition(parts, keys.map(col): _*)

  /** Fill the cache of a persisted `df` and return its row count, in the
    * jobs that run its own plan: `Dataset.count()` would plan a global
    * aggregate over the cached scan, one more exchange and job.
    */
  private[operators] def fill(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Eager `localCheckpoint` of `df`, plus the number of its rows where
    * `cond` holds. The count is a named observed metric on the job that
    * fills the checkpoint, so an iterative loop reads its round counter
    * (removed set, frontier size, changed labels) without a second Spark
    * job over the materialized round. It is read back from the observed
    * frame's own execution: an `Observation` would register Spark's
    * `ObservationManager` on the session, whose listener then logs an
    * error for every later query in that session that fails analysis.
    */
  private[operators] def checkpointCounting(
      df: DataFrame,
      cond: Column = lit(true)): (DataFrame, Long) = {
    val name = s"graft_round_count_${java.util.UUID.randomUUID()}"
    val observed = df.observe(name, count(when(cond, lit(1))).as("n"))
    val cp = observed.localCheckpoint()
    (cp, observed.queryExecution.observedMetrics(name).getLong(0))
  }

  /** k-core decomposition by simultaneous peeling: repeatedly delete every
    * node whose remaining degree is below `k` (and its edges) until no
    * such node remains. The fixpoint — the maximal subgraph where every
    * node keeps ≥ k neighbors — is ORDER-INDEPENDENT (deleting any
    * sub-k node never revives another), so simultaneous-round peeling
    * reaches exactly the same core as sequential peeling, which is what
    * makes the operator engine-replicable: the catalog oracle unrolls the
    * rounds as SQL and converges to the identical set. Cores locate the
    * dense "heart" of a graph — spam rings in linkage graphs, boilerplate
    * families in near-dup graphs, power-user cliques in interaction
    * graphs — where triangle counts say how CLUMPY a graph is and
    * PageRank who is CENTRAL, the core says who survives when the
    * periphery is stripped.
    *
    * Scale shape — INCREMENTAL degree maintenance, so total aggregation
    * work across all peel rounds is O(|E|), not rounds × O(|E|): the
    * canonical edge set is cached ONCE (columnar persist, the PageRank
    * adjacency discipline, at the [[layoutPartitions]] count every degree
    * generation and decrement aggregate is keyed at) and degrees are
    * aggregated ONCE up front; every
    * round then (1) filters the |V|-row degree frame for sub-k nodes,
    * (2) probes the cached base with the removed set BROADCAST (two
    * narrow codegen'd hash-join scans, no base shuffle) to emit one
    * decrement per removed-incident edge's surviving endpoint, and
    * (3) rebuilds the degree frame as survivors-minus-decrements. Each
    * base edge contributes at most two decrement rows over the WHOLE
    * peeling (once per endpoint removal; the second lands on an
    * already-removed node and drops at the join), so the shuffled volume
    * across all rounds is bounded by 2|E| — the previous shape
    * re-aggregated degrees against the full base every round, which the
    * sf100 rung measured as a superlinear 13.4× per 10× step on a
    * deep-peeling graph (rounds grow with scale AND each round paid
    * O(|E|)). The cached base itself is periodically REBUILT to the
    * surviving edges (once removals since the last rebuild cross ~25% of
    * the then-live node count, and only before a round that probes), so
    * the per-round probe SCANS track the surviving edge set too instead
    * of staying O(original |E|) forever on deep peels. Only the shrinking
    * |V|-row degree frame checkpoints per round, with superseded
    * generations freed eagerly. An adversarial graph that peels more than
    * the broadcast bound in one round falls back to the planner's join
    * choice, never worse than re-aggregating. The driver reads each
    * round's removed-set size from an observed metric on the eager
    * checkpoint that materializes the set (no separate count job), never
    * node data.
    * Round COUNT is bounded by the peeling depth of the degree
    * distribution — worst case (a path) is O(n), real co-occurrence/
    * linkage graphs finish in a handful; `maxRounds` is the safety bound,
    * and stopping there early yields a SUPERSET of the true core
    * (documented approximation, never silent loss).
    *
    * Output: `(node, core_deg)` for every node of the k-core, with its
    * degree inside the core. Empty when the whole graph peels away.
    */
  def kCore(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 50): DataFrame =
    kCoreManaged(pairs, aCol, bCol, k, maxRounds)._1

  /** [[kCore]] plus the number of peel rounds actually run and a
    * `release()` hook. The stress benches assert round counts against the
    * fixture's known peeling depth (a returned count of `maxRounds` flags
    * the early-stop superset case).
    *
    * The returned frame is lazy over session-scoped cached state (the base
    * persist and the final degree-frame checkpoint); `release()` frees it.
    * Call it only AFTER fully consuming the result — the released
    * checkpoint is gone and a consumed result is never re-read, so this is
    * the intended lifecycle. [[kCoreReleased]] packages that lifecycle for
    * catalog/bench consumers.
    *
    * One plan shape at every size: the columnar base with incremental
    * degrees. The r11 predecessor (full per-round degree re-aggregation
    * against base-minus-removed) was A/B'd against this shape isolated-JVM
    * at sf0.1 and sf10 when the sf100 rung measured it superlinear
    * (13.4× per 10× step, rounds × O(|E|) aggregation); the incremental
    * shape's total shuffle across all rounds is bounded by 2|E|
    * decrements, restoring the ladder's 12× growth bound.
    */
  def kCoreManaged(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 50): (DataFrame, Int, () => Unit) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 1000, s"maxRounds out of range: $maxRounds")
    // columnar cache, materialized before any round plans against it (see
    // buildPrGraph for why persist, not localCheckpoint): the degree
    // checkpoint below is its only reader, so that job fills it
    val parts = layoutPartitions(pairs)
    val base = canonicalEdges(pairs, aCol, bCol, parts).persist()
    // Degrees aggregated ONCE; every later generation is survivors minus
    // decrements. Eager checkpoint truncates the round-deep lineage —
    // without it round r's plan would stack r joins over the original
    // aggregation. The same job counts the nodes (the shrink trigger).
    // Every degree generation and every round's decrements are aggregated
    // on the node at `parts` partitions, the count of the base's layout.
    val (degs0, nodes0) = checkpointCounting(degrees(base, parts))
    var degs = degs0
    // An eager checkpoint is a LogicalRDD — size-UNKNOWN to the planner —
    // so the per-round removed set gets an explicit broadcast hint while
    // provably executor-safe (≤ 5 M node ids ≈ tens of MB): the decrement
    // probes then run as narrow broadcast-hash scans of the columnar base
    // (no base shuffle) and the survivor anti-join stays narrow too. A
    // graph that peels more than the bound in one round falls back to the
    // planner's choice, never worse than re-aggregating.
    val broadcastLowMax = 5000000L
    // Base-shrink rebuilds gate on a TIGHTER bound than the probe
    // broadcasts: a rebuild is pure optimization (skipping it never
    // changes results), so it must only fire when it is nearly free —
    // see the A/B numbers at the rebuild site below.
    val RebuildSurvivorsMax = 1000000L
    val BaseShrinkFraction = 0.25
    // The decrement shuffle is O(|E|) TOTAL across all rounds, but each
    // round's two decrement probes still SCAN the cached base — on a
    // deep-peeling graph (hundreds of rounds) that residual rounds×O(|E|)
    // narrow work is the remaining superlinear term. So the live base is
    // periodically REBUILT to the surviving edges: once the nodes removed
    // since the last rebuild exceed `BaseShrinkFraction` of the node count
    // at that rebuild, survivors-only edges are re-persisted (two semi
    // joins against the current degree frame — broadcast under the same
    // bound as the low set, so the rebuild is itself two narrow scans) and
    // the superseded cache is dropped. Per-round probe scans then track
    // the surviving edge set instead of the original |E|; total rebuild
    // work is a geometric series bounded by O(|E|/fraction). A rebuild
    // never changes results, only which cache the probes scan.
    var liveBase = base
    var nodesAtShrink = nodes0
    var removedSinceShrink = 0L
    var round = 0
    var fixed = false
    while (!fixed && round < maxRounds) {
      val (low, lowCount) = checkpointCounting(
        degs.filter(col("deg") < lit(k.toLong)).select(col("n")))
      if (lowCount == 0L) { fixed = true; releaseCheckpoint(low) }
      else {
        // The rebuild runs here, before a round that probes, and never
        // after the last round, whose shrunk base nothing would read. It
        // only fires when the survivor set is SMALL (≤
        // [[RebuildSurvivorsMax]]): the r14 deep-peel A/B — an
        // adversarial onion graph (9.06M nodes, 150 uniform layers, one
        // layer peeled per round, fresh alternating JVMs) — measured the
        // ungated lever 1.4-1.6× SLOWER than off (on {389.2, 386.8} s vs
        // off {280.1, 236.1} s): above the broadcast bound each rebuild
        // shuffled ~15M+ surviving edges, and even gated at the 5M
        // broadcast bound the ~5M-id driver collect + 40 MB broadcast per
        // rebuild still lost (321.0 s vs 262.6 s) against ~0.3 s/round of
        // probe-scan saving. At ≤1M ids the rebuild is ~8 MB of broadcast
        // and two narrow scans — cost ~0 even on the adversarial shape —
        // while the payoff regime survives intact: real deep peels grind
        // their long round tails over a small residual graph (most nodes
        // drop early), exactly where survivors fit this bound and the
        // per-round saving against the still-cached ORIGINAL base
        // compounds. At the 100 TB end the asymmetry only widens: the
        // per-round probe scan grows with |E| while the rebuild broadcast
        // stays bounded by this constant.
        val survivors = nodesAtShrink - removedSinceShrink
        if (survivors <= RebuildSurvivorsMax &&
            removedSinceShrink >= BaseShrinkFraction * nodesAtShrink) {
          def survB(as: String): DataFrame = {
            val s = degs.select(col("n").as(as))
            if (survivors <= broadcastLowMax) broadcast(s) else s
          }
          val shrunk = liveBase
            .join(survB("lo"), Seq("lo"), "left_semi")
            .join(survB("hi"), Seq("hi"), "left_semi")
            .persist()
          fill(shrunk)
          liveBase.unpersist(false)
          liveBase = shrunk
          nodesAtShrink = survivors
          removedSinceShrink = 0L
        }
        val lowB = if (lowCount <= broadcastLowMax) broadcast(low) else low
        // One decrement per removed-incident edge, keyed by the OTHER
        // endpoint; decrements aimed at nodes removed this round or
        // earlier vanish at the join with the surviving degree frame, so
        // no edge is ever subtracted twice.
        val dec = keyed(
          liveBase
            .join(lowB.withColumnRenamed("n", "lo"), Seq("lo"))
            .select(col("hi").as("n"))
            .unionByName(
              liveBase
                .join(lowB.withColumnRenamed("n", "hi"), Seq("hi"))
                .select(col("lo").as("n"))),
          parts, "n")
          .groupBy(col("n"))
          .agg(count(lit(1)).as("__dec"))
        val next = degs
          .join(lowB, Seq("n"), "left_anti")
          .join(dec, Seq("n"), "left")
          .select(col("n"), (col("deg") - coalesce(col("__dec"), lit(0L))).as("deg"))
          .localCheckpoint()
        // free superseded generations eagerly (irrevocable, fine: nothing
        // references them again)
        releaseCheckpoint(degs)
        releaseCheckpoint(low)
        degs = next
        round += 1
        removedSinceShrink += lowCount
      }
    }
    val result = degs.select(col("n").as("node"), col("deg").as("core_deg"))
    val finalDegs = degs
    val finalBase = liveBase
    val release = () => { finalBase.unpersist(false); releaseCheckpoint(finalDegs) }
    (result, round, release)
  }

  /** The consumer-facing kCore lifecycle: run [[kCoreManaged]], materialize
    * the (small — core nodes only) result as its own checkpoint, and
    * RELEASE the heavy session-scoped state (the |E|-row base persist and
    * the |V|-row degree checkpoint) before returning. Repeated invocations
    * in a long-lived session then accumulate only |core|-row result frames
    * instead of full graph caches — the storage-leak audit in
    * OperatorsSpec pins this. The catalog/bench rows consume kCore through
    * here.
    */
  def kCoreReleased(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 50): DataFrame = {
    val (df, _, release) = kCoreManaged(pairs, aCol, bCol, k, maxRounds)
    val out = df.localCheckpoint() // eager: materializes before release
    release()
    out
  }

  /** Unpersist the block-manager storage behind an EAGER `localCheckpoint`
    * frame (a `LogicalRDD` root). No-op for any other plan shape.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Multi-source BFS: minimum hop distance from a seed set, bounded at
    * `maxHops` — the link-based curation primitive ("keep documents within
    * 2 hops of the trusted seeds", "how far does this spam ring reach").
    * Frontier expansion is level-synchronous, which makes the result
    * engine-replicable: level h is exactly the nodes first reachable in h
    * hops, independent of traversal order, so the oracle can replay the
    * rounds unrolled as SQL. Seeds are included at hops 0 whether or not
    * they touch any edge (a valid query node is a valid answer); nodes
    * beyond `maxHops` are ABSENT, never mislabeled.
    *
    * Scale shape, per hop: one equi-join of the CURRENT FRONTIER (not the
    * accumulated distance set) against the bidirectional adjacency —
    * frontier size bounds the shuffled probe side and AQE broadcasts a
    * dwindling frontier — then one anti-join against the accumulated
    * distances to keep only first visits. The adjacency is built once,
    * hash-partitioned by `src` into [[layoutPartitions]] partitions (the
    * count each hop's reached set is deduplicated at), and `persist`ed
    * (each hop re-reads it; re-deriving would re-run the whole
    * upstream pair pipeline per hop, and lineage-backed persist lets an
    * evicted partition recompute where a checkpoint could not). Each hop's
    * new level is `localCheckpoint`ed once, which truncates the lineage;
    * the distance set is the union of those level checkpoints, never
    * re-checkpointed as it grows. The driver reads each level's size from
    * an observed metric on the checkpoint that materializes it (no separate
    * emptiness job), never node data. Output: `(node, hops)`.
    */
  def bfsHops(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops out of range: $maxHops")
    // The PageRank adjacency discipline (r15, guide §2.4): the adjacency is
    // cached HASH-PARTITIONED by the probe key and sorted, and Spark's
    // default canChangeCachedPlanOutputPartitioning=false keeps that layout
    // visible to every hop's join — without it the hop joins planned
    // sort-merge against the stats-blind checkpointed frontier and
    // RE-EXCHANGED all 2|E| adjacency rows EVERY HOP (traced r15 at sf0.1:
    // hops 2 and 3 each re-shuffled the full 2.39M-row adjacency, ~10 of the
    // query's 29 executor-CPU seconds; at the sf100 rung that is 239M rows
    // per hop). With the layout visible only the dwindling frontier moves
    // per hop, at every scale. A session that sets the key "true" gets the
    // same distances, but the adjacency may then be re-exchanged every hop.
    val parts = layoutPartitions(pairs)
    val adj = bidirectional(pairs, aCol, bCol, parts)
      .repartition(parts, col("src"))
      .sortWithinPartitions("src")
      .persist()
    fill(adj) // materialize so hops plan against the cached layout
    // every level is deduplicated at `parts` partitions, the count the
    // frontier's probe of the adjacency runs at
    var dist = keyed(seeds.filter(col(seedCol).isNotNull).select(col(seedCol).as("node")),
        parts, "node")
      .distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint()
    var frontier = dist
    var hop = 0L
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      val reached = frontier.select(col("node").as("src"))
        .join(adj, Seq("src"))
        .select(col("dst").as("node"))
      val (next, size) = checkpointCounting(keyed(reached, parts, "node").distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(hop + 1L)))
      if (size == 0L) { exhausted = true; releaseCheckpoint(next) }
      else {
        dist = dist.union(next) // the levels stay separate checkpoints
        frontier = next
        hop += 1
      }
    }
    adj.unpersist(false) // every level is checkpointed; nothing re-reads the cache
    dist
  }

  // (n, deg) over the canonical undirected edge relation
  private def degrees(edges: DataFrame, parts: Int): DataFrame =
    keyed(edges.select(col("lo").as("n")).union(edges.select(col("hi").as("n"))), parts, "n")
      .groupBy("n").agg(count(lit(1)).as("deg"))

  /** Closing-join strategy gate for [[graphProfile]]: at or below this many
    * canonical edges the triangle-closing probe BROADCASTS the oriented
    * edge list instead of shuffling the Σ out-deg² wedge relation to meet
    * it. The wedge relation is the largest intermediate of the whole
    * profile (34× the edge count on the catalog co-occurrence graph:
    * 41M rows / 354 MB at sf0.1) and under the broadcast it never leaves
    * its producing stage — wedge emission, the closing hash probe and the
    * partial count fuse into ONE WholeStageCodegen pass over the oriented
    * scan, zero exchanges on the wedge relation (r15 A/B below). The
    * broadcast costs ~60 B/edge of hash relation on every executor
    * (20M edges ≈ 1.2 GB, inside a 16 GB executor; the 8 GB broadcast
    * hard cap sits at ~130M edges), so past the bound the closing join
    * falls back to the previous shuffled-hash shape, which scales
    * unbounded. Tune per deployment via
    * [[ProfileClosingBroadcastMaxEdgesConf]] (executor-memory-bound, the
    * same sizing logic as the compare engine's refetch cutover).
    */
  private val ProfileClosingBroadcastMaxEdges = 20000000L
  val ProfileClosingBroadcastMaxEdgesConf = "spark.graft.graph.profileClosingBroadcastMaxEdges"

  /** One-row structural profile: `(n_nodes, n_edges, max_degree,
    * n_wedges, n_triangles, transitivity_ppm)` where
    * `transitivity_ppm = 3·triangles·10⁶ div wedges` (the global clustering
    * coefficient — near 0 for random pairing, high for clique-like
    * near-dup families).
    *
    * Triangle counting uses DEGREE-ORDERED edge orientation (the classic
    * node-iterator refinement): every edge points from its
    * `(degree, node)`-smaller endpoint to the larger, each triangle
    * a<b<c then appears as exactly the wedge (a→b, a→c) closed by b→c —
    * counted ONCE, no post-hoc dedup — and wedge fan-out at a node is its
    * OUT-degree, which the ordering caps at O(√m) amortized: a hub with a
    * million neighbors emits ~nothing (its edges all point INTO it), where
    * the naive all-wedges join would emit 10¹² pairs. The closing check is
    * a plain equi-join on the oriented edge list; nothing in the plan
    * exceeds Σ out-deg² rows. Self-loops are dropped; duplicate/reversed
    * input pairs collapse.
    */
  def graphProfile(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // FOUR consumers read the canonical edge relation (degree union ×2,
    // the orientation join, the edge count); without a cache each one
    // re-runs the whole upstream pair pipeline — a traced sf0.1 run spent
    // 4 identical self-join stages on it. The checkpoint fills on the
    // eager count below and every later stage reads it.
    val edges = canonicalEdges(pairs, aCol, bCol,
      pairs.sparkSession.sessionState.conf.numShufflePartitions).localCheckpoint(false)
    // One bounded eager action (a scalar count over the checkpoint — this
    // also fills the edge cache before any consumer plans against it).
    // Plan-time size knowledge is what the closing-join gate needs; the
    // count feeds the n_edges output column too, so no later recount runs.
    // This departs from construction-time laziness the same way
    // buildPrGraph does, deliberately.
    val nEdges = edges.count()
    val closingMax = pairs.sparkSession.conf
      .getOption(ProfileClosingBroadcastMaxEdgesConf).map(_.toLong)
      .getOrElse(ProfileClosingBroadcastMaxEdges)
    // |V| ≤ 2·|E|, so the one gate bounds the degree frame too.
    val smallGraph = nEdges <= closingMax
    // THREE consumers evaluate the degree subtree (the dlo join, the dhi
    // join, nodeStats) and Spark does not share subtrees across join
    // inputs — the traced r15 run computed the full union+aggregate twice
    // inside the oriented materialization alone (2 × 200 MB edge-cache
    // scans → 364k-row partials). Under the gate: lazy checkpoint (fills
    // on first use, |V| rows, construction stays one eager count) + the
    // EXPLICIT broadcasts below — a checkpointed LogicalRDD hides its
    // stats, and the planner answered with a sort-merge join of the edge
    // relation (traced: a new 1.2M-row exchange and a 52-task-s merge
    // stage) where the stats-visible subtree had broadcast. Above the
    // gate: the original shape unchanged (stats-driven planner choice,
    // duplicate evaluation that scales by lineage re-run).
    val degCore = edges.select(col("lo").as("n"))
      .union(edges.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val degrees = if (smallGraph) degCore.localCheckpoint(false) else degCore
    // orient by (deg, n): strict total order, so orientation is acyclic.
    // BOTH endpoint degrees ride along so the wedge stage never has to
    // re-join the degree table onto its largest intermediate.
    def degFor(side: String, dcol: String): DataFrame = {
      val d = degrees.withColumnRenamed("n", side).withColumnRenamed("deg", dcol)
      if (smallGraph) broadcast(d) else d
    }
    val withDeg = edges
      .join(degFor("lo", "dlo"), Seq("lo"))
      .join(degFor("hi", "dhi"), Seq("hi"))
    val loFirst = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    // three consumers (both wedge legs + the closing join): cache the
    // oriented relation too, for the same reason as `edges`.
    val oriented = withDeg.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("dst"),
      when(loFirst, col("dhi")).otherwise(col("dlo")).as("ddst"))
      .localCheckpoint(false)
    // wedges at src: unordered out-neighbor pairs, canonicalized by the
    // SAME (deg, n) order so the closing edge matches its oriented form —
    // pure in-join filter, no lookups on the Σ out-deg² wedge relation
    val o1 = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
    // o2 explicitly broadcast under the gate: the checkpointed inputs hide
    // their stats, and without the hint the planner shuffled BOTH oriented
    // copies into a merge join (traced: 2.39M rows re-exchanged, 56 task-s)
    // where the stats-visible subtree had auto-broadcast it.
    val wedges = o1.join(if (smallGraph) broadcast(o2) else o2, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v").as("src"), col("w").as("dst"))
    // The closing check joins the Σ out-deg² wedge relation (34× the edge
    // count on this co-occurrence graph) against the |E|-row oriented
    // list. Below the gate the oriented list BROADCASTS (keyed by the full
    // (src, dst) pair) and the wedge relation never shuffles at all —
    // emission, probe and partial count run in the producing stage (see
    // [[ProfileClosingBroadcastMaxEdges]]). Above it: SHUFFLE_HASH, not
    // sort-merge — a hash probe only shuffles the wedge side where an SMJ
    // would also SORT it (the traced sf0.1 run spent 9 of 23 s in that
    // sort); the build side is the bounded one (|E| rows hash-partitioned).
    val closing = oriented.select("src", "dst")
    val triangles = wedges
      .join(
        if (smallGraph) broadcast(closing) else closing.hint("shuffle_hash"),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("n_triangles"))
    // n_edges from the already-collected count — same value the old
    // edges.agg(count) job produced, zero extra stages.
    val base = pairs.sparkSession.range(1).select(lit(nEdges).as("n_edges"))
    val nodeStats = degrees.agg(
      count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    base.crossJoin(broadcast(nodeStats)).crossJoin(broadcast(triangles))
      .select(
        col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_wedges"), col("n_triangles"),
        // DECIMAL product: 3·10⁶·triangles wraps a BIGINT at ~3·10¹²
        // triangles — one 100k-node near-dup clique has 1.7·10¹⁴
        when(col("n_wedges") > 0,
          expr("cast(n_triangles as decimal(38,0)) * 3000000 div n_wedges"))
          .as("transitivity_ppm"))
  }

  /** The materialized PageRank graph state: cached adjacency, cached node
    * frame (the initial ranks), the base rank `b0 = scale div n` as a
    * driver-side literal, and the layout's partition count `parts` (see
    * [[layoutPartitions]]). Exposed `private[graft]` so PlanSpec can audit
    * a raw (un-checkpointed) iteration frame — the zero-exchange property
    * of the adjacency side must be pinned by a test, not assumed.
    */
  private[graft] final case class PrGraph(adj: DataFrame, nodes: DataFrame, b0: Long, parts: Int)

  /** Build + MATERIALIZE the adjacency/node caches (see [[pageRank]]'s
    * scaladoc for why eager, why persist-not-checkpoint, and why the
    * cached-partitioning conf must read false, its default, while this and
    * all iteration planning run).
    */
  private[graft] def buildPrGraph(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      scale: Long): PrGraph = {
    // adjacency with the SOURCE degree attached, via ONE exchange: the
    // repartition+sort lays rows out by src, and the count-over-src
    // window computes deg inside that same layout (WindowExec's
    // clustering+ordering requirement is already satisfied — no degree
    // aggregation exchange, no degree join). Sorted before the columnar
    // cache, so no iteration ever exchanges or sorts this side (see
    // scaladoc for why persist, not localCheckpoint). Laid out at the
    // input-sized partition count every rank frame is keyed at.
    val parts = layoutPartitions(pairs)
    val adj = bidirectional(pairs, aCol, bCol, parts)
      .repartition(parts, col("src"))
      .sortWithinPartitions("src")
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .persist()
    // MATERIALIZE before planning the iterations: an InMemoryRelation
    // only reports its final partitioning once its (AQE-planned) cached
    // plan has executed — iteration joins planned against an empty cache
    // still insert the 2|E|-row exchange the cache exists to remove
    // (verified empirically; the unmaterialized plan keeps the
    // exchange+sort above InMemoryTableScan). PageRank is inherently
    // iterative state construction — like GraphX/Pregel it pays its
    // graph build eagerly; this is the one catalog operator that departs
    // from construction-time laziness, deliberately.
    fill(adj)
    // (node, deg): aggregation over adj's cached hash(src) distribution —
    // no exchange; the initial rank frame, filled here by the job that
    // counts the nodes.
    val nodes = adj.groupBy(col("src").as("node"))
      .agg(min(col("deg")).as("deg"))
      .persist()
    val n = fill(nodes)
    // base₀ = scale div n (the oracle's `b0` CTE), computed once here and
    // embedded in every iteration plan as a literal: no per-iteration
    // aggregate or broadcast. An empty edge list has no nodes and yields
    // an empty result; its b0 of 0 is never read.
    PrGraph(adj, nodes, if (n == 0L) 0L else scale / n, parts)
  }

  /** Initial rank frame: every node at `scale div n`. */
  private[graft] def prInit(g: PrGraph): DataFrame =
    g.nodes.select(col("node"), col("deg"), lit(g.b0).as("rank_scaled"))

  /** One un-checkpointed rank iteration — the frame PlanSpec audits. Its
    * rank aggregate is its output: the adjacency is symmetric and
    * deduplicated and every node has an edge, so every node receives
    * exactly `deg` contributions and the aggregate's row count per node IS
    * its degree. No join with the node cache rebuilds the frame. Where the
    * layout has more than one partition and the join does not broadcast
    * the adjacency, a round exchanges twice, both times at the layout's
    * partition count (PlanSpec pins it): the checkpointed rank frame (a checkpoint under AQE reports no
    * partitioning) onto the adjacency's layout, and the contributions onto
    * their receiving node.
    */
  private[graft] def prStep(ranks: DataFrame, g: PrGraph, dampPpm: Long): DataFrame =
    keyed(
      ranks
        .select(col("node").as("src"), expr("rank_scaled div deg").as("c"))
        .join(g.adj.select(col("src"), col("dst")), Seq("src")),
      g.parts, "dst")
      .groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg"), sum(col("c")).as("__in"))
      // `div`, never `/`: Spark's `/` on longs returns DOUBLE (rounding),
      // while `div` truncates like every other engine's integer division
      .select(col("node"), col("deg"),
        call_function("div",
          lit(1000000L - dampPpm) * lit(g.b0) + lit(dampPpm) * col("__in"),
          lit(1000000L)).as("rank_scaled"))

  /** [[pageRank]] with a CONVERGENCE early exit instead of a fixed
    * iteration count: iterate until the max per-node rank movement
    * `max |Δrank_scaled|` drops to `tolPpm` parts-per-million of the base
    * rank `b0 = scale div n` (relative, so the stopping behavior is
    * scale-free: 10× more nodes shrinks `b0` and the deltas together),
    * bounded by `maxIters`. Every quantity stays on the integer grid —
    * the delta, the threshold (`max(1, b0·tolPpm div 10⁶)`), and the
    * stop rule are all exact integer comparisons — so an external engine
    * replaying the same rule picks the IDENTICAL stopping round: the
    * catalog oracle unrolls `maxIters` rounds in SQL, computes every
    * round's delta, and selects the first qualifying round dynamically.
    * No pinned round count exists anywhere; the n_iters output column is
    * how the oracle PROVES both engines stopped at the same round.
    *
    * Cost model: one extra |V|-row join + scalar aggregate per iteration
    * (the delta probe — both sides are the checkpointed rank frames, the
    * driver sees one number), against the saving of every iteration not
    * run. Superseded rank checkpoints are released as soon as the next
    * round is materialized, so the loop holds TWO |V|-row frames at any
    * moment regardless of depth — the fixed-iteration variant's
    * accumulate-then-sweep would leak proportional to depth here.
    *
    * Returns `(node, rank_scaled, n_iters)` and the iteration count.
    */
  def pageRankConverged(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      tolPpm: Long = 20000L,
      maxIters: Int = 12,
      dampPpm: Long = 850000L,
      scale: Long = 1000000000000L): (DataFrame, Int) = {
    require(tolPpm >= 1 && tolPpm <= 1000000, s"tolPpm must be ppm, got $tolPpm")
    require(maxIters >= 1 && maxIters <= 50, s"maxIters must be in [1, 50], got $maxIters")
    require(dampPpm >= 0 && dampPpm <= 1000000, s"dampPpm must be ppm, got $dampPpm")
    val g = buildPrGraph(pairs, aCol, bCol, scale)
    val tol = math.max(1L, g.b0 * tolPpm / 1000000L)
    var ranks = prInit(g).localCheckpoint(false)
    var it = 0
    var delta = Long.MaxValue
    while (it < maxIters && delta > tol) {
      val next = prStep(ranks, g, dampPpm).localCheckpoint(false)
      // the delta probe is the action that materializes `next`; its two
      // inputs are |V|-row checkpointed frames, its output one scalar
      val row = next.select(col("node"), col("rank_scaled").as("__r1"))
        .join(ranks.select(col("node"), col("rank_scaled").as("__r0")), Seq("node"))
        .agg(max(abs(col("__r1") - col("__r0"))))
        .collect()(0)
      delta = if (row.isNullAt(0)) 0L else row.getLong(0)
      releaseCheckpoint(ranks) // superseded generation; `next` is materialized
      ranks = next
      it += 1
    }
    (ranks.select(col("node"), col("rank_scaled"))
      .withColumn("n_iters", lit(it.toLong)), it)
  }

  /** PageRank over the undirected pair graph in EXACT integer arithmetic —
    * centrality for near-dup families ("which document anchors this
    * cluster"), co-occurrence networks, linkage graphs. Ranks live on a
    * `scale`-unit integer grid and every step is integer division
    * (truncation is part of the deterministic spec, identical in any
    * engine), so k iterations are replayable closed-form:
    * `r₀ = scale div n`, then
    * `r'(u) = ((10⁶ − damp)·r₀ + damp·Σ_{v∼u} (r(v) div deg(v))) div 10⁶`.
    * Scale shape — built so the per-iteration cost is proportional to
    * NODES moved, not edges re-shuffled: the bidirectional adjacency is
    * hash-partitioned by `src` into [[layoutPartitions]] partitions (one
    * count per call, from the input's size estimate and AQE's coalescing
    * rule; the shuffle-partition count at scale), sorted within partitions, given its
    * source degree by a count-over-src window INSIDE that one exchange
    * (no degree aggregation, no degree join), and `persist`ed as a
    * COLUMNAR cache. The cache, not a localCheckpoint, is load-bearing
    * twice over: (1) `InMemoryRelation` keeps the cached plan's
    * partitioning + ordering, so every iteration's contribution join needs
    * NEITHER exchange NOR sort on the 2|E|-row side — a lazy checkpoint's
    * `LogicalRDD` surfaces UnknownPartitioning under AQE, and an sf10
    * probe (120 M canonical edges) re-exchanged all 239 M adjacency rows
    * in EVERY iteration because of it; (2) compressed column batches hold
    * three-long rows at ~⅓ the deserialized row-cache footprint, which at
    * sf10 was 12 GB of heap pressing the GC into multi-second stalls.
    * Partitioning preservation relies on
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false`,
    * Spark 4.1's default (pinned by PlanSpec); the operator never writes
    * the key. A session that sets it "true" gets the same ranks, but AQE
    * may then re-plan the cached layouts and re-exchange the adjacency
    * every iteration. Only the contributions shuffle per iteration, keyed
    * on the receiving node at the layout's partition count; the rank
    * frame carries its node's degree, and the contribution aggregate IS
    * the next rank frame (it counts each node's `deg` contributions), so
    * no per-iteration degree or node join exists; the |V|-row rank frame
    * is shuffled onto the adjacency's layout. Per-round `localCheckpoint` truncates the
    * k-deep rank lineage (|V| rows cached per round; Bench releases these
    * orphaned checkpoints between queries). The adjacency/node caches are
    * SESSION-SCOPED like any persisted index frame — a long-lived session
    * mixing many graphs should `spark.catalog.clearCache()` when done.
    * Isolated nodes never appear (no edges ⇒ no rank mass to receive);
    * every listed node has deg ≥ 1, so no dangling-mass redistribution is
    * needed. Output: `(node, rank_scaled)` — Σ rank drifts below `scale`
    * by the truncation (deterministically), relative order is what
    * centrality consumes.
    */
  def pageRank(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3,
      dampPpm: Long = 850000L,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(dampPpm >= 0 && dampPpm <= 1000000, s"dampPpm must be ppm, got $dampPpm")
    val g = buildPrGraph(pairs, aCol, bCol, scale)
    var ranks = prInit(g).localCheckpoint(false)
    for (_ <- 1 to iters) {
      ranks = prStep(ranks, g, dampPpm).localCheckpoint(false)
    }
    ranks.select(col("node"), col("rank_scaled"))
  }
}
