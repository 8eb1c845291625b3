package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operators over part co-occurrence edges (`q_graph_*`): PageRank,
  * k-core, bounded BFS and the graph profile.
  */
private[graft] object GraphQueries {
  import Tables.load
  import Fixtures.li

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

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // integer-exact PageRank on the part co-occurrence graph: 3 power
    // iterations on a 10^12 grid, truncation IS the spec — the oracle
    // replays the identical iterations unrolled as SQL; top-20 centrality
    "q_graph_pagerank" -> CatalogQuery((s, d) =>
      graft.operators.Graphs.pageRank(partEdges(s, d), "pa", "pb", iters = 3)
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(20),
      pageRankOracleSql),

    // convergence-gated PageRank: iterate until max |Δrank| ≤ 10% of the
    // base rank (exact integer stop rule — the top-k-ordering tolerance:
    // per-iteration delta decays ~11× on this graph, so ranks ordering
    // the top-20 are stable well before the grid converges), bounded at
    // 12 rounds. NOTHING pins the stopping round — the oracle unrolls all
    // 12 rounds, computes every round's delta, and dynamically selects the
    // first qualifying round, so the n_iters column proves both engines
    // stopped at the same round at ANY scale factor
    "q_graph_pagerank_tol" -> CatalogQuery((s, d) =>
      graft.operators.Graphs.pageRankConverged(partEdges(s, d), "pa", "pb",
          tolPpm = 100000L, maxIters = 12)._1
        .orderBy(col("rank_scaled").desc, col("node"))
        .limit(20),
      pageRankConvergedOracleSql),

    // structural profile of the part co-occurrence graph (edges = distinct
    // part pairs sharing an order): degree-ordered oriented triangle count
    // — each triangle once, hub fan-out capped at O(√m) — vs the oracle's
    // brute-force 3-way self-join
    "q_graph_profile" -> CatalogQuery((s, d) =>
      graft.operators.Graphs.graphProfile(partEdges(s, d), "pa", "pb"),
      // brute-force graph replica: canonical distinct edges, degrees from the
      // endpoint union, triangles via (a,b)(a,c)(b,c) 3-way join with b < c
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
        |FROM ns CROSS JOIN es CROSS JOIN tri""".stripMargin),

    // dense-heart extraction: the 80-core of the part co-occurrence graph
    // (simultaneous peeling to its order-independent fixpoint). The oracle
    // unrolls 8 peel rounds — ≥ the fixpoint depth at the checked scales
    // (3 at sf0.001, 5 at sf0.01); rounds past fixpoint are no-ops, so
    // the margin is free.
    // kCoreReleased: the managed lifecycle — heavy graph caches (|E| base
    // persist, |V| degree checkpoint) are released at construction; only
    // the small core-node result frame stays resident, so repeated
    // invocations in a long-lived session don't accumulate graph storage
    "q_graph_kcore" -> CatalogQuery((s, d) =>
      graft.operators.Graphs.kCoreReleased(partEdges(s, d), "pa", "pb", k = 80),
      kCoreOracleSql),

    // link-based curation reach: min hop distance (≤ 3) from the size-1
    // parts to everything they co-occur with, level-synchronous frontier
    // expansion — the oracle replays the hops unrolled as SQL; seeds count
    // as hops 0 even when isolated, nodes beyond 3 hops are absent
    "q_graph_bfs" -> CatalogQuery((s, d) =>
      graft.operators.Graphs.bfsHops(partEdges(s, d), "pa", "pb",
        load(s, d, "part").filter(col("p_size") === 1), "p_partkey",
        maxHops = 3),
      bfsOracleSql))
}
