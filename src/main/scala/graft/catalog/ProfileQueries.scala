package graft
package catalog

import org.apache.spark.sql.functions._

/** Profiling and checks (`q_profile*`, `q_check_constraints`,
  * `q_assoc_rules`): column profiles, histograms, drift, schema diffs,
  * correlations, functional dependencies and association rules.
  */
private[graft] object ProfileQueries {
  import Fixtures.{docs, li, ord}

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // data profiling: one-job per-column stats on the orders table
    "q_profile" -> CatalogQuery((s, d) => graft.core.Profiling.profile(s, ord(s, d)),
      // replicates Profiling.profile on orders: n_distinct is COUNT(DISTINCT)
      // (non-null) — all-integer outputs, engine-independent
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n")),

    // equi-width histogram: 20 bins over [0, 500000) — round-number edges
    // keep the bin arithmetic bit-identical across engines
    "q_profile_hist" -> CatalogQuery((s, d) =>
      graft.core.Profiling.histogram(ord(s, d), "o_totalprice",
        nBins = 20, lo = 0.0, hi = 500000.0),
      // replicates Profiling.histogram: same round-number bin arithmetic
      // (width 25000 = (500000 - 0) / 20), clamped edge bins, NULLs dropped
      """SELECT bin_no,
        |  0.0 + bin_no * 25000.0 AS lo_edge,
        |  0.0 + (bin_no + 1) * 25000.0 AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM (SELECT least(19, greatest(0,
        |    CAST(floor((o_totalprice - 0.0) / 25000.0) AS INTEGER))) AS bin_no
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |GROUP BY bin_no""".stripMargin),

    // distribution drift: order totalprice shape, pre- vs post-1998 —
    // per-bin counts and integer-exact ppm proportions (Σ|delta|/2·10⁶ is
    // the total-variation distance, no log/float in the score)
    "q_profile_drift" -> CatalogQuery((s, d) => {
      val o = ord(s, d)
      val cut = lit("1998-01-01").cast("timestamp")
      graft.core.Profiling.driftReport(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        "o_totalprice", nBins = 20, lo = 0.0, hi = 500000.0)
    },
      // replicates Profiling.driftReport: same histogram grid per side,
      // full-outer bin align, ppm = n·10⁶ // N (floor), delta = cur − base
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
        |FROM t""".stripMargin),

    // schema drift: current drops lang, narrows n_chars to INT and adds a
    // derived flag — removed/type_changed/added/unchanged all exercised.
    // Pure metadata (no job); the oracle replays it via DESCRIBE.
    "q_profile_schema_diff" -> CatalogQuery((s, d) => {
      val base = docs(s, d)
      val cur = docs(s, d).drop("lang")
        .withColumn("n_chars", col("n_chars").cast("int"))
        .withColumn("is_long", col("n_chars") > 500)
      graft.core.Profiling.schemaDiff(s, base, cur)
    },
      // replays schemaDiff via DESCRIBE on both shapes, DuckDB type names
      // mapped onto Spark DDL (VARCHAR→STRING, INTEGER→INT)
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
        |FROM bt FULL OUTER JOIN ct ON bt.col = ct.col""".stripMargin),

    // cross-source overlap matrix: a synthetic 'mirror' source re-hosts
    // every 4th document, so (mirror → src_i) and the much larger
    // (src_i → mirror) containments both appear — plus any natural
    // cross-source duplicates the corpus already carries
    "q_profile_overlap" -> CatalogQuery((s, d) => {
      val dd = docs(s, d)
      val mirror = dd.filter(col("doc_id") % 4 === 0)
        .select(col("text"), lit("mirror").as("source"))
      graft.core.Profiling.sourceOverlap(
        dd.select("text", "source").unionByName(mirror), "text", "source")
    },
      // replicates sourceOverlap over the mirror-augmented corpus: distinct
      // (normalized-fingerprint, source) pairs, directional containment.
      // The maxSources=1000 cap is applied explicitly (21 sources here, so
      // a provable no-op) to keep the mirror equivalent where the cap bites.
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
        |FROM shared JOIN sizes ON sizes.src = src_a""".stripMargin),

    // declarative constraint suite over orders — one aggregation pass for
    // all six checks; o_custkey uniqueness FAILS by design (customers
    // repeat), the totalprice range check tolerates 100k ppm
    "q_check_constraints" -> CatalogQuery((s, d) => {
      import graft.core.Checks._
      graft.core.Checks.validate(s, ord(s, d), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        Unique(Seq("o_custkey")),
        InRange("o_totalprice", 0.0, 300000.0, maxViolationPpm = 100000L),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        MinRows(1000L)))
    },
      // replicates Checks.validate row by row: integer-ppm thresholds,
      // uniqueness as n - COUNT(DISTINCT), declaration order irrelevant to
      // the hash compare
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
        |FROM r""".stripMargin),

    // association rules over order baskets: which parts co-occur in an
    // order beyond chance — 2-itemset A-priori pass with in-row pair
    // emission, exact ppm confidence/lift; oracle re-derives pairs via a
    // within-basket self-join (a different mechanism, same set)
    "q_assoc_rules" -> CatalogQuery((s, d) =>
      graft.operators.Association.pairRules(
        li(s, d), "l_orderkey", "l_partkey", minSupport = 2L),
      // basket rules replica: distinct (order, part), pairs by self-join with
      // a < b, both rule directions, identical integer ppm arithmetic.
      // maxItems=64 never binds here (baskets are ~4 items), so the oracle
      // omits the guard.
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
        |CROSS JOIN nb""".stripMargin),

    // per-group least-squares trend: value drift over time per event_type
    // (x = epoch seconds, y = value micros) — exact grouped moments, one
    // aggregation, closed-form slope/intercept mirrored in the oracle
    "q_profile_trend" -> CatalogQuery((s, d) => {
      val ev = graft.sources.Events.load(s, d).select(
        col("event_type"),
        expr("ts_ns div 1000000000").as("sec"),
        col("value"))
      graft.core.Profiling.groupedTrend(
        ev, Seq("event_type"), "sec", "value", xScale = 1L, yScale = 1000000L)
    },
      // grouped trend replica: same HUGEINT moments per event_type, same
      // closed-form slope/intercept doubles
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
        |FROM m""".stripMargin),

    // pairwise Pearson correlation in ONE aggregation pass: cent-scaled
    // integer moment sums in DECIMAL(38,0), one double expression at the
    // end — the pre-training "which features are redundant" profile
    "q_profile_corr" -> CatalogQuery((s, d) =>
      graft.core.Profiling.correlationReport(
        li(s, d), Seq("l_quantity", "l_extendedprice", "l_discount"), scale = 100L),
      // the same exact moment sums in HUGEINT, same final double expression
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
        |FROM m""".stripMargin),

    // approximate functional-dependency discovery: is lhs a key for rhs —
    // one two-level hash aggregation per candidate pair, integer-ppm
    // confidence; o_orderkey→o_custkey is exact (PK), the others are not
    "q_profile_fds" -> CatalogQuery((s, d) =>
      graft.core.Profiling.functionalDependencies(ord(s, d), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderstatus"),
        ("o_orderpriority", "o_orderstatus"))),
      // FD replica: per-pair fan-out CTEs; FLOOR before the BIGINT cast on
      // both sides (Spark's double→long cast truncates, DuckDB's rounds)
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
        |FROM f3""".stripMargin),

    // equi-depth histogram: 8 rank-quantile bins over totalprice cents —
    // the window runs over the distinct-value DOMAIN (value resolution),
    // never the corpus; pure integer bin assignment, values never split
    "q_profile_eqdepth" -> CatalogQuery((s, d) =>
      graft.core.Profiling.equiDepthHistogram(
        ord(s, d).select(round(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents", nBins = 8),
      // equi-depth replica: identical integer cum-before · nBins // n bin rule
      """WITH d AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, COUNT(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, c,
        |    COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS bef,
        |    SUM(c) OVER () AS n FROM d)
        |SELECT CAST(bef * 8 // n AS BIGINT) AS bin, MIN(v) AS lo, MAX(v) AS hi,
        |  CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_distinct
        |FROM cum GROUP BY 1""".stripMargin))
}
