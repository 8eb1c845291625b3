package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Mergeable sketches (`q_sketch_*`): HyperLogLog, KMV overlap and Count-Min.
  */
private[graft] object SketchQueries {
  import Fixtures.ord

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

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // mergeable deterministic HLL: monthly register partials folded
    // register-wise (max rho) to the per-status sketch, estimated in exact
    // integer arithmetic with the precomputed linear-counting table. The
    // oracle rebuilds the registers straight from the raw rows — the merge
    // law (max is associative) makes partial-then-merge ≡ one-shot — via
    // SQL fragments generated by the SAME Sketches constants the operator
    // uses. exact_distinct joined in so the row itself shows the error.
    "q_sketch_hll" -> CatalogQuery((s, d) => {
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
    },
      hllOracleSql),

    // union-KMV corpus overlap: Jaccard between the 'F' and 'O' customer
    // sets from the 128 smallest union hashes (one bounded TakeOrdered, no
    // distinct-set materialization) — exact jaccard joined in (1×1
    // broadcast) so the estimate's error is visible in the row
    "q_sketch_kmv_overlap" -> CatalogQuery((s, d) => {
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
    },
      kmvOverlapOracleSql),

    // Count-Min heavy hitters: monthly counter partials merged by addition
    // (the CMS merge law), point-queried for the exact top-20 customers —
    // est_count ≥ true_count always (collisions only inflate), and the
    // oracle replays the identical salted-hash counter matrix
    "q_sketch_cms_heavy" -> CatalogQuery((s, d) => {
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
    },
      cmsHeavyOracleSql))
}
