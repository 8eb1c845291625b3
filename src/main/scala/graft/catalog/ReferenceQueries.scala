package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference operators of the comparison algorithm: scans and sinks
  * (`q_s*`), projections (`q_p*`), aggregates (`q_a*`, `q_agg_*`), windows
  * (`q_w*`), joins (`q_j*`), set operations and unions (`q_u*`), dedup
  * primitives (`q_d*`), top-k, skew salting and layout compaction.
  */
private[graft] object ReferenceQueries {
  import Tables.load
  import Fixtures.{cust, docs, li, ord}

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // S1 + P1/P6: format scan with pushed filter + projection
    "q_s1_scan_filter" -> CatalogQuery((s, d) =>
      li(s, d)
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'""".stripMargin),

    // S2: catalog-table scan via the "table" sentinel path — through a REAL
    // persisted catalog table (saveAsTable -> warehouse parquet + catalog
    // entry -> read.table), not a temp view, so the metastore path is
    // exercised end to end.
    "q_s2_table_scan" -> CatalogQuery((s, d) => {
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
    },
      "SELECT r_regionkey, r_name FROM region"),

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
    "q_sink_roundtrip" -> CatalogQuery((s, d) => {
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
    },
      // the round trip must be lossless, so the oracle reads the ORIGINAL
      // table: any write/read corruption in either sink shows up as a sum or
      // count mismatch between the two re-read copies and this baseline
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents_bkt
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // S5 + J3: driver-local table broadcast-joined to a dimension
    "q_s5_local_broadcast" -> CatalogQuery((s, d) => {
      import s.implicits._
      val expected = Seq((0, "AFRICA"), (1, "AMERICA"))
        .toDF("r_regionkey", "expected_name")
      load(s, d, "region")
        .join(broadcast(expected), Seq("r_regionkey"))
        .select("r_regionkey", "r_name", "expected_name")
    },
      """SELECT r.r_regionkey, r.r_name, v.expected_name
        |FROM region r
        |JOIN (VALUES (0, 'AFRICA'), (1, 'AMERICA')) v(r_regionkey, expected_name)
        |  ON r.r_regionkey = v.r_regionkey""".stripMargin),

    // P3 + E1: sha256 row-checksum derivation
    "q_p3_checksum" -> CatalogQuery((s, d) =>
      cust(s, d).select(
        col("c_custkey"),
        sha2(concat_ws("", col("c_name"), col("c_mktsegment")), 256).as("row_chk")),
      """SELECT c_custkey, sha256(concat_ws('', c_name, c_mktsegment)) AS row_chk
        |FROM customer""".stripMargin),

    // P4/P5: bulk + single column rename
    "q_p4_rename" -> CatalogQuery((s, d) =>
      li(s, d)
        .withColumnsRenamed(Map(
          "l_quantity" -> "l_quantity_src",
          "l_extendedprice" -> "l_extendedprice_src"))
        .select("l_orderkey", "l_linenumber", "l_quantity_src", "l_extendedprice_src"),
      """SELECT l_orderkey, l_linenumber, l_quantity AS l_quantity_src,
        |  l_extendedprice AS l_extendedprice_src FROM lineitem""".stripMargin),

    // A1 + E5: global conditional sums
    "q_a1_condsum" -> CatalogQuery((s, d) =>
      ord(s, d).agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        count(lit(1)).as("n_rows")),
      """SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders""".stripMargin),

    // A2 + P10 + U1: duplicate-key counting over a union with injected dups
    "q_a2_dup_keys" -> CatalogQuery((s, d) => {
      val c = cust(s, d)
      c.union(c.filter(col("c_custkey") % 100 === 0))
        .groupBy("c_custkey").count()
        .where(col("count") > 1)
        .agg(count(lit(1)).as("dup_key_count"))
    },
      """WITH u AS (SELECT * FROM customer
        |           UNION ALL SELECT * FROM customer WHERE c_custkey % 100 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS dup_key_count
        |FROM (SELECT c_custkey FROM u GROUP BY c_custkey HAVING COUNT(*) > 1) g""".stripMargin),

    // W1: unordered count-over-partition duplicate count
    "q_w1_dup_window" -> CatalogQuery((s, d) =>
      li(s, d)
        .select("l_orderkey", "l_linenumber")
        .withColumn(
          "duplicate_count",
          count(lit(1)).over(
            Window.partitionBy("l_orderkey")
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) - 1),
      """SELECT l_orderkey, l_linenumber,
        |  COUNT(*) OVER (PARTITION BY l_orderkey) - 1 AS duplicate_count
        |FROM lineitem""".stripMargin),

    // A3 + U2 + E6: one-row aggregate unpivoted to (column_name, value)
    "q_u2_unpivot" -> CatalogQuery((s, d) =>
      li(s, d)
        .agg(
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("high_discount"),
          sum(when(col("l_tax") > 0.04, 1).otherwise(0)).as("high_tax"))
        .unpivot(Array.empty[Column], Array(col("high_discount"), col("high_tax")),
          "column_name", "unmatched_rows_count")
        .withColumn("unmatched_rows_count", coalesce(col("unmatched_rows_count"), lit(0L))),
      """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount,
        |  CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS high_tax
        |  FROM lineitem)
        |SELECT 'high_discount' AS column_name, high_discount AS unmatched_rows_count FROM a
        |UNION ALL
        |SELECT 'high_tax' AS column_name, high_tax AS unmatched_rows_count FROM a""".stripMargin),

    // A5: rollup (hierarchical subtotal lattice — priority, priority ×
    // status, grand total). One Expand + one shuffle; fixed-point sums
    "q_a5_rollup" -> CatalogQuery((s, d) =>
      ord(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents")),
      // both engines emit NULL group markers for rollup subtotal rows, and
      // neither input column is ever NULL in the data, so rows align exactly
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin),

    // W2: full window-analytics coverage — rank, running total, and lag
    // over a per-customer ordered frame; (date, orderkey) makes the order
    // total so RANGE and ROWS frames coincide deterministically
    "q_w2_running" -> CatalogQuery((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d).select(
        col("o_custkey"),
        col("o_orderkey"),
        row_number().over(w).cast("long").as("order_seq"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("cum_cents"),
        lag(round(col("o_totalprice") * 100).cast("long"), 1).over(w).as("prev_cents"))
    },
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS order_seq,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS cum_cents,
        |  lag(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS prev_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // U3: pivot (wide conditional-count reshape). The value list is
    // EXPLICIT — an unlisted pivot makes Spark run a values-discovery job
    // over the full table before planning, which at 100 TB is a second
    // scan; empty cells are count NULL, folded to 0
    "q_u3_pivot" -> CatalogQuery((s, d) =>
      ord(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      // pivot ≡ per-group filtered counts (FILTER counts are 0, matching the
      // Spark side's coalesce of empty pivot cells)
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY 1""".stripMargin),

    // J1 + E5: full-outer alignment with missing-side status
    "q_j1_full_outer" -> CatalogQuery((s, d) => {
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
    },
      """WITH src AS (SELECT o_orderkey, o_totalprice AS price_src FROM orders WHERE o_orderkey % 3 != 0),
        |tgt AS (SELECT o_orderkey, o_totalprice AS price_target FROM orders WHERE o_orderkey % 5 != 0)
        |SELECT COALESCE(src.o_orderkey, tgt.o_orderkey) AS o_orderkey, price_src, price_target,
        |  CASE WHEN price_src IS NULL THEN 'MISSING_AT_SOURCE'
        |       WHEN price_target IS NULL THEN 'MISSTING_AT_TARGET'
        |       ELSE 'PRESENT_IN_BOTH' END AS missing_row_status
        |FROM src FULL OUTER JOIN tgt ON src.o_orderkey = tgt.o_orderkey""".stripMargin),

    // J2 + E6: left join with null-default fold
    "q_j2_left_coalesce" -> CatalogQuery((s, d) =>
      ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), coalesce(col("c_name"), lit("UNKNOWN")).as("cust_name")),
      """SELECT o_orderkey, COALESCE(c_name, 'UNKNOWN') AS cust_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // J3: left-semi join (EXISTS). The build side carries ONLY the join
    // key — no payload columns shuffle, and the hash table dedups keys, so
    // a billion-order probe against it stays one broadcast/hash probe per
    // row. The filter evaluates scan-side on orders before the join.
    "q_j3_semi" -> CatalogQuery((s, d) =>
      cust(s, d)
        .join(
          ord(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment"),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin),

    // J4: left-anti join (NOT EXISTS) — the retention/orphan query. Same
    // key-only build side as J3; NULL keys can't false-match because the
    // equi-condition is null-rejecting on both sides.
    "q_j4_anti" -> CatalogQuery((s, d) =>
      cust(s, d)
        .join(ord(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal"),
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // J5: Bloom-pruned semi join — the key set is filtered scan-side with
    // a broadcast Bloom filter BEFORE the big side's exchange, then exact
    // semi-join verify (false positives pruned, so row-identical to a
    // plain EXISTS — the filter only cuts shuffle volume). PlanSpec pins
    // might_contain below the exchange.
    "q_j5_bloom_semi" -> CatalogQuery((s, d) =>
      graft.operators.Pruning.bloomPrunedSemiJoin(
          li(s, d),
          ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey", expectedItems = 20000L)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      // the Bloom prefilter is exactness-preserving (no false negatives +
      // exact verify join), so the oracle is the plain EXISTS
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey
        |    AND o.o_orderpriority = '1-URGENT')""".stripMargin),

    // A6: cube + grouping_id — the full 2^n subtotal lattice with the
    // bitmask distinguishing real NULL groups from subtotal markers.
    // One Expand (4 replicas/row) + one shuffle, same as rollup.
    "q_a6_cube" -> CatalogQuery((s, d) =>
      ord(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents")),
      // GROUPING() in DuckDB and grouping_id() in Spark emit the same
      // bitmask (left column = MSB, 1 = aggregated-away)
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    // A8: explicit grouping sets — both one-dim marginals plus the grand
    // total in ONE pass (an Expand of exactly 3 replicas, vs cube's 4),
    // the shape for dashboard rollups that don't want the fine cells
    "q_a8_grouping_sets" -> CatalogQuery((s, d) =>
      ord(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents")),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

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
    "q_a7_percentile" -> CatalogQuery((s, d) =>
      ord(s, d)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_orderpriority")
        .agg(percentile(col("cents"), array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .select(
          col("o_orderpriority"),
          col("q").getItem(0).as("p25_cents"),
          col("q").getItem(1).as("p50_cents"),
          col("q").getItem(2).as("p75_cents")),
      // quantile_cont ≡ Spark percentile: linear interpolation between the
      // two adjacent order statistics; exact on integer cents at quarter
      // fractions
      """SELECT o_orderpriority,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25) AS p25_cents,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)  AS p50_cents,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75) AS p75_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // W3: per-group top-N. Spark 4 rewrites rank<=k filters over windows
    // into WindowGroupLimit — each map task keeps a k-row heap per group
    // BEFORE the shuffle, so the exchange carries ≤ k rows per group per
    // task instead of the whole table (pinned in PlanSpec). (date, key)
    // tie-break makes the ranking total.
    "q_w3_topn_group" -> CatalogQuery((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    },
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    // U4/U5: set operations. INTERSECT/EXCEPT are DISTINCT set semantics —
    // Spark plans them as an aggregate + semi/anti join on all columns;
    // dedup happens map-side before the shuffle.
    "q_u4_intersect" -> CatalogQuery((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin),

    "q_u5_except" -> CatalogQuery((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin),

    // Headline grouped aggregation. Exact AND order-independent without
    // decimal arithmetic: quantize each 2-decimal measure to integer cents
    // (round(v*100) as long) and sum longs — plain codegen'd integer adds,
    // ~an order of magnitude cheaper per row than Decimal sums, identical
    // results in any summation order, and bit-reproducible in DuckDB (the
    // same round/multiply/divide on the same doubles). Range headroom:
    // disc_price terms are ≤1e9 (1e7 cents × 1e2), so ~1e9 rows per group
    // fit in a long; beyond that, widen to decimal at the FINAL aggregate
    // only.
    "q_agg_pricing" -> CatalogQuery((s, d) =>
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // incremental aggregation maintenance: monthly mergeable partials
    // (count/sum/min/max on ×100 fixed-point) folded to the per-flag
    // rollup — the oracle computes the rollup DIRECTLY from the raw rows,
    // so the green row proves merge-of-partials ≡ one-shot aggregation
    "q_agg_incremental" -> CatalogQuery((s, d) => {
      val base = li(s, d).select(
        col("l_returnflag"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"),
        floor(col("l_quantity") * 100).as("qty_scaled"))
      graft.operators.Incremental.mergeStats(
        graft.operators.Incremental.partialStats(
          base, Seq("l_returnflag"), "ship_month", "qty_scaled"),
        Seq("l_returnflag"))
    },
      // the DIRECT one-shot rollup — proving Incremental.mergeStats ∘
      // partialStats collapses to the same answer
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(l_quantity) AS BIGINT) AS n_vals,
        |  CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  CAST(MIN(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS min_scaled,
        |  CAST(MAX(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS max_scaled
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // mergeable quantile state: per-month histogram partials (1000-unit
    // bins on price cents) folded to p25/p50/p90/p99 bins per returnflag —
    // the merge law makes the oracle free to bin directly
    "q_agg_quantile_state" -> CatalogQuery((s, d) => {
      val base = li(s, d).select(
        col("l_returnflag"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"),
        floor(col("l_extendedprice") * 100).as("price_cents"))
      graft.operators.Incremental.mergeQuantiles(
        graft.operators.Incremental.partialQuantiles(
          base, Seq("l_returnflag"), "ship_month", "price_cents", binWidth = 100000L),
        Seq("l_returnflag"), Seq(250000L, 500000L, 900000L, 990000L), binWidth = 100000L)
    },
      // replicates partialQuantiles+mergeQuantiles via the merge law (bin
      // directly): floor-division bins, exact integer ceil thresholds, the
      // first bin whose cumulative count reaches rank ⌈q·N/10⁶⌉
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
        |FROM sel WHERE cum >= thresh AND cum - n < thresh""".stripMargin),

    // small-file compaction planner over a synthetic per-partition file
    // listing (each doc = one "file" of n_chars bytes, partitioned by
    // lang): next-fit groups of ~20 kB by the running-sum rule
    "q_layout_compact" -> CatalogQuery((s, d) =>
      graft.sources.Layout.planCompaction(
        docs(s, d).select(
          col("lang"),
          concat(lit("doc_"), col("doc_id").cast("string")).as("path"),
          col("n_chars").as("bytes")),
        Seq("lang"), "path", "bytes", targetBytes = 20000L),
      // replicates Layout.planCompaction: running-sum next-fit groups per
      // lang partition in path order
      """WITH f AS (SELECT lang, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
        |    n_chars AS bytes FROM documents),
        |w AS (SELECT *, coalesce(sum(bytes) OVER (PARTITION BY lang ORDER BY path
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr FROM f)
        |SELECT lang, path, bytes,
        |  CAST(bfr // 20000 AS BIGINT) AS compaction_group,
        |  bytes >= 20000 AS is_right_sized
        |FROM w""".stripMargin),

    // O1: total-order top-k with full tie-break
    "q_o1_topk" -> CatalogQuery((s, d) =>
      ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice"),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // D1: key-based dropDuplicates (projected to the keys, so the survivor
    // row is deterministic and oracle-checkable)
    "q_d1_dropdup" -> CatalogQuery((s, d) => {
      val o = ord(s, d)
      o.select("o_custkey", "o_orderstatus")
        .dropDuplicates(Seq("o_custkey", "o_orderstatus"))
    },
      "SELECT DISTINCT o_custkey, o_orderstatus FROM orders"),

    // D2: distinct projection
    "q_d2_distinct" -> CatalogQuery((s, d) =>
      li(s, d).select("l_returnflag", "l_linestatus").distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // skew-salted join: semantics invariant to salting, so the oracle is
    // the PLAIN join — the salt is pure execution strategy
    "q_skew_salted_join" -> CatalogQuery((s, d) => {
      val li = load(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = ord(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"), saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
    },
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),

    // two-phase salted aggregation: fixed-point values make the re-ordered
    // partial sums EXACT, so the oracle is the plain GROUP BY
    "q_skew_salted_sum" -> CatalogQuery((s, d) => {
      val li = load(s, d, "lineitem")
        .select(col("l_returnflag"), round(col("l_quantity") * 100).cast("long").as("qty_cents"))
      graft.operators.Skew.saltedSum(li, Seq("l_returnflag"), "qty_cents", saltFactor = 16)
    },
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem GROUP BY 1""".stripMargin),

    // schema-drift union: an int-keyed float-priced "old writer" variant and
    // a statusful "new writer" variant consolidate into one frame — ints
    // widen to bigint, float to double, absent columns become typed NULLs;
    // pure projections over unionByName, no shuffle
    "q_union_evolve" -> CatalogQuery((s, d) => {
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
    },
      // schema-drift union replica: DuckDB re-plays the same widen-and-null
      // projections; REAL→DOUBLE is the identical IEEE widening on both sides
      """SELECT CAST(o_orderkey AS INT)::BIGINT AS o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice * 2, o_orderstatus
        |FROM orders""".stripMargin),

    // per-group top-k WITHOUT a window sort: bounded-heap aggregate
    // (LongTopK) with map-side partials — the oracle's naive global
    // row_number pins both the kept set and the (ord DESC, id ASC) ranks
    "q_group_topk" -> CatalogQuery((s, d) =>
      graft.operators.TopK.groupTopK(
        graft.sources.Events.load(s, d)
          .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"),
            col("event_id")),
        Seq("event_type"), "cents", "event_id", k = 10),
      // group-topk replica: the naive full-sort row_number the heap
      // aggregate must reproduce exactly, ties to smaller event_id
      """SELECT event_type, rank, cents, event_id FROM (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id) AS BIGINT) AS rank
        |  FROM events WHERE value IS NOT NULL) WHERE rank <= 10""".stripMargin))
}
