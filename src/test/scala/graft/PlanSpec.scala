package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, ExplainMode, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Physical-plan audits: the properties the 100 TB design depends on must
  * be visible in the plan, not assumed — filter/column pushdown into the
  * parquet scan, broadcast joins for small dimensions, the compare
  * engine's one slim alignment exchange, and whole-stage codegen over the
  * hot expressions.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queries(name)(spark, sf).queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Shuffle exchanges in a formatted plan: its `- Exchange` operator lines
    * that are not broadcasts.
    */
  private def shuffleExchanges(p: String): Int =
    p.linesIterator.count(l => l.contains("- Exchange") && !l.contains("BroadcastExchange"))

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and reused exchanges.
    */
  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
    case q: QueryStageExec => q +: collectPlans(q.plan)
    case r: ReusedExchangeExec => r +: collectPlans(r.child)
    case other => other +: other.children.flatMap(collectPlans)
  }

  /** The child of a node that changes neither keys nor cardinality
    * (projections, filters, sorts, codegen and stage wrappers).
    */
  private def narrowChild(p: SparkPlan): Option[SparkPlan] = p match {
    case w: WholeStageCodegenExec => Some(w.child)
    case i: InputAdapter => Some(i.child)
    case q: QueryStageExec => Some(q.plan)
    case r: ReusedExchangeExec => Some(r.child)
    case pr: ProjectExec => Some(pr.child)
    case f: FilterExec => Some(f.child)
    case s: SortExec => Some(s.child)
    case c: ColumnarToRowExec => Some(c.child)
    case _ => None
  }

  /** A plan that only re-reads a cached frame: an exchange over it
    * re-exchanges the cache.
    */
  @scala.annotation.tailrec
  private def reachesCache(p: SparkPlan): Boolean = p match {
    case _: InMemoryTableScanExec => true
    case other => narrowChild(other) match {
      case Some(n) => reachesCache(n)
      case None => false
    }
  }

  test("filters and projections push down to the parquet scan") {
    val p = plan("q_s1_scan_filter")
    assert(p.contains("PushedFilters:"), "expected pushed filters in scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), s"l_quantity filter not pushed:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"), "l_returnflag filter not pushed")
    // column pruning: the 11-column lineitem scan must read only 4 columns
    assert(
      p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>"),
      s"scan should read exactly the 4 projected columns:\n$p")
  }

  test("column pruning reaches the scan for aggregations") {
    val p = plan("q_agg_pricing")
    assert(
      p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_returnflag:string,l_linestatus:string>"),
      s"aggregation should scan exactly its 5 input columns:\n$p")
  }

  test("small dimension joins broadcast; large aggregations stay codegen'd") {
    assert(plan("q_s5_local_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q_j2_left_coalesce").contains("BroadcastHashJoin"),
      "small customer dim should broadcast under the left join")
    // the grouped aggregation must be partial→final around exactly ONE
    // shuffle (map-side combine) — two HashAggregates, one Exchange
    val agg = plan("q_agg_pricing")
    assert(agg.linesIterator.count(l => l.contains("HashAggregate (")) == 2,
      s"expected partial+final HashAggregate:\n$agg")
    assert(agg.linesIterator.count(l => l.contains("Exchange (")) == 1,
      s"expected exactly one shuffle:\n$agg")
  }

  test("slim alignment: only keys, a 16-byte checksum and the side tag cross the one alignment exchange; tolerance refetch is key-pruned") {
    // The 100 TB property this engine lives on: the one unavoidable wide
    // shuffle (the alignment) must carry ~30-50 bytes/row REGARDLESS of
    // table width, and full-width rows may only ever be refetched for the
    // mismatched-present key minority. A regression that re-widens the
    // alignment or drops the prune re-spills full tables at scale.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{BooleanType, LongType, StructType}
    val (src, tgt) = catalog.CompareQueries.compareScenario(spark, sf)
    val res = graft.core.Comparison.compareDataFrames(spark, src, tgt,
      graft.config.DatasetParams("plan_audit", Seq("o_orderkey"),
        graft.config.TestParams(differenceTolerance = 0.01)))
    try {
      // 1) the count frame's cached plan holds exactly ONE exchange, over
      //    both sides' (key, checksum, side tag) — and the checksum is a
      //    two-long struct (16 bytes), not a hex string (64) or sha binary
      val counts = res.cachedFrames.head
      val cachedPlan = counts.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.getOrElse(fail("the count frame must be cached"))
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val exchanges = nodes(cachedPlan).collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"the alignment must be ONE exchange:\n$cachedPlan")
      val carried = exchanges.head.output
      assert(carried.map(_.name).toSet == Set("o_orderkey", "_chk_sum", "__is_src"),
        s"the alignment exchange must be slim, carried: ${carried.map(_.name)}")
      carried.foreach { a =>
        val ok = a.name match {
          case "_chk_sum" => a.dataType match {
            case st: StructType => st.fields.length == 2 && st.fields.forall(_.dataType == LongType)
            case _ => false
          }
          case "__is_src" => a.dataType == BooleanType
          case _ => true
        }
        assert(ok, s"${a.name} has type ${a.dataType}: the checksum must be a two-long " +
          "struct (16 bytes) and the side tag a boolean")
      }
      // 2) the extracts' refetch is key-pruned: both full-width sides come
      //    in through semi joins on the mismatch key set, and the
      //    checksum-mismatch filter screens out pairs a duplicated PK
      //    would smuggle back in
      val extract = res.unmatchedRecords.values.headOption.getOrElse(
        fail("scenario must produce at least one offending column"))
      val logical = extract.queryExecution.analyzed
      val semiJoins = logical.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semiJoins.size >= 2,
        s"both refetched sides must be semi-join pruned to the mismatch keys:\n$logical")
      val mismatchFilters = logical.collect {
        case f: Filter if f.condition.toString.contains("_chk_sum_src") &&
          f.condition.toString.contains("_chk_sum_target") => f
      }
      assert(mismatchFilters.nonEmpty,
        s"no checksum-mismatch filter over the refetched pairs:\n$logical")
      def subtreeSize(p: LogicalPlan): Int = 1 + p.children.map(subtreeSize).sum
      // 3) extracts stay correct end-to-end after the refetch
      extract.queryExecution.toRdd.count()
      assert(subtreeSize(logical) > 0)
    } finally res.unpersist()
  }

  test("row-level report: a narrow projection of the count frame, zero exchanges") {
    // The report reads the per-key count frame and writes at most two rows
    // per key: no join, no aggregation, no window — so no exchange of its
    // own, whatever side of the cached-partitioning conf scope it is
    // planned on. Its only input is the count frame's cache.
    import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val res = graft.core.Comparison.compareDataFrames(spark, orders, orders,
      graft.config.DatasetParams("rowlvl_audit", Seq("o_orderkey")))
    try {
      val plan = res.rowLvlTestReport.queryExecution.executedPlan
      // the report's OWN nodes: everything above the cached scan
      def own(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => own(a.executedPlan)
        case scan: InMemoryTableScanExec => Seq(scan)
        case other => other +: other.children.flatMap(own)
      }
      val nodes = own(plan)
      assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) == 1,
        s"the report must read the count frame's cache once:\n$plan")
      assert(!nodes.exists(_.isInstanceOf[Exchange]),
        s"the row-level report must plan zero exchanges:\n$plan")
      assert(!nodes.exists(_.isInstanceOf[BinaryExecNode]),
        s"the row-level report must plan no join:\n$plan")
    } finally res.unpersist()
  }

  test("slim cached layout derives its partition count from input size, capped at shuffle partitions") {
    // r16 (guide §2.2): tiny inputs must not spread kilobyte partitions
    // over a full task wave per stage — the slim layout packs to
    // SlimPartitionBytes per partition, floored at min(4,
    // defaultParallelism) (estimate-error insurance) and capped at
    // spark.sql.shuffle.partitions. Observable on the persisted count
    // frame (cachedFrames head). A cloned session raises the
    // shuffle-partitions cap so floor and cap assert different values.
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    val orders = wide.read.parquet(s"$sf/orders.parquet")
    val res = graft.core.Comparison.compareDataFrames(wide, orders, orders,
      graft.config.DatasetParams("slim_scale_audit", Seq("o_orderkey")))
    try assert(res.cachedFrames.head.rdd.getNumPartitions ==
      math.min(4, wide.sparkContext.defaultParallelism),
      "a kilobyte-scale input must collapse the slim layout to the parallelism floor")
    finally res.unpersist()
    wide.conf.set(graft.core.Comparison.SlimPartitionBytesConf, "1")
    try {
      val res2 = graft.core.Comparison.compareDataFrames(wide, orders, orders,
        graft.config.DatasetParams("slim_scale_audit2", Seq("o_orderkey")))
      try assert(res2.cachedFrames.head.rdd.getNumPartitions == 16,
        "the derived count must cap at spark.sql.shuffle.partitions")
      finally res2.unpersist()
    } finally wide.conf.unset(graft.core.Comparison.SlimPartitionBytesConf)
  }

  test("a clean compare never refetches: one persisted count frame, no extracts") {
    // the common 100 TB regression-gate case — identical sides — must do
    // ALL its work on the slim alignment: no mismatch keys, no full-width
    // refetch, no tolerance job
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val res = graft.core.Comparison.compareDataFrames(spark, orders, orders,
      graft.config.DatasetParams("clean_audit", Seq("o_orderkey"),
        graft.config.TestParams(differenceTolerance = 0.01)))
    try {
      assert(res.overallTestReport.head().getAs[String]("test_status") == "PASSED")
      assert(res.unmatchedRecords.isEmpty)
      assertNoRefetch(res, "clean compare must not persist a refetch frame")
      assert(res.cachedFrames.size == 1,
        s"the count frame must be the only cache of a clean compare, got ${res.cachedFrames.size}")
    } finally res.unpersist()
  }

  test("50-dataset consolidation flattens to ONE Union over mixed key schemas — no deep re-analysis tree") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Union
    // the reference's consolidation loop at a REALISTIC dataset count:
    // consolidate() folds pairwise, which naively nests 49 binary Unions —
    // the optimizer must collapse them to one flat Union (CombineUnions)
    // or re-analysis cost grows with the square of the dataset count.
    // Key schemas alternate, so this also pins normalize_row_keys as the
    // mixed-schema consolidation mode.
    val results = (0 until 50).map { i =>
      val key = if (i % 2 == 0) "o_orderkey" else "vec_id"
      val rowLvl = Seq((s"ds_$i", i.toLong, 0L, "PRESENT_IN_BOTH", true))
        .toDF("dataset_name", key, "duplicate_count", "missing_row_status", "all_rows_matched")
      val overall = Seq((s"ds_$i", 1L, 1L, "PASSED"))
        .toDF("dataset_name", "source_count", "target_count", "test_status")
      val colLvl = Seq((s"ds_$i", "v", 0L))
        .toDF("dataset_name", "column_name", "unmatched_rows_count")
      graft.core.ComparisonResult(overall, rowLvl, colLvl, Map.empty)
    }
    val c = graft.jobs.ComparisonJob.consolidate(results, normalizeRowKeys = true)
    val unions = c.rowLvlTestReport.queryExecution.optimizedPlan.collect { case u: Union => u }
    assert(unions.size == 1, s"expected ONE flattened Union, got ${unions.size} Union nodes")
    assert(unions.head.children.size == 50,
      s"flat Union must carry all 50 datasets: ${unions.head.children.size}")
    // heterogeneous keys really did collapse into the shared key_json shape
    assert(c.rowLvlTestReport.columns.contains(graft.Constants.KeyJsonCol))
    assert(c.rowLvlTestReport.count() == 50 && c.overallTestReport.count() == 50)
  }

  test("row checksum derivation stays inside whole-stage codegen") {
    val p = plan("q_p3_checksum")
    assert(p.contains("[codegen id :"))
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"),
      "checksum scan should prune to key + checksummed columns")
  }

  test("one checksum route for nested columns: no xxhash64 hashes a nested value, every nested column reaches it as nested_checksum") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, XxHash64}
    import org.apache.spark.sql.functions.{array, col, lit, map, struct}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    import graft.functions.NestedHash
    val df = spark.range(4).select(col("id"),
      struct(col("id").cast("string").as("a"), lit(null).cast("string").as("b")).as("st"),
      array(col("id").cast("string"), lit(null).cast("string")).as("arr"),
      map(lit("k"), col("id")).as("m"),
      col("id").cast("string").as("flat"))
    val res = graft.core.Comparison.compareDataFrames(spark, df, df,
      graft.config.DatasetParams("nested_route_audit", Seq("id")))
    try {
      val exprs = res.cachedFrames.head.queryExecution.analyzed.flatMap(_.expressions)
      val hashes = exprs.flatMap(_.collect { case h: XxHash64 => h })
      assert(hashes.size == 4, s"two checksum halves per side: $hashes")
      val nestedInputs = hashes.flatMap(_.children).filter(_.dataType match {
        case _: StructType | _: ArrayType | _: MapType => true
        case _ => false
      })
      assert(nestedInputs.isEmpty, s"xxhash64 must not hash nested values: $nestedInputs")
      val kernelInputs = exprs.flatMap(_.collect {
        case NestedHash(a: AttributeReference, _, _) => a.name
      }).toSet
      assert(kernelInputs == Set("st", "arr", "m"), s"kernel inputs: $kernelInputs")
    } finally res.unpersist()
  }

  test("the checksum projection stays whole-stage codegen'd on a 5-level, 50-column nested schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types._
    // each column nests five containers (single-field structs, arrays,
    // string-keyed maps) over one leaf; at most 45 maps keep the schema
    // within spark.sql.codegen.maxFields, past which Spark plans no
    // whole-stage codegen over the scan whatever the expressions are
    val rng = new scala.util.Random(5)
    var mapsLeft = 45
    def level(inner: DataType): DataType = rng.nextInt(3) match {
      case 0 => StructType(Seq(StructField("f", inner)))
      case 1 => ArrayType(inner)
      case _ if mapsLeft > 0 => mapsLeft -= 1; MapType(StringType, inner)
      case _ => ArrayType(inner)
    }
    val types = Seq.fill(50)((1 to 5).foldLeft(
      Seq[DataType](StringType, IntegerType, DoubleType)(rng.nextInt(3)))((t, _) => level(t)))
    val schema = StructType(StructField("id", LongType) +:
      types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    assert(!WholeStageCodegenExec.isTooManyFields(spark.sessionState.conf, schema))
    def value(t: DataType, i: Int): Any = t match {
      case s: StructType => Row(value(s.fields.head.dataType, i))
      case a: ArrayType => Seq(value(a.elementType, i), null)
      case m: MapType => Map(s"k$i" -> value(m.valueType, i))
      case StringType => s"v$i"
      case IntegerType => i
      case _ => i * 0.5
    }
    val rows = (0 until 6).map(i => Row.fromSeq(i.toLong +: types.map(value(_, i))))
    // an RDD source, so the projection is planned rather than folded into a
    // local relation on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val res = graft.core.Comparison.compareDataFrames(spark, df, df,
      graft.config.DatasetParams("deep_wide_audit", Seq("id")))
    try {
      assert(res.overallTestReport.head().getAs[String]("test_status") == "PASSED")
      val cachedPlan = res.cachedFrames.head.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.getOrElse(fail("the count frame must be cached"))
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      def checksums(p: SparkPlan): Boolean = p match {
        case proj: ProjectExec => proj.projectList.exists(_.toString.contains("nested_checksum"))
        case _ => false
      }
      val all = nodes(cachedPlan)
      val stages = all.collect {
        case w: WholeStageCodegenExec if w.child.collect { case p if checksums(p) => p }.nonEmpty => w
      }
      assert(stages.size == 2 && all.count(checksums) == 2,
        s"each side's checksum projection must sit inside a codegen stage:\n$cachedPlan")
      // a stage whose largest compiled method passes the huge-method limit
      // falls back to interpreted execution at run time
      stages.foreach { w =>
        val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
        assert(stats.maxMethodCodeSize <= spark.sessionState.conf.hugeMethodLimit,
          s"largest generated method: ${stats.maxMethodCodeSize} bytes")
      }
    } finally res.unpersist()
  }

  test("bucketed tables join co-located: zero exchanges in the plan") {
    import graft.sources.IoUtils
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '/tmp/graft-bucket-wh'")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      IoUtils.writeBucketed(
        spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_totalprice"),
        "graft_buckets.b_orders", Seq("o_orderkey"), numBuckets = 8)
      IoUtils.writeBucketed(
        spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_quantity"),
        "graft_buckets.b_lineitem", Seq("l_orderkey"), numBuckets = 8)
      val j = spark.table("graft_buckets.b_orders")
        .join(
          spark.table("graft_buckets.b_lineitem"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
      assert(!p.contains("Exchange ("),
        s"bucketed join must not shuffle — the write already co-located it:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"expected bucketed scan:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graft_buckets.b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_buckets.b_lineitem")
    }
  }

  test("ANN plans: LSH weights broadcast-join; IVF assignment broadcasts the centroid table") {
    // LSH: the per-position weights table must come in via broadcast — the
    // corpus is never shuffled to meet it
    val lsh = plan("q_sim_lsh_topk")
    assert(lsh.contains("BroadcastHashJoin"), s"expected broadcast weights join:\n$lsh")
    // IVF: cell assignment is a broadcast cross join against the (tiny)
    // pivot table — the corpus side stays un-shuffled until the per-cell
    // candidate join
    val ivf = plan("q_sim_ivf_topk")
    assert(ivf.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid assignment:\n$ivf")
    // Corpus-side cell assignment must NOT be a window over the
    // corpus×centroid cross-join — that shape shuffles AND sorts an
    // nlist×-exploded copy of the corpus. The argmax is a hash aggregate
    // (partial agg inside the cross-join's stage); the only windows left
    // are the small query-side probe and the final per-query top-k.
    val windows = ivf.linesIterator.count(_.contains("Window ("))
    assert(windows <= 2, s"corpus assignment reintroduced a window ($windows found):\n$ivf")
  }

  test("embedding near-dup pair join keys on (block, chunk, chunk) — parallelism not bound by block cardinality") {
    // The self-join must hash-partition by the sub-chunk keys, not the block
    // alone: with only the block in the join keys, parallelism collapses to
    // the number of distinct blocks (10 labels = 10 tasks on any cluster).
    val p = plan("q_dedup_embedding")
    // formatted explain prints equi-join keys as "Left/Right keys [..]"
    // lines. blk-only joins also exist (the chunk-count join-back, a
    // 1-row-per-block lookup); the PAIR join is the one carrying all three
    // keys — its presence pins that pair work partitions by sub-chunk.
    val keyLines = p.linesIterator.filter(l => l.contains("keys") && l.contains("blk")).toSeq
    assert(keyLines.nonEmpty, s"no equi-join on blk found — plan shape changed:\n$p")
    assert(keyLines.exists(l => l.contains("__ci") && l.contains("__cj")),
      s"no join keyed on (blk, __ci, __cj) — pair parallelism is back to block cardinality: $keyLines")
  }

  test("AQE on the mismatch refetch: a hot duplicated, mismatched key's inner join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // The one quadratic path left in the engine: the refetch rebuilds the
    // M·N pairs of a mismatched key through prune(src) ⋈ prune(tgt). Skew
    // thresholds low enough that one hot key trips detection at test scale;
    // auto-broadcast off so that join shuffles like it would at 100 TB.
    val s = spark.newSession()
    Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1").foreach { case (k, v) => s.conf.set(k, v) }
    // key 0 duplicated 300 times per side, every pair mismatched, among 200
    // keys with one mismatched row per side
    val src = s.range(300).select(lit(0L).as("k"), col("id").as("v"))
      .union(s.range(1, 201).select(col("id").as("k"), col("id").as("v")))
    val tgt = src.select(col("k"), (col("v") + 1000000L).as("v"))
    val res = graft.core.Comparison.compareDataFrames(s, src, tgt,
      graft.config.DatasetParams("skew", Seq("k")))
    try {
      val afterTolerance = refetchFrames(res).headOption
        .getOrElse(fail("the mismatched keys must refetch"))
      val cachedPlan = afterTolerance.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.getOrElse(fail("the tolerance frame must be cached"))
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      // AQE plans the refetch inside the persisted tolerance frame (the
      // cached-layout scope turns off only final-stage coalescing there)
      // and splits the hot key's partition on both sides of the inner join
      val joins = nodes(cachedPlan).collect { case j: SortMergeJoinExec => j }
      assert(joins.map(j => (j.joinType.toString, j.isSkewJoin)) == Seq(("Inner", true)),
        s"expected AQE to split the refetch's inner join (skew=true):\n$cachedPlan")
      // the split neither drops nor duplicates a pair: all 300·300 + 200
      // pairs report their one column unmatched
      assert(res.colLvlTestReport.collect().map(r => r.getString(1) -> r.getLong(2)).toSeq ==
        Seq("v" -> 90200L))
    } finally res.unpersist()
  }

  test("rangeJoin plans an equi-join on (keys, bin) — not a nested-loop or pure-filter join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val points = spark.range(0, 10000)
      .select(col("id").as("pid"), (col("id") % 50).as("k"), (col("id") * 7 % 100000).as("ts"))
    val intervals = spark.range(0, 500)
      .select(col("id").as("iid"), (col("id") % 50).as("k"),
        (col("id") * 191 % 90000).as("s"), (col("id") * 191 % 90000 + 800).as("e"))
    val p = graft.operators.Temporal
      .rangeJoin(points, intervals, Seq("k"), "ts", "s", "e", binWidth = 1000)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a cross product:\n$p")
    // the bin column participates in the JOIN KEYS (equi-join), and the
    // residual BETWEEN survives as a post-join condition
    assert(p.contains("__bin"), s"bin key missing from the plan:\n$p")
    assert(p.contains("Join") && (p.contains("SortMergeJoin") || p.contains("HashJoin")),
      s"expected a hash/sort-merge equi-join:\n$p")
  }

  test("curation pipeline: quality gates evaluate scan-side, one exchange feeds the dedup") {
    val p = Queries.queries("q_curate")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // junk never ships: the n_chars/n_tokens/ratio filters sit under the
    // first Exchange (they appear as Filter over the scan-side project)
    val firstExchange = p.indexOf("Exchange")
    val firstFilter = p.indexOf("Filter")
    assert(firstExchange > 0 && firstFilter > 0,
      s"expected a Filter and an Exchange in the curate plan:\n$p")
    // per-fingerprint min is partial (map-side) before its shuffle
    assert(p.contains("HashAggregate"), s"expected hash aggregation for the dedup:\n$p")
  }

  test("partitioned writes prune partitions at the scan (PartitionFilters, no full read)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.sources.IoUtils.writePartitioned(docs, s"$tmp/docs", Seq("lang"))
    val read = spark.read.parquet(s"$tmp/docs").filter(col("lang") === "de")
    val p = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang filter must prune partitions, not scan them:\n$p")
    // pruning is real: of the several lang= directories written, the scan
    // selects exactly ONE
    val selected = read.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    val allParts = new java.io.File(s"$tmp/docs").listFiles().count(_.getName.startsWith("lang="))
    assert(allParts >= 3, s"fixture should produce several lang partitions, got $allParts")
    assert(selected == 1, s"expected exactly the lang=de partition, scanned $selected of $allParts")
    assert(read.count() == docs.filter(col("lang") === "de").count())
  }

  test("incremental dedup anti-join broadcasts a small seen set (AQE)") {
    import org.apache.spark.sql.functions._
    val dd = spark.read.parquet(s"$sf/documents.parquet")
    val seen = dd.limit(50)
      .select(graft.functions.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val q = graft.operators.Dedup.dropSeenDocuments(dd, "text", seen)
    q.queryExecution.toRdd.count() // AQE decides broadcast at runtime
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"a 50-row seen set must broadcast, not shuffle the corpus:\n$p")
  }

  test("vocabulary top-k plans TakeOrderedAndProject — no full-vocabulary global sort") {
    val p = Queries.queries("q_text_vocab")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must ship per-partition top-k, not Sort the vocabulary:\n$p")
    assert(p.linesIterator.count(_.contains("Sort (")) == 0,
      s"no materialized global sort expected:\n$p")
  }

  test("oov-bigram score: vocab plans TakeOrderedAndProject, scoring is a shuffle-free projection") {
    val p = plan("q_text_oov")
    assert(p.contains("TakeOrderedAndProject"),
      s"bigram vocab top-k must ship per-partition top-k, not Sort the bigram table:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the single-row vocab array must broadcast under the scoring pass:\n$p")
    assert(p.contains("char_bigrams"),
      s"bigram generation must run the codegen'd kernel, not an interpreted HOF:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join expected anywhere in the scoring pass:\n$p")
    assert(shuffleExchanges(p) == 1,
      s"only the vocab aggregation may shuffle — scoring must stay in-row:\n$p")
  }

  test("linear classifier: corpus scoring is an in-row fold — zero corpus-side shuffles") {
    val p = plan("q_text_classify")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the single-row weights map must broadcast under the scoring pass:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no per-token join expected — scoring is an in-row fold:\n$p")
    // exactly one non-broadcast exchange: the LEXICON's two-phase
    // collect_list fold (tiny by contract). The corpus side feeds the BNLJ
    // probe straight from the scan — Scan parquet → Project → join, no
    // exchange between them.
    assert(shuffleExchanges(p) == 1,
      s"only the lexicon map-fold may shuffle — corpus scoring must stay in-row:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("Scan parquet"),
      s"sanity: plan must show both sides:\n$p")
  }

  // NOTE: incrementalMinhashLinks' history semi-join prune is structural in
  // the code but NOT plan-observable here — tokenSets' lazy localCheckpoint
  // truncates lineage, so the pruned subtree shows as an RDD scan. The
  // behavior (history tokenized only for candidates) is asserted by the
  // operator's construction order, covered by OperatorsSpec/StreamingSpec.

  test("bm25: top-k is TakeOrderedAndProject; the corpus dl frame joins without shuffling") {
    val p = plan("q_text_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must ship per-partition top-k, not sort the candidates:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the tf side must broadcast into the document-length join — no shuffle join:\n$p")
    assert(p.contains("isin") || p.contains("IN ("),
      s"the query bag must filter scan-side:\n$p")
  }

  test("epochMix is a pure scan-side explode — no shuffle, no join") {
    val p = plan("q_sample_epochs")
    assert(p.contains("Generate"), s"the epoch explode must appear:\n$p")
    assert(!p.contains("- Exchange") && !p.contains("Join"),
      s"mixture materialization must not shuffle or join:\n$p")
  }

  test("despans: the vote shuffles window hashes; probe joins hash-build on the dup minority, never sort") {
    // the first-occurrence vote partitions by the 128-bit window hash —
    // window TEXT never shuffles; the meta and covered-position frames are
    // the duplicate minority and are HINTED shuffle-hash (left to AQE the
    // strategy flipped run-to-run between broadcast and a full-stream
    // sort-merge — the SMJ mode sorted the whole window stream, bimodal
    // 14 s / 38 s at the sf10 rung)
    val q = Queries.queries("q_text_despans")(spark, sf)
    q.queryExecution.toRdd.count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"probe joins must hash-build on the duplicate-minority side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"neither the window stream nor the corpus may sort for the probe joins:\n$p")
  }

  test("pagerank iteration: the cached 2|E| adjacency is never re-exchanged or sorted") {
    // the columnar cache is hash(src)-partitioned + sorted at build; with
    // canChangeCachedPlanOutputPartitioning=false every iteration join
    // must consume it in place — the sf10 pathology this pins re-exchanged
    // all 239M adjacency rows per iteration through a lazy checkpoint's
    // UnknownPartitioning. The graph loops never set the key, so they rely
    // on Spark's default: a fresh session must read "false", and the plan
    // below is checked at the session default (a Spark upgrade that flips
    // it fails here instead of re-exchanging 2|E| rows every round).
    val cachedLayoutKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert(spark.newSession().conf.get(cachedLayoutKey) == "false",
      "Spark's default for the cached-layout conf changed")
    assert(spark.conf.get(cachedLayoutKey) == "false")
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val pairs = spark.range(4000).selectExpr("id % 500 AS pa", "(id * 7 + 1) % 500 AS pb")
      .filter("pa != pb")
    val g = graft.operators.Graphs.buildPrGraph(pairs, "pa", "pb", 1000000000000L)
    // ranks are checkpointed between iterations in production — without
    // it the rank-side exchange's lineage reaches back into the nodes
    // cache and would read as a (false) cache re-exchange here
    val step = graft.operators.Graphs.prStep(
      graft.operators.Graphs.prInit(g).localCheckpoint(false), g, dampPpm = 850000L)
    step.queryExecution.toRdd.count() // final AQE plan
    val all = collectPlans(step.queryExecution.executedPlan)
    val cachedScans = all.collect { case s: InMemoryTableScanExec => s }
    assert(cachedScans.nonEmpty, "iteration must read the adjacency/node caches")
    // a cached frame is "re-exchanged" when an exchange's NARROW child
    // chain (projections/filters/sorts only — nothing that changes keys
    // or cardinality) ends at a cached scan; the contribution
    // aggregation's exchange above the join is legitimate (it ships
    // |V|-bounded partial aggregates), so subtree containment alone
    // would over-flag (see [[reachesCache]])
    all.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!reachesCache(e.child),
        s"cached adjacency/node frame re-exchanged in the iteration plan:\n$e")
    }
    // the base rank is a literal: no one-row aggregate is cross-joined
    // (a nested-loop join) into the iteration
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    assert(all.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"iteration plan cross-joins a base-rank frame:\n${step.queryExecution.executedPlan}")
    spark.catalog.clearCache()
  }

  test("pagerank iteration at an intermediate layout: both round exchanges land on the adjacency's layout") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.operators.Graphs
    // 1 < n < shuffle partitions: the advisory size set to a third of the
    // input estimate gives 3 of 8. Broadcasts are off, so the contribution
    // join must meet the cached adjacency on its layout.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pairs = s.range(4000).selectExpr("id % 500 AS pa", "(id * 7 + 1) % 500 AS pb")
      .filter("pa != pb")
    val estimate = pairs.queryExecution.optimizedPlan.stats.sizeInBytes * 2
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", ((estimate + 2) / 3).toString)
    val g = Graphs.buildPrGraph(pairs, "pa", "pb", 1000000000000L)
    try {
      assert(g.parts == 3, s"layout of ${g.parts} partitions")
      // the second step: its rank input is a checkpointed step, as in the loop
      val ranks = Graphs.prStep(Graphs.prInit(g).localCheckpoint(false), g, 850000L)
        .localCheckpoint(false)
      val step = Graphs.prStep(ranks, g, 850000L)
      step.queryExecution.toRdd.count() // final AQE plan
      val all = collectPlans(step.queryExecution.executedPlan)
      val exchanges = all.collect { case e: ShuffleExchangeExec => e }
      exchanges.foreach(e => assert(!reachesCache(e.child), s"adjacency re-exchanged:\n$e"))
      // two exchanges, both at the layout's count: the checkpointed rank
      // frame (a checkpoint under AQE reports no partitioning) onto the
      // adjacency's layout, and the contributions onto their receiving
      // node. At the shuffle-partition count the first would re-exchange
      // the adjacency too, and no join with the node cache sits above the
      // round aggregate.
      assert(exchanges.map(_.outputPartitioning.numPartitions) == Seq(3, 3),
        s"exchanges:\n${exchanges.mkString("\n")}")
      assert(all.collect { case j: BaseJoinExec => j }.size == 1,
        s"one join per round:\n${step.queryExecution.executedPlan}")
      val scans = all.collect { case t: InMemoryTableScanExec => t }
      assert(scans.nonEmpty && scans.forall(_.output.map(_.name).contains("dst")),
        s"the round reads the adjacency cache and no other:\n${step.queryExecution.executedPlan}")
    } finally {
      g.adj.unpersist(false)
      g.nodes.unpersist(false)
    }
  }

  test("the catalog index holds 159 distinct names; a name two families share throws") {
    // every registration carries its oracle by type, so the index only has
    // to keep names distinct: a plain toMap would drop one of two
    // registrations that share a name
    assert(SparkEntry.queries.size == 159 && SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val q = catalog.CatalogQuery((s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val e = intercept[IllegalArgumentException](
      Queries.index(Seq(Seq("q_a" -> q, "q_b" -> q), Seq("q_b" -> q))))
    assert(e.getMessage.contains("q_b") && !e.getMessage.contains("q_a"), e.getMessage)
  }

  test("quantile gate: bounds broadcast back over the corpus — corpus side never shuffles") {
    val p = plan("q_curate_qgate")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group bounds must broadcast, not shuffle-join the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join expected:\n$p")
    // the only exchange feeds the grouped quantile aggregation (bounds side)
    assert(shuffleExchanges(p) == 1,
      s"only the bounds aggregation may shuffle:\n$p")
  }

  test("bloom-pruned semi join: might_contain filters the big side below any exchange") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = Queries.queries("q_j5_bloom_semi")(spark, sf).queryExecution.sparkPlan
    val bloomFilter = sp.collectFirst {
      case f: FilterExec if f.condition.find(_.isInstanceOf[BloomFilterMightContain]).isDefined => f
    }
    assert(bloomFilter.isDefined, s"expected a might_contain filter in the plan:\n$sp")
    assert(bloomFilter.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the bloom prune must run scan-side, BELOW the big side's exchange:\n$sp")
    assert(bloomFilter.get.toString.contains("Scan parquet"),
      s"the bloom prune must sit directly over the big-side scan:\n$sp")
  }

  test("decontamination broadcasts the eval shingle set and the contaminated-id set (AQE)") {
    import org.apache.spark.sql.functions._
    val dd = spark.read.parquet(s"$sf/documents.parquet")
    val eval = dd.filter(col("doc_id") % 50 === 0)
    val q = graft.operators.Dedup.decontaminate(
      dd.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", eval, "text")
    q.queryExecution.toRdd.count() // AQE decides broadcast at runtime
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the small eval shingle set must broadcast into the probe:\n$p")
    assert(p.contains("LeftAnti"),
      s"survivors must come from an anti-join against the tiny contaminated set:\n$p")
  }

  test("semantic decontamination: eval probe broadcasts by hint; contaminated anti-join AQE-sizes") {
    // The eval bucket frame is benchmark-suite-sized BY CONTRACT, so its
    // broadcast is hinted and plan-intrinsic (visible pre-AQE). The
    // contaminated-id set is NOT hinted — it scales with corpus
    // contamination, not eval size, and an unconditional hint would
    // driver-OOM on a dirty corpus — so its anti-join is AQE-sized: on
    // this small fixture the runtime plan must still converge to a
    // broadcast LeftAnti (no corpus shuffle).
    import org.apache.spark.sql.functions._
    val ee = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.operators.Similarity.semanticDecontaminate(
      ee.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
      ee.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, numTables = 4)
    val pre = q.queryExecution.sparkPlan.toString
    assert(pre.contains("BroadcastHashJoin"),
      s"the eval bucket frame must broadcast into the probe without AQE:\n$pre")
    q.queryExecution.toRdd.count() // AQE sizes the contaminated set at runtime
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"a small contaminated set must broadcast the anti-join under AQE:\n$p")
  }

  test("AQE-off: broadcast-dependent plans degrade safely, plan-intrinsic ones hold") {
    // Several scale claims lean on AQE's runtime broadcast of DERIVED small
    // sides (a limit'd seen-set, an exploded eval shingle set) whose static
    // size estimates are unreliable at 100 TB. This pins which properties
    // are plan-intrinsic vs AQE-dependent — and that correctness NEVER
    // depends on AQE either way.
    import org.apache.spark.sql.functions._
    val dd = spark.read.parquet(s"$sf/documents.parquet")
    val seen = dd.limit(50)
      .select(graft.functions.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    def dropSeen() = graft.operators.Dedup.dropSeenDocuments(dd, "text", seen)
    def decon() = graft.operators.Dedup.decontaminate(
      dd.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      dd.filter(col("doc_id") % 50 === 0), "text")
    val onSeen = dropSeen().count()
    val onDecon = decon().count()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // PLAN-INTRINSIC: the quantile gate's bounds side is a static
      // aggregation whose size estimate the planner can bound without AQE —
      // the broadcast survives, no shuffle join appears.
      val qg = plan("q_curate_qgate")
      assert(qg.contains("BroadcastHashJoin") && !qg.contains("SortMergeJoin"),
        s"quantile-gate bounds broadcast must not depend on AQE:\n$qg")

      // AQE-DEPENDENT (documented fallback): the seen-set and eval-shingle
      // broadcasts are guaranteed at scale only by AQE's runtime sizing;
      // with AQE off the planner falls back on static estimates — whatever
      // join it picks, the ANSWER must not change.
      val offSeen = dropSeen()
      assert(offSeen.count() == onSeen, "dropSeenDocuments answer changed with AQE off")
      assert(offSeen.queryExecution.executedPlan.toString.contains("LeftAnti"))
      val offDecon = decon()
      assert(offDecon.count() == onDecon, "decontaminate answer changed with AQE off")
      assert(offDecon.queryExecution.executedPlan.toString.contains("LeftAnti"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dupspans: count-then-probe — window counts broadcast at test scale, SMJ fallback beyond") {
    // Default plan: the aggregated count table broadcasts back over the
    // window stream (no raw-row concentration on a hot window — the count
    // side partial-combines map-side).
    val p = plan("q_text_dupspans")
    assert(p.contains("BroadcastHashJoin"),
      s"the window-count table must broadcast while it fits:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no non-equi join expected:\n$p")
    // 100 TB fallback (count table too big to broadcast): a sort-merge
    // join on the window key — the shape AQE can skew-split — with
    // exactly three shuffles (probe-by-win, count-by-win, stats-by-doc).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = plan("q_text_dupspans")
      assert(p2.contains("SortMergeJoin"), s"expected the SMJ fallback:\n$p2")
      assert(shuffleExchanges(p2) == 3,
        s"exactly three shuffles expected in the no-broadcast shape:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("unigram surprisal: corpus total broadcasts as one row; cost table broadcasts while it fits") {
    val p = plan("q_text_unigram_ppl")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the single-row corpus total must broadcast under the cost projection:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-token cost table must broadcast back over the token stream:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product expected:\n$p")
  }

  test("PQ ADC: codebook and query LUT broadcast; raw vectors never shuffle for scoring") {
    val p = plan("q_sim_pq_topk")
    // every join in the pipeline is a broadcast: codebook into encode,
    // codebook into the LUT, LUT into the encoded corpus
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffle join or cross product expected anywhere:\n$p")
    // scoring shuffles only the (cand, subsp, code) aggregation and the
    // top-k window — the embedding scan feeds encode/LUT via broadcasts
    assert(shuffleExchanges(p) <= 4,
      s"too many shuffles for the ADC pipeline:\n$p")
  }

  test("IVF-PQ composition: centroids, LUT and candidate pairs all broadcast; no cross product") {
    // The composed layout must inherit both halves' plan shapes: IVF's
    // centroid table broadcasts into probe/assign, PQ's codebook and LUT
    // broadcast into encode/scoring, and the ADC is restricted to the IVF
    // candidate pairs — no CartesianProduct anywhere, and the only
    // sort-merge joins allowed are the pair-building equi-joins.
    val p = plan("q_sim_ivfpq_topk")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the composition must never cross-join query x corpus:\n$p")
  }

  test("hash sampling pushes column pruning to the scan and adds no exchange") {
    val p = Queries.queries("q_sample_hash")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"sampling must not widen the scan:\n$p")
    assert(!p.contains("Exchange"), s"a pure filter sample must not shuffle:\n$p")
  }

  test("weighted sampling is a scan-side filter: pruned columns, no exchange before the summary agg") {
    val raw = graft.operators.Sampling.weightedSample(
      spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang", "n_chars"),
      "doc_id", "n_chars", fraction = 0.2, refWeight = 1000, salt = "wsamp", granularity = 1000)
    val p = raw.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"weighted sampling must not widen the scan:\n$p")
    assert(!p.contains("Exchange"), s"the weighted keep-decision is a pure filter — no shuffle:\n$p")
  }

  test("grouping sets plans one Expand of exactly 3 projections (marginals + total, no fine cells)") {
    val p = plan("q_a8_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets should plan an Expand:\n$p")
    // the Expand's Arguments line lists one bracketed projection per
    // grouping set, each ending in its spark_grouping_id literal — exactly
    // 3 replicas (two marginals + grand total), not cube's 4
    val expandArgs = p.linesIterator
      .dropWhile(!_.trim.startsWith("(2) Expand"))
      .find(_.trim.startsWith("Arguments:"))
      .getOrElse(fail(s"no Expand Arguments line:\n$p"))
    val nReplicas = ", \\d+\\], \\[|, \\d+\\]\\]".r.findAllIn(expandArgs).length
    assert(nReplicas == 3, s"expected 3 grouping-set replicas, got $nReplicas:\n$expandArgs")
    // one partial+final aggregate pair around one shuffle, as for cube
    assert(p.linesIterator.count(_.contains("HashAggregate (")) == 2, s"partial+final agg:\n$p")
  }

  test("repetition stats are a pure in-row projection: no exchange, no generate") {
    val p = Queries.queries("q_text_repetition")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"repetition signals must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"repetition signals must not explode rows:\n$p")
  }

  test("approxProfile has no Expand node; exact profile pays one per multi-distinct") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    def planOf(df: DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val exact = planOf(graft.core.Profiling.profileAgg(li, None))
    assert(exact.contains("Expand"),
      s"multi-column exact countDistinct should plan an Expand (the map-stage replication approxProfile avoids):\n$exact")
    val approx = planOf(graft.core.Profiling.profileAgg(li, Some(0.05)))
    assert(!approx.contains("Expand"),
      s"approx_count_distinct must not Expand the input:\n$approx")
    // still the one-scan/one-shuffle shape: partial+final agg, single Exchange
    assert(approx.linesIterator.count(_.contains("Exchange (")) == 1,
      s"approx profile should shuffle fixed-size sketches exactly once:\n$approx")
  }

  test("histogram is one scan + one <=nBins-group shuffle with map-side combine") {
    val p = plan("q_profile_hist")
    assert(p.linesIterator.count(_.contains("HashAggregate (")) == 2,
      s"expected partial+final HashAggregate (map-side combine to <=nBins rows):\n$p")
    assert(p.linesIterator.count(_.contains("Exchange (")) == 1,
      s"histogramming a column must shuffle exactly once:\n$p")
  }

  test("changelog merge: latest-per-key is a struct-max agg (no window sort), one shuffle each side") {
    val p = plan("q_events_changelog")
    assert(!p.contains("Window"),
      s"latestByKey must plan max(struct), never a row_number window sort:\n$p")
    // partial+final max(struct) per latestByKey call (snapshot + changelog);
    // struct buffers aren't hash-aggregable, so Spark plans SortAggregate —
    // the partial (pre-shuffle) halves are what the scale claim rests on
    assert(p.linesIterator.count(_.contains("SortAggregate (")) == 4,
      s"expected two partial+final struct-max aggregations:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange (")) == 2,
      s"each side must shuffle exactly once:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"the merge join must key-partition both sides:\n$p")
  }

  test("per-group top-N plans WindowGroupLimit: k-row heaps before the shuffle") {
    val p = plan("q_w3_topn_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter must rewrite to WindowGroupLimit (map-side k-row heap per group), " +
        s"not a full window sort of the table:\n$p")
    // both the partial (pre-shuffle) and final limit should appear
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected partial+final WindowGroupLimit:\n$p")
  }

  test("semi and anti joins ship key-only build sides") {
    val semi = plan("q_j3_semi")
    assert(semi.contains("LeftSemi"), s"expected a left-semi join:\n$semi")
    // the orders side must be pruned to the single join key — no payload
    // columns cross the exchange
    assert(semi.contains("ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>"),
      s"semi-join build side should scan only key + pushed filter column:\n$semi")
    assert(semi.contains("EqualTo(o_orderstatus,F)"),
      s"status filter must reach the orders scan:\n$semi")
    val anti = plan("q_j4_anti")
    assert(anti.contains("LeftAnti"), s"expected a left-anti join:\n$anti")
    assert(anti.contains("ReadSchema: struct<o_custkey:bigint>"),
      s"anti-join build side should scan exactly the join key:\n$anti")
  }

  test("gap-fill: no span self-join; both shuffles carry aggregate-granularity rows") {
    val p = plan("q_events_gapfill")
    // two exchanges by design: the (user, hour) aggregation shuffles with
    // map-side partial combine (exchange volume = distinct (user, hour)
    // per map task, not raw events), then the window re-keys the already-
    // aggregated frame by user. Raw events never cross an exchange twice.
    assert(p.linesIterator.count(_.contains("Exchange (")) == 2,
      s"expected agg shuffle + window re-key, nothing more:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate (")) == 2,
      s"the event aggregation must partial-combine map-side:\n$p")
    assert(!p.contains("Join"), s"gap-fill must not plan a span join:\n$p")
    assert(p.contains("Generate"), s"expected the sequence explode:\n$p")
  }

  test("SCD2 history and rolling anomaly are single-shuffle window stages") {
    for (q <- Seq("q_events_scd2", "q_events_anomaly")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Exchange (")) == 1,
        s"$q must shuffle exactly once (one window key):\n$p")
      assert(!p.contains("Join"), s"$q must not plan a join:\n$p")
    }
  }

  test("compaction planner windows over the listing with one shuffle, no join") {
    val p = plan("q_layout_compact")
    assert(p.linesIterator.count(_.contains("Exchange (")) == 1,
      s"one shuffle on the partition key:\n$p")
    assert(!p.contains("Join"), s"planner must not join:\n$p")
  }

  test("TF-IDF retrieval: term filter at the explode, broadcast df rejoin, top-k heap") {
    val p = plan("q_text_rank")
    assert(p.contains("BroadcastHashJoin"),
      s"df frame (≤|query terms| rows) must broadcast back onto tf:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded heap, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in retrieval justifies a shuffle join:\n$p")
  }

  test("incremental partials: map-side combine on raw rows; merge touches state only") {
    val p = plan("q_agg_incremental")
    // two aggregations (partial per-bucket, merge per-key), each planned
    // partial+final → 4 HashAggregates, 2 exchanges, still no join
    assert(p.linesIterator.count(_.contains("Exchange (")) == 2,
      s"bucket agg + merge agg, nothing more:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate (")) == 4,
      s"both aggregations must partial-combine map-side:\n$p")
    assert(!p.contains("Join"), s"no join in the state fold:\n$p")
  }

  test("HLL sketch: every aggregation partial-combines map-side; the exact side broadcasts") {
    val p = plan("q_sketch_hll")
    // partial (status,bucket,reg), merge (status,reg), estimate (status),
    // countDistinct (2-phase) — each a partial+final HashAggregate pair; at
    // 100 TB the raw rows collapse to ≤ m rows per key on the map side
    // before any shuffle, so no aggregation may plan single-phase
    val aggs = p.linesIterator.count(_.contains("HashAggregate ("))
    assert(aggs % 2 == 0 && aggs >= 6,
      s"expected paired partial+final HashAggregates throughout:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-row exact_distinct side must broadcast, never shuffle the sketch:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join in the sketch fold:\n$p")
  }

  test("CMS estimate: counter matrix broadcasts to the candidates; no cross product") {
    val p = plan("q_sketch_cms_heavy")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=depth*width counter table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cross product in the point query:\n$p")
  }

  test("interval union: both window passes and the island agg share ONE shuffle") {
    val p = plan("q_events_intervals")
    // hashpartitioning(user_id) satisfies the (user_id, island) clustering,
    // so running-max, boundary-sum AND the island aggregation reuse the one
    // exchange — the single-shuffle claim that makes a 100 TB log flattenable
    assert(p.linesIterator.count(_.contains("Exchange (")) == 1,
      s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Join"), s"no self-join in gaps-and-islands:\n$p")
  }

  test("PMI: pair extraction is in-row — every Generate feeds an aggregate, no position self-join") {
    val p = plan("q_text_pmi")
    // the pair and unigram explodes appear once per consuming branch (uni
    // ×3: c1, c2, totals; pairs ×2: counts, totals — Catalyst recomputes
    // shared subtrees), but each Generate flows straight into a hash
    // aggregate: a position-self-join formulation (the oracle's shape)
    // would instead join two exploded position streams against each other
    val generates = p.linesIterator.count(_.contains("Generate ("))
    assert(generates <= 5, s"unexpected extra explodes ($generates):\n$p")
    // vocabulary joins broadcast/hash on the token; nothing sort-merges two
    // token-position streams, and the only nested-loop is the 1-row totals
    assert(!p.contains("SortMergeJoin"), s"no position stream join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
  }

  test("negative sampling: ring rotations are plain equi-joins, never a cross product") {
    val p = plan("q_sample_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rotation must be an equi-join on the target rank:\n$p")
  }

  test("graph profile: data joins stay equi; PageRank top-k is a bounded TakeOrdered") {
    val p = plan("q_graph_profile")
    // BroadcastNestedLoopJoin appears ONLY for the one-row stat crossJoins
    // (repo convention: crossJoins are broadcast singletons); a
    // CartesianProduct would mean a data-sized cross product leaked in
    assert(!p.contains("CartesianProduct"),
      s"wedge propagation must stay equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected real equi-joins for edge/degree propagation:\n$p")
    assert(!p.contains("Window"), s"no window operator in the plan:\n$p")
    // pageRank's iterations sit behind per-round localCheckpoints (the
    // log-lineage trick), so its visible plan is the top-k consumer: a
    // distributed TakeOrderedAndProject over the checkpointed ranks —
    // per-partition heaps, never a global sort
    val pr = plan("q_graph_pagerank")
    assert(pr.contains("TakeOrderedAndProject"),
      s"top-k centrality must be a bounded TakeOrdered:\n$pr")
    assert(!pr.contains("Exchange rangepartitioning"),
      s"no global sort for a k-row result:\n$pr")
  }

  test("kmeans: centroids broadcast into the corpus pass; argmin is an aggregation, not a window") {
    val p = plan("q_cluster_kmeans")
    // the N·k distance relation exists only inside the broadcast
    // nest-loop stage; a CartesianProduct would shuffle it, a Window
    // would shuffle AND sort it
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid table must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no data-sized cross product:\n$p")
    assert(!p.contains("Window"), s"argmin must be min(struct) aggregation, not a window:\n$p")
    // the argmin is partial+final SortAggregate around exactly one
    // exchange (struct buffers aren't hash-aggregable); the centroid
    // refinement rounds hide behind the per-round lazy localCheckpoints
    // (visible as the broadcast ExistingRDD build side)
    assert(p.contains("SortAggregate"),
      s"min(struct) argmin should plan as SortAggregate:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"final centroids should come from the checkpointed round frame:\n$p")
  }

  test("kCore: the released result is a bare checkpoint scan — no graph state left in the plan") {
    // incremental peeling maintains the degree frame across rounds behind
    // per-round localCheckpoints (the PageRank log-lineage trick), and
    // kCoreReleased materializes the final core before releasing the base
    // persist and degree checkpoint — so the consumer-visible plan is a
    // pure scan of the small result RDD: no aggregation, no join, no
    // window, nothing that could re-touch the |E|-row graph
    val p = plan("q_graph_kcore")
    assert(p.contains("Scan ExistingRDD"),
      s"released kCore result must read its own materialized checkpoint:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"no residual aggregation/join may hang off the released result:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"no window or cross product in the core result plan:\n$p")
  }

  test("fingerprint compare: per-side partial+final aggregation; no raw-row join") {
    val p = plan("q_compare_fingerprint")
    // each side collapses to <= buckets rows BEFORE the join — the raw
    // tables must never meet; the only join input is aggregate output
    assert(p.linesIterator.count(_.contains("- HashAggregate")) >= 4,
      s"expected partial+final fingerprint aggregation on both sides:\n$p")
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin"))
      .orElse(p.linesIterator.find(_.contains("ShuffledHashJoin")))
    assert(joinLine.isDefined && joinLine.get.contains("FullOuter"),
      s"bucket verdicts need a full-outer join of the two fingerprint tables:\n$p")
    // column pruning: the 9-column orders scan reads only the 5 hashed cols
    assert(!p.contains("o_totalprice"), s"excluded price column must not be read:\n$p")
  }

  test("retention: per-user set aggregation, explode, final count — no cohort self-join") {
    val p = plan("q_events_retention")
    // the whole point: cohort comes from array_min of the per-user set,
    // never from a min-aggregate joined back onto the pairs
    assert(!p.contains("Join"), s"retention must not self-join on user:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"collect_set should plan as ObjectHashAggregate:\n$p")
    assert(p.contains("Generate"), s"explode of the bucket set missing:\n$p")
    // partial+final around the user shuffle, partial+final around the
    // (cohort, offset) shuffle — and nothing else wide
    assert(p.linesIterator.count(l => l.contains("- Exchange")) == 2,
      s"expected exactly two exchanges (user agg + final count):\n$p")
  }

  test("bfsHops: the hop rounds hide behind checkpoints; no window or cross product") {
    // each frontier expansion is an equi-join + anti-join planned per
    // round and truncated by localCheckpoint — the final plan is the
    // checkpointed distance relation, with no residual window, cartesian,
    // or full-graph re-derivation left visible
    val p = plan("q_graph_bfs")
    assert(p.contains("Scan ExistingRDD"),
      s"final distances should come from the checkpointed round frame:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"no window or cross product in the BFS result plan:\n$p")
  }

  test("token-budget selection: corpus joins the score-domain cumsum by broadcast") {
    val p = plan("q_curate_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"the distinct-score cumsum frame must broadcast to the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross product:\n$p")
    // the only single-partition exchange is the score-DOMAIN window (bounded
    // by score resolution); the corpus itself must never funnel into it —
    // i.e. at most the one SinglePartition exchange in the whole plan
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"corpus rows must not collapse to one partition:\n$p")
  }

  test("groupTopK: partial+final heap aggregation, no Sort/Window anywhere") {
    val p = plan("q_group_topk")
    // the whole point vs row_number(): the corpus never sorts — the only
    // per-group state is the k-entry heap, reduced map-side before the
    // exchange (partial + final ObjectHashAggregate pair)
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(p.linesIterator.count(_.trim.startsWith("Sort ")) == 0, s"no sort operator:\n$p")
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final heap aggregation:\n$p")
    assert(p.contains("partial_long_top_k"), s"expected map-side partial top-k:\n$p")
  }

  test("incrementalComponents: history relabel joins are broadcast, never shuffled") {
    import org.apache.spark.sql.functions._
    // 'history' stands in for the 100 TB labeling; the batch is tiny. Both
    // relabel lookups (merged-root map, batch endpoint set) must broadcast —
    // the history side of the final plan may not pay a join exchange.
    val history = spark.range(0, 200000).select(
      col("id").as("node"), (col("id") - col("id") % 2).as("component"))
    val batch = spark.range(0, 50).select(
      (col("id") * 2).as("doc_a"), (col("id") * 2 + 1000).as("doc_b"))
    val out = graft.operators.Dedup.incrementalComponents(history, batch)
    out.queryExecution.toRdd.count() // AQE decides broadcast at runtime
    // executedPlan prints Final + Initial sections; only the final counts
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast relabel of history:\n$p")
    assert(!p.contains("SortMergeJoin"), s"history must not shuffle for relabeling:\n$p")
  }

  test("temperatureMix: per-domain counts broadcast back; the corpus never shuffles for the join") {
    import org.apache.spark.sql.functions._
    val corpus = spark.range(0, 300000).select(
      col("id").as("k"), concat(lit("d"), col("id") % 7).as("dom"))
    val out = graft.operators.Sampling.temperatureMix(
      corpus, "k", "dom", graft.operators.Sampling.Temperature.Sqrt, largestRate = 0.2)
    out.queryExecution.toRdd.count() // AQE sizes the tiny count frame at runtime
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"expected the per-domain count frame to broadcast over the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle to meet its own domain counts:\n$p")
    assert(!p.contains("CartesianProduct"), s"the 1-row max folds in by broadcast:\n$p")
  }

  test("calibrateScores: no per-source window; the per-source bounds join broadcasts") {
    import org.apache.spark.sql.functions._
    val corpus = spark.range(0, 200000).select(
      col("id").as("doc_id"), concat(lit("s"), col("id") % 5).as("source"),
      (col("id") * 37 % 1000).as("score"))
    val out = graft.operators.Curation.calibrateScores(corpus, "source", "score", "doc_id")
    out.queryExecution.toRdd.count()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the 100 TB hazard this operator avoids: row_number() partitioned by a
    // low-cardinality source funnels the biggest source into ONE task
    assert(!p.contains("Window"), s"no per-source window may appear:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the per-source base/count frame to broadcast:\n$p")
  }
}
